"""Benchmark entry point.

    python3 perfbench/run.py --nominal-probe-ms 84 --workload chat_assess --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout. It stages seeded inputs under
``.perfbench_work/`` (kept out of git), runs one workload on
``local[<cores>]`` in this process, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics. Every run leaves a record
(probe readings, raw pass times, all metrics, and in a
traced run the spans and each layer's self time) in
``.perfbench_work/record-<workload>-<seed>-t<trace>.json``. A per-layer metric of
a layer the workload never calls reads 0. The exit code is 1 when an
output check fails, and 2 when the program is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from pathlib import Path


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--nominal-probe-ms", type=float, required=True,
                    help="probe time of the nominal-speed host (frozen in"
                         " BENCHMARK.json's command)")
    return ap.parse_args(argv)


def _confine_to(scratch: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``scratch``
    (each run ships a ~6 MB package zip there, for one)."""
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    # both JVMs (spark-submit's launcher and Spark's own) would otherwise
    # keep performance counters under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\""
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM it launched, and wait for every process
    this run started to exit."""
    import time

    from pyspark import SparkContext

    from sparkobs import descendants

    pids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _parse(argv)
    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    if not (root / "lingua_spark" / "__init__.py").is_file() or not (
        root / "__spark_entry__.py"
    ).is_file():
        print("perfbench: lingua_spark/ and __spark_entry__.py must be in the"
              f" current directory ({root})", file=sys.stderr)
        return 2
    sys.path[:0] = [str(root), str(root / "scripts")]

    from spans import Tracer
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = root / ".perfbench_work"
    scratch = work / f"run-{os.getpid()}"
    _confine_to(scratch)
    run = Run(args, work, Tracer(bool(args.trace)))
    try:
        e2e = WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            _shutdown(run.spark)
        shutil.rmtree(scratch, ignore_errors=True)

    run.tracer.write(
        work / f"record-{args.workload}-{args.seed}-t{args.trace}.json",
        {"per_layer": run.layer, "end_to_end": e2e,
         "steady_raw_s": run.steady_raw, "probes_ms": run.probes},
    )
    if args.trace:
        metrics = {
            m["name"]: {"value": float(run.layer.get(m["name"], 0.0)),
                        "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

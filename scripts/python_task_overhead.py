"""Per-task cost of a Python worker task, with and without ``worker_setup()``.

Runs a trivial pandas UDF (``s.str.len()``) after ``with_stable_order`` over
synthetic transcript turns, at 1, 4, 8 and 16 post-shuffle partitions, to a
noop sink. Three plans are timed:

- ``no_udf``: ``with_stable_order`` alone;
- ``stock``: the trivial UDF body as is;
- ``worker_setup``: the same body calling ``worker_setup()`` first.

``stock`` runs before any task has called ``worker_setup()``: the guard it
installs lives for the whole worker process, so once it is in, a stock body
on the same worker gains from it too. For each plan the script prints the
median pass time per partition count and the fitted per-task cost: the slope
of pass time over partition count (points with at least as many partitions
as cores), times the core count, in core-seconds per task.

    python scripts/python_task_overhead.py --turns 3000 --reps 5

Prints one table and one JSON line.
"""

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

PARTITIONS = (1, 4, 8, 16)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=3000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cores", type=int,
                    default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from lingua_spark.corpus import transcripts
    from lingua_spark.engine.pipeline import build_session, with_stable_order
    from lingua_spark.engine.udfs import ship_package, worker_setup

    spark = build_session(app="python-task-overhead",
                          master=f"local[{args.cores}]",
                          shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    # both UDF plans run with the package shipped, so both workers see the
    # same archives on their path
    ship_package(spark)

    @F.pandas_udf("int")
    def stock(s: pd.Series) -> pd.Series:
        return s.str.len()

    @F.pandas_udf("int")
    def with_setup(s: pd.Series) -> pd.Series:
        worker_setup()
        return s.str.len()

    plans = {
        "no_udf": lambda df: df,
        "stock": lambda df: df.withColumn("n", stock("text")),
        "worker_setup": lambda df: df.withColumn("n", with_setup("text")),
    }
    results: dict[str, dict] = {}
    with tempfile.TemporaryDirectory() as tmp:
        path = str(Path(tmp) / "turns.parquet")
        spark.createDataFrame(transcripts(n_turns=args.turns)).write.parquet(
            path)
        df = spark.read.parquet(path)
        for name, plan in plans.items():
            medians = {}
            for n in PARTITIONS:
                q = plan(with_stable_order(df, compute_partitions=n))

                def one_pass() -> float:
                    t = time.perf_counter()
                    q.write.format("noop").mode("overwrite").save()
                    return time.perf_counter() - t

                one_pass()  # warm-up
                medians[n] = statistics.median(
                    one_pass() for _ in range(args.reps))
            xs = [n for n in PARTITIONS if n >= args.cores]
            slope = float(np.polyfit(xs, [medians[n] for n in xs], 1)[0])
            results[name] = {
                "median_s": {str(n): round(medians[n], 3)
                             for n in PARTITIONS},
                "per_task_core_s": round(slope * args.cores, 3),
            }
    spark.stop()

    print(f"{'plan':<14}" + "".join(f"{n:>8}" for n in PARTITIONS)
          + "   per-task core-s")
    for name, r in results.items():
        print(f"{name:<14}"
              + "".join(f"{r['median_s'][str(n)]:>8.3f}" for n in PARTITIONS)
              + f"   {r['per_task_core_s']:>8.3f}")
    print(json.dumps({"turns": args.turns, "cores": args.cores,
                      "reps": args.reps, "python": sys.version.split()[0],
                      "plans": results}))


if __name__ == "__main__":
    main()

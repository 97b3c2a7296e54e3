"""Per-query isolation benchmark (guide §1.1/§1.4) — NOT used by the driver.

``bench.py`` is frozen for measurement; this harness exists so individual
queries and candidate rewrites can be timed with the noop sink and their
plans captured, without re-running the whole suite.

Usage:
    python bench_extra.py q <name> [reps]        # registry query, warm+timed
    python bench_extra.py jobs <name> [reps]     # job ledger of one pass
    python bench_extra.py explain <name>         # formatted physical plan
    python bench_extra.py sql <file.sql> [reps]  # ad-hoc Spark SQL text
    python bench_extra.py list                   # registry names
    python bench_extra.py rules [turns] [reps]   # rule-stage size ladder
    python bench_extra.py assess [turns] [reps]  # assess-stage size ladder
    python bench_extra.py detect [turns] [reps]  # per-text detector callers
    python bench_extra.py setup [reps]           # model set-up split
    python bench_extra.py kernels [docs] [reps]  # ops-kernel size ladder
    python bench_extra.py cc [reps]              # connected-components ledger

Timing policy matches bench.py: one warm-up pass, then ``reps`` timed
noop-sink passes (min + all samples reported). Data dir / cores from
$SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py.

``jobs`` is the job ledger: after one warm-up pass, each of ``reps``
(default 1) noop-sink passes runs in its own job group, and every Spark
job the pass launched is listed from the UI's REST API (id, call site =
the job's name, duration, tasks), with the jobs counted per call site
(the name's part before " at ").

``rules`` is the size ladder of the F1/F2 rule stage, in process, no Spark:
perfbench-shaped turns (``corpus.transcripts`` over perfbench's 16
languages) at 1x, 4x and 16x of ``turns`` (default 3000); over each size's
lettered rows it times the per-row form (``word_spans`` +
``detect_language_with_rules`` + ``filter_languages_mask`` when no rule
decides, one row at a time) and ``rules_batch`` by ``CHUNK_ROWS`` chunk,
min of ``reps`` (default 3), checks the two agree, and prints JSON with
the least-squares fit ``t = a + b * rows`` of each form.

``assess`` is the same kind of ladder for the four cross-row assess
stages: clean-up (``clean_up_batch`` vs one-row ``clean_up``), text stats
(``text_stats_batch`` vs ``text_stats``), the ft cross-check
(``FastTextish.predict_ords`` vs ``predict_ord_cleaned``) and perplexity
(``trigram_perplexity_batch`` vs ``trigram_perplexity``, under each row's
detected language). Each size's turns run in ``ASSESS_BATCH_ROWS``-row
batches, one task's share of ``chat_assess`` (3,000 turns, 8
partitions); every stage is timed in its batch form and through its
one-row wrapper, min of ``reps``, the two forms are checked equal, and
the JSON holds the fit ``t = a + b * rows`` of each form and stage.

``detect`` times the three callers that run the detector one text at a
time, in process, no Spark: ``Detector.confidence_values`` and
``quality.assess_text`` over ``turns`` perfbench-shaped turns (default
1500), and ``detect_multi_language`` over ``turns // 4`` texts of four
turns each, joined as ``a "b": c d`` (a quoted part and a colon between
turns). The three alternate within each of ``reps`` rounds (default 5);
the JSON holds the min and median per row (us, ms per multi-language
text), a sha256 of each caller's outputs and the mean number of potential
sections per multi-language text. A package on ``$PYTHONPATH`` is imported
ahead of this checkout's, so ``PYTHONPATH=<other checkout> python
bench_extra.py detect`` times that checkout with the same harness (the
JSON's ``package`` names the one that ran).

``setup`` splits the model set-up a detector-building process pays. Each
of ``reps`` reps (default 5) runs in a fresh Python subprocess, which
times, in order: the package import, ``model_table()``,
``packed_models()``, ``fasttextish()``, ``build_package_zip()`` (and the
zip's size), a ``local[4]`` session, the first and the second
``make_assess_udf`` and then a ``make_detect_udf``. The JSON holds every
rep and the min and median of each step. ``$PYTHONPATH`` selects the
checkout as for ``detect``; the subprocesses inherit it.

``kernels`` is the size ladder of the two cross-row ``ops`` kernels of
the dedup chain, in process, no Spark: perfbench-shaped documents
(``perfbench.inputs.documents``) at 1x, 4x and 16x of ``docs`` (default
400, what ``curate_dedup`` stages), each size as one Arrow batch. It
times the gopher gram masses (``_gopher_mass_rows`` against the frozen
per-row body ``ops_reference.gopher_masses``) and the MinHash lane minima
(``_minhash_lane_minima`` against ``ops_reference.minhash_sig``, k = 5,
over the texts cleaned by ``clean_up_batch``), min of ``reps`` (default
3), checks the two forms agree, and prints JSON with the fit
``t = a + b * rows`` of each form.

``cc`` is the connected-components ledger of the three registry entries
that cluster a pair graph (``dedup_minhash_cc``, ``conv_minhash_cc``,
``dedup_embedding_cc``) on $SPARK_GRAFT_SF_DIR. After one warm-up pass
per entry, each of ``reps`` (default 3) noop-sink passes records the
``stats`` its ``connected_components`` call filled (``rounds``,
``changed``) and its phases in wall seconds: ``before_cc_s`` (views and
pairs planning), ``init_s`` (the edge cache and initial checkpoint,
which run the pairs plan), ``pass_s`` (per E-sized pass, the settle
count then the pointer jumps and checkpoint, null on the settling pass)
and ``output_s`` (the caller's output join, run by the sink).
``$PYTHONPATH`` selects the checkout as for ``detect``.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from collections import Counter
from datetime import datetime
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))
sys.path[:0] = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _session():
    from lingua_spark.engine.pipeline import build_session

    spark = build_session(
        app="lingua-spark-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=64,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _time(mk, reps: int) -> dict:
    _noop(mk())  # warm-up (JIT, page cache) — same policy as bench.py
    samples = []
    for _ in range(reps):
        t0 = time.time()
        _noop(mk())
        samples.append(round(time.time() - t0, 3))
    return {"min": min(samples), "samples": samples}


def _job_ledger(spark, group: str) -> dict:
    sc = spark.sparkContext
    # job ends reach the status store through the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        with urllib.request.urlopen(f"{base}/{jid}", timeout=10) as r:
            j = json.load(r)
        dur = None
        if j.get("submissionTime") and j.get("completionTime"):
            t0, t1 = (datetime.strptime(j[k], "%Y-%m-%dT%H:%M:%S.%f%Z")
                      for k in ("submissionTime", "completionTime"))
            dur = round((t1 - t0).total_seconds(), 3)
        jobs.append({"id": jid, "call_site": j["name"], "duration_s": dur,
                     "tasks": j["numTasks"]})
    # "parquet at NativeMethodAccessorImpl.java:0" and "parquet at
    # <unknown>:0" are the same call site
    by_site = Counter(j["call_site"].split(" at ")[0] for j in jobs)
    return {"jobs": jobs, "n_jobs": len(jobs),
            "by_call_site": dict(by_site.most_common())}


CC_ENTRIES = ("dedup_minhash_cc", "conv_minhash_cc", "dedup_embedding_cc")


def _cc_ledger(spark, reps: int) -> dict:
    from __spark_entry__ import queries
    from lingua_spark.ops import graph

    real, calls = graph.connected_components, []

    def traced(*args, **kwargs):
        stats: dict = {}
        t0 = time.perf_counter()
        out = real(*args, stats=stats, **kwargs)
        calls.append({"cc_s": time.perf_counter() - t0, **stats})
        return out

    def r3(x):  # seconds, or lists of them; None where a phase did not run
        if isinstance(x, list):
            return [r3(v) for v in x]
        return None if x is None else round(x, 3)

    # the entries import connected_components from the module per call
    graph.connected_components = traced
    try:
        out = {}
        for name in CC_ENTRIES:
            fn = queries()[name]
            _noop(fn(spark, SF_DIR))  # warm-up
            passes = []
            for _ in range(reps):
                calls.clear()
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                t1 = time.perf_counter()
                _noop(df)
                t2 = time.perf_counter()
                (cc,) = calls
                passes.append({
                    "wall_s": r3(t2 - t0), "rounds": cc["rounds"],
                    "changed": cc["changed"],
                    "before_cc_s": r3(t1 - t0 - cc["cc_s"]),
                    "cc_s": r3(cc["cc_s"]),
                    "init_s": r3(cc.get("init_s")),
                    "pass_s": r3(cc.get("pass_s")),
                    "output_s": r3(t2 - t1),
                })
            out[name] = passes
    finally:
        graph.connected_components = real
    return {"mode": "cc", "sf_dir": SF_DIR,
            "package": str(Path(graph.__file__).parents[2]), "entries": out}


def _min_time(fn, reps: int):
    """(min wall seconds of ``reps`` calls, last result)."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return min(times), out


def _fit(sizes: list[dict], key: str) -> dict:
    """Least-squares ``t = a + b * rows`` over the ladder's sizes."""
    import numpy as np

    b, a = np.polyfit([s["rows"] for s in sizes], [s[key] for s in sizes], 1)
    return {"a_s": round(float(a), 4), "b_s_per_krow": round(float(b) * 1000, 4)}


def _ladder_turns(turns: int) -> list[str]:
    from lingua_spark import corpus
    from perfbench.inputs import TRANSCRIPT_LANGUAGES

    return list(corpus.transcripts(
        turns, languages=TRANSCRIPT_LANGUAGES, seed=11
    )["text"])


def _rules_ladder(turns: int, reps: int) -> dict:
    import numpy as np

    from lingua_spark import langdata as L
    from lingua_spark.core.rules import (
        UNKNOWN_ORD,
        detect_language_with_rules,
        filter_languages_mask,
        rules_batch,
    )
    from lingua_spark.core.text import clean_up_batch, word_spans
    from lingua_spark.engine.batch import CHUNK_ROWS
    from lingua_spark.uniscript import codes_of

    langs = tuple(l.name for l in L.LANGUAGES)

    def per_row(rows):
        out = []
        for t in rows:
            codes = codes_of(t)
            spans = word_spans(codes)
            lang = detect_language_with_rules(codes, spans, langs)
            mask = (
                filter_languages_mask(codes, spans, langs)
                if lang == L.UNKNOWN
                else None
            )
            out.append((lang, mask))
        return out

    def batch(rows):
        return [
            rules_batch(rows[c0 : c0 + CHUNK_ROWS], langs)
            for c0 in range(0, len(rows), CHUNK_ROWS)
        ]

    sizes = []
    for mult in (1, 4, 16):
        texts = _ladder_turns(turns * mult)
        rows = [t for t, ok in zip(texts, clean_up_batch(texts)[1]) if ok]
        t_row, ref = _min_time(lambda: per_row(rows), reps)
        t_batch, got = _min_time(lambda: batch(rows), reps)
        ords = np.concatenate([o for o, _ in got])
        masks = np.concatenate([m for _, m in got])
        for i, (lang, mask) in enumerate(ref):
            o = ords[i]
            assert lang == (L.UNKNOWN if o == UNKNOWN_ORD else L.LANGUAGES[o].name)
            assert mask is None or (mask == masks[i]).all()
        sizes.append({"turns": turns * mult, "rows": len(rows),
                      "per_row_s": round(t_row, 4),
                      "batch_s": round(t_batch, 4)})

    return {"mode": "rules", "reps": reps, "chunk_rows": CHUNK_ROWS,
            "sizes": sizes, "per_row_fit": _fit(sizes, "per_row_s"),
            "batch_fit": _fit(sizes, "batch_s")}


# rows per Arrow batch in the assess ladder: chat_assess's 3,000 turns
# over its 8 partitions
ASSESS_BATCH_ROWS = 375


def _assess_ladder(turns: int, reps: int) -> dict:
    from lingua_spark import langdata as L
    from lingua_spark.core.text import clean_up, clean_up_batch
    from lingua_spark.engine.batch import BatchDetector
    from lingua_spark.quality import (
        text_stats,
        text_stats_batch,
        trigram_perplexity,
        trigram_perplexity_batch,
    )
    from lingua_spark.resources import fasttextish, packed_models

    models, ft = packed_models(), fasttextish()
    bdet = BatchDetector(models=models)
    sizes = []
    for mult in (1, 4, 16):
        rows = _ladder_turns(turns * mult)
        texts = [rows[c0 : c0 + ASSESS_BATCH_ROWS]
                 for c0 in range(0, len(rows), ASSESS_BATCH_ROWS)]
        cleaned = [clean_up_batch(t)[0] for t in texts]
        ords = [[L.ORDINAL.get(n, -1) for n in bdet.detect_rows(t)]
                for t in texts]
        # stage -> (batch form, one-row form) of batch i
        forms = {
            "clean_up": (
                lambda i: clean_up_batch(texts[i])[0],
                lambda i: [clean_up(t) for t in texts[i]],
            ),
            "text_stats": (
                lambda i: text_stats_batch(texts[i]),
                lambda i: [text_stats(t) for t in texts[i]],
            ),
            "ft_predict": (
                lambda i: ft.predict_ords(cleaned[i]).tolist(),
                lambda i: [ft.predict_ord_cleaned(c) for c in cleaned[i]],
            ),
            "perplexity": (
                lambda i: trigram_perplexity_batch(
                    cleaned[i], ords[i], models
                ).tolist(),
                lambda i: [
                    trigram_perplexity(c, o, models) if o >= 0 else float("inf")
                    for c, o in zip(cleaned[i], ords[i])
                ],
            ),
        }
        size = {"turns": len(rows), "rows": len(rows)}
        for name, (batch, one_row) in forms.items():
            t_batch, got = _min_time(
                lambda: [x for i in range(len(texts)) for x in batch(i)], reps
            )
            t_row, want = _min_time(
                lambda: [x for i in range(len(texts)) for x in one_row(i)], reps
            )
            assert got == want, name
            size[f"{name}.batch_s"] = round(t_batch, 4)
            size[f"{name}.one_row_s"] = round(t_row, 4)
        sizes.append(size)

    fits = {k[:-2]: _fit(sizes, k) for k in sizes[0] if k.endswith("_s")}
    return {"mode": "assess", "reps": reps,
            "batch_rows": ASSESS_BATCH_ROWS, "sizes": sizes, "fits": fits}


def _kernels_ladder(docs: int, reps: int) -> dict:
    sys.path.insert(0, str(REPO / "tests"))
    import ops_reference as ref

    from lingua_spark.core.text import clean_up_batch
    from lingua_spark.ops.queries import _gopher_mass_rows, _minhash_lane_minima
    from perfbench.inputs import documents

    def masses_batch(rows):
        masses, has = _gopher_mass_rows(rows)
        return [tuple(m) if h else (None,) * len(m)
                for m, h in zip(masses.tolist(), has.tolist())]

    sizes = []
    for mult in (1, 4, 16):
        rows = list(documents(docs * mult, seed=1)["text"])
        cleaned = clean_up_batch(rows)[0]
        ks = [5] * len(rows)
        forms = {
            "gopher_masses": (lambda: masses_batch(rows),
                              lambda: ref.gopher_masses(rows)),
            "minhash": (lambda: _minhash_lane_minima(cleaned, ks),
                        lambda: ref.minhash_sig(cleaned, ks)),
        }
        size = {"rows": len(rows)}
        for name, (batch, per_row) in forms.items():
            t_batch, got = _min_time(batch, reps)
            t_row, want = _min_time(per_row, reps)
            assert got == want, name
            size[f"{name}.batch_s"] = round(t_batch, 4)
            size[f"{name}.per_row_s"] = round(t_row, 4)
        sizes.append(size)

    fits = {k[:-2]: _fit(sizes, k) for k in sizes[0] if k.endswith("_s")}
    return {"mode": "kernels", "reps": reps, "sizes": sizes, "fits": fits}


def _detect_callers(turns: int, reps: int) -> dict:
    import hashlib
    import statistics

    import lingua_spark
    from lingua_spark.core.detector import Detector
    from lingua_spark.core.multilang import (
        detect_multi_language,
        split_potential_sections,
    )
    from lingua_spark.quality import QualityConfig, assess_text
    from lingua_spark.resources import fasttextish, packed_models

    models, ft, cfg = packed_models(), fasttextish(), QualityConfig()
    det = Detector(models=models, languages=cfg.languages)
    rows = _ladder_turns(turns)
    multi = [f'{a} "{b}": {c} {d}' for a, b, c, d in zip(*[iter(rows)] * 4)]
    callers = {
        "confidence_values": (rows, det.confidence_values),
        "assess_text": (rows, lambda t: assess_text(t, det, ft, cfg)),
        "detect_multi_language": (
            multi, lambda t: detect_multi_language(t, det)
        ),
    }
    for texts, fn in callers.values():  # warm-up
        for t in texts[:20]:
            fn(t)
    times: dict[str, list[float]] = {name: [] for name in callers}
    digests = {}
    for _ in range(reps):
        for name, (texts, fn) in callers.items():
            t0 = time.perf_counter()
            out = [fn(t) for t in texts]
            times[name].append((time.perf_counter() - t0) / len(texts))
            digests[name] = hashlib.sha256(repr(out).encode()).hexdigest()
    scale = {"confidence_values": 1e6, "assess_text": 1e6,
             "detect_multi_language": 1e3}
    return {
        "mode": "detect",
        "package": str(Path(lingua_spark.__file__).parent),
        "turns": len(rows), "multi_texts": len(multi), "reps": reps,
        "potential_sections_per_text": round(statistics.mean(
            len(split_potential_sections(t)) for t in multi), 2),
        "unit": {"confidence_values": "us/row", "assess_text": "us/row",
                 "detect_multi_language": "ms/text"},
        "min": {k: round(min(v) * scale[k], 2) for k, v in times.items()},
        "median": {k: round(statistics.median(v) * scale[k], 2)
                   for k, v in times.items()},
        "sha256": digests,
    }


def _setup_once() -> dict:
    """One cold model set-up, timed step by step (run in a fresh process)."""
    import importlib

    t = {}

    def step(name, fn):
        t0 = time.perf_counter()
        out = fn()
        t[name] = round(time.perf_counter() - t0, 4)
        return out

    resources = step("import_s", lambda: importlib.import_module(
        "lingua_spark.resources"))
    from lingua_spark.engine.udfs import (
        build_package_zip,
        make_assess_udf,
        make_detect_udf,
    )
    from lingua_spark.engine.pipeline import build_session

    step("model_table_s", resources.model_table)
    step("packed_models_s", resources.packed_models)
    step("fasttextish_s", resources.fasttextish)
    zip_path = step("build_package_zip_s", build_package_zip)
    t["zip_mb"] = round(os.path.getsize(zip_path) / 1e6, 2)
    os.remove(zip_path)
    spark = step("session_s", lambda: build_session(
        app="lingua-spark-bench-extra-setup", master="local[4]"))
    spark.sparkContext.setLogLevel("ERROR")
    step("make_assess_udf_1_s", lambda: make_assess_udf(spark))
    step("make_assess_udf_2_s", lambda: make_assess_udf(spark))
    step("make_detect_udf_s", lambda: make_detect_udf(spark))
    spark.stop()
    return {"package": str(Path(resources.__file__).parent), "times": t}


def _setup_split(reps: int) -> dict:
    import statistics
    import subprocess

    runs = []
    for _ in range(reps):
        out = subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "_setup_once"],
            check=True, capture_output=True, text=True,
        ).stdout
        runs.append(json.loads(out.strip().splitlines()[-1]))
    package = runs[0]["package"]
    runs = [r["times"] for r in runs]
    return {
        "mode": "setup", "package": package, "reps": reps,
        "min": {k: min(r[k] for r in runs) for k in runs[0]},
        "median": {k: round(statistics.median(r[k] for r in runs), 4)
                   for k in runs[0]},
        "runs": runs,
    }


def main() -> None:
    mode = sys.argv[1]
    if mode == "_setup_once":
        print(json.dumps(_setup_once()))
        return
    if mode == "setup":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
        print(json.dumps(_setup_split(reps)))
        return
    if mode == "detect":
        turns = int(sys.argv[2]) if len(sys.argv) > 2 else 1500
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
        print(json.dumps(_detect_callers(turns, reps)))
        return
    if mode == "rules":
        turns = int(sys.argv[2]) if len(sys.argv) > 2 else 3000
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        print(json.dumps(_rules_ladder(turns, reps)))
        return
    if mode == "kernels":
        docs = int(sys.argv[2]) if len(sys.argv) > 2 else 400
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        print(json.dumps(_kernels_ladder(docs, reps)))
        return
    if mode == "assess":
        turns = int(sys.argv[2]) if len(sys.argv) > 2 else 3000
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        print(json.dumps(_assess_ladder(turns, reps)))
        return
    spark = _session()
    if mode == "list":
        from __spark_entry__ import queries

        print("\n".join(queries()))
        return
    if mode == "cc":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        print(json.dumps(_cc_ledger(spark, reps)))
        return
    if mode == "sql":
        from lingua_spark.ops.queries import register_views

        register_views(spark, SF_DIR)
        text = Path(sys.argv[2]).read_text()
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        spark.sparkContext.setJobDescription(f"bench_extra sql {sys.argv[2]}")
        out = _time(lambda: spark.sql(text), reps)
        print(json.dumps({"sql": sys.argv[2], **out}))
        return
    name = sys.argv[2]
    from __spark_entry__ import queries

    fn = queries()[name]
    if mode == "explain":
        fn(spark, SF_DIR).explain("formatted")
        return
    if mode == "jobs":
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 1
        _noop(fn(spark, SF_DIR))  # warm-up
        passes = []
        for i in range(reps):
            group = f"bench_extra-jobs-{name}-{i}"
            spark.sparkContext.setJobGroup(group, group)
            t0 = time.time()
            _noop(fn(spark, SF_DIR))
            wall = round(time.time() - t0, 3)
            spark.sparkContext.setJobGroup(None, None)
            passes.append({"wall_s": wall, **_job_ledger(spark, group)})
        print(json.dumps({"query": name, "sf_dir": SF_DIR, "passes": passes}))
        return
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark.sparkContext.setJobDescription(f"bench_extra {name}")
    out = _time(lambda: fn(spark, SF_DIR), reps)
    print(json.dumps({"query": name, **out}))


if __name__ == "__main__":
    main()

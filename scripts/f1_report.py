"""100k-turn keep/drop + scrub F1 report (BASELINE.json headline metric).

Runs the FULL Spark pipeline (with_stable_order -> assess_turns, the same
path as __spark_entry__.entry) over a >=100k-turn transcript table mapped
from the accuracy-corpus vocabulary (lingua's accuracy-report corpus
re-expressed onto the BASELINE input_hint transcript shape, with injected
noise/PII rows), then scores every turn against INDEPENDENT reference
labels: language detection from the pure-Python dict oracle
(lingua_spark.oracle.OracleDetector — plain-dict lookups, separate scoring
code) finished through the shared decision/scrub stage, exactly like the
driver's quality_pipeline_summary fixture oracle.

Reports, per BASELINE.json ("Per-turn keep/drop+scrub F1 >= 0.99"):
- keep/drop F1 + agreement (Spark vs oracle labels)
- scrubbed-text exact-match rate
- language agreement (Spark vs oracle) and accuracy vs the TRUE generation
  language, with a Spark-side confusion matrix (reports.spark_confusion)
- Spark pipeline throughput for the run

Writes BENCH/F1_100k.md (committed) and prints the summary.

Usage: python scripts/f1_report.py [n_turns] [out_md]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

N_TURNS = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
OUT = Path(sys.argv[2]) if len(sys.argv) > 2 else REPO / "BENCH" / "F1_100k.md"


def f1(tp: int, fp: int, fn: int) -> float:
    return 2 * tp / max(2 * tp + fp + fn, 1)


_ORA = _MODELS = _FT = _CFG = None


def _label_chunk(texts: list[str]) -> list[tuple[bool, str, str]]:
    from lingua_spark.core.text import clean_up_batch
    from lingua_spark.quality import assess_confidences

    texts = [t if isinstance(t, str) else "" for t in texts]
    rows = assess_confidences(
        texts,
        [_ORA.confidence_values(t) for t in texts],
        clean_up_batch(texts)[0],
        _CFG.minimum_relative_distance,
        _MODELS,
        _FT,
        _CFG,
    )
    return [(bool(r["keep"]), r["scrubbed_text"], r["lang"]) for r in rows]


def main() -> None:
    import pandas as pd

    from lingua_spark import langdata as L
    from lingua_spark.corpus import transcripts
    from lingua_spark.engine.pipeline import (
        assess_turns,
        build_session,
        with_stable_order,
    )
    from lingua_spark.oracle import OracleDetector
    from lingua_spark.quality import QualityConfig
    from lingua_spark.resources import fasttextish, oracle_tables, packed_models

    pdf = transcripts(n_turns=N_TURNS, with_labels=True)
    n = len(pdf)
    print(f"mapped corpus: {n} turns, {pdf.conv_id.nunique()} conversations")

    spark = build_session(app="f1-report")
    spark.sparkContext.setLogLevel("ERROR")
    sdf = spark.createDataFrame(pdf.drop(columns=["true_lang"]))
    t0 = time.time()
    assessed = assess_turns(spark, with_stable_order(sdf), QualityConfig(), 32)
    res = (
        assessed.select("conv_id", "turn_idx", "lang", "keep", "scrubbed_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    spark_secs = time.time() - t0
    print(f"spark pipeline: {spark_secs:.1f}s = {n / spark_secs:,.0f} turns/s")

    # independent reference labels: dict-oracle detection + shared finish.
    # ~47 turns/s single-process (pure-Python dict lookups over 79
    # languages), so fan out over fork()ed workers — the oracle dicts and
    # packed models are copy-on-write-shared from the parent.
    global _ORA, _MODELS, _FT, _CFG
    _ORA = OracleDetector(tables=oracle_tables())
    _MODELS = packed_models()
    _FT = fasttextish()
    _CFG = QualityConfig()
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(pdf) == len(res)
    t0 = time.time()
    import multiprocessing as mp
    import os

    texts = pdf["text"].tolist()
    nproc = min(32, os.cpu_count() or 8)
    chunks = [texts[i::nproc] for i in range(nproc)]
    with mp.get_context("fork").Pool(nproc) as pool:
        chunk_results = pool.map(_label_chunk, chunks)
    # chunks are strided (i::nproc); re-interleave back to row order
    want_keep = [None] * n
    want_scrub = [None] * n
    want_lang = [None] * n
    for i, rows_i in enumerate(chunk_results):
        for j, (k, s, lg) in enumerate(rows_i):
            pos = i + j * nproc
            want_keep[pos] = k
            want_scrub[pos] = s
            want_lang[pos] = lg
    oracle_secs = time.time() - t0
    print(f"oracle labels: {oracle_secs:.1f}s = {n / oracle_secs:,.0f} turns/s")

    got_keep = res["keep"].astype(bool).to_numpy()
    tp = int(sum(g and w for g, w in zip(got_keep, want_keep)))
    fp = int(sum(g and not w for g, w in zip(got_keep, want_keep)))
    fn = int(sum(w and not g for g, w in zip(got_keep, want_keep)))
    tn = n - tp - fp - fn
    keep_f1 = f1(tp, fp, fn)
    drop_f1 = f1(tn, fn, fp)
    scrub_ok = int(sum(g == w for g, w in zip(res["scrubbed_text"], want_scrub)))

    def iso(name: str) -> str:
        return "unknown" if name == L.UNKNOWN else L.BY_NAME[name].iso1

    lang_ok = int(
        sum(g == iso(w) for g, w in zip(res["lang"], want_lang))
    )

    # accuracy vs TRUE generation language (content turns only) + Spark
    # confusion matrix over (true, predicted)
    content = pdf["true_lang"].isin([l.name for l in L.LANGUAGES]).to_numpy()
    true_iso = [
        iso(t) if t in L.BY_NAME else t for t in pdf["true_lang"]
    ]
    true_ok = int(
        sum(
            g == t
            for g, t, c in zip(res["lang"], true_iso, content)
            if c
        )
    )
    n_content = int(content.sum())

    from lingua_spark.reports import spark_confusion

    conf_in = pd.DataFrame(
        {
            "lang": [t for t, c in zip(true_iso, content) if c],
            "category": "turn",
            "predicted": [g for g, c in zip(res["lang"], content) if c],
        }
    )
    conf = spark_confusion(spark, conf_in).toPandas()
    spark.stop()
    mis = (
        conf[conf.lang != conf.predicted]
        .sort_values("n", ascending=False)
        .head(15)
    )
    per_lang = (
        conf.assign(ok=conf.lang == conf.predicted)
        .groupby("lang")
        .apply(
            lambda g: 100.0 * g[g.ok].n.sum() / g.n.sum(), include_groups=False
        )
        .round(2)
    )

    lines = [
        "# Keep/drop + scrub F1 on a 100k-turn mapped corpus",
        "",
        f"Generated by `scripts/f1_report.py {N_TURNS}` — full Spark pipeline",
        "(`with_stable_order` -> `assess_turns`, the `entry()` path) vs",
        "independent dict-oracle reference labels (`OracleDetector` +",
        "shared finish), per BASELINE.json's headline metric.",
        "",
        f"- turns: **{n:,}** ({pdf.conv_id.nunique():,} conversations,",
        f"  {n_content:,} content turns / {n - n_content:,} injected noise+PII)",
        f"- Spark pipeline: **{spark_secs:.1f} s = {n / spark_secs:,.0f} turns/s**"
        " (local[32], includes createDataFrame+collect overhead)",
        f"- oracle labeling: {oracle_secs:.1f} s ({n / oracle_secs:,.0f} turns/s,"
        " single-process pure Python)",
        "",
        "## Per-turn agreement vs reference labels",
        "",
        "| metric | value | target |",
        "|---|---|---|",
        f"| keep F1 | **{keep_f1:.6f}** (tp={tp:,} fp={fp} fn={fn}) | >= 0.99 |",
        f"| drop F1 | **{drop_f1:.6f}** (tn={tn:,}) | >= 0.99 |",
        f"| scrubbed text exact match | **{scrub_ok:,}/{n:,}"
        f" = {scrub_ok / n:.6f}** | 1.0 |",
        f"| language agreement (spark vs oracle) | {lang_ok:,}/{n:,}"
        f" = {lang_ok / n:.6f} | >= 0.99 |",
        "",
        "## Language accuracy vs TRUE generation language",
        "",
        f"Content turns correctly labeled: **{true_ok:,}/{n_content:,} ="
        f" {100.0 * true_ok / n_content:.2f}%** (2-13 word turns across all"
        " 79 languages; noise/PII turns excluded — they have no true"
        " language).",
        "",
        f"Per-language accuracy: min {per_lang.min():.1f}% ("
        f"{per_lang.idxmin()}), median {per_lang.median():.1f}%,"
        f" mean {per_lang.mean():.2f}%.",
        "",
        "Top confusions (true -> predicted, Spark-side groupBy confusion"
        " matrix):",
        "",
        "| true | predicted | n |",
        "|---|---|---|",
    ]
    for r in mis.itertuples():
        lines.append(f"| {r.lang} | {r.predicted} | {r.n} |")
    OUT.parent.mkdir(parents=True, exist_ok=True)
    OUT.write_text("\n".join(lines) + "\n")
    print(f"wrote {OUT}")
    print(
        f"keep_f1={keep_f1:.6f} drop_f1={drop_f1:.6f}"
        f" scrub={scrub_ok / n:.6f} lang_agree={lang_ok / n:.6f}"
        f" true_acc={100.0 * true_ok / n_content:.2f}%"
    )


if __name__ == "__main__":
    main()

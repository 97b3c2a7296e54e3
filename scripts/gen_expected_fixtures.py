"""Generate expected-output Parquet fixtures for the four non-SQL queries
so the driver's DuckDB oracle gate can check them (VERDICT r01 item 2):

- ann_lsh_topk            <- NumPy re-computation (ops.similarity.expected_ann_topk)
- detect_language_counts  <- pure-Python dict oracle (lingua_spark.oracle)
- quality_pipeline_summary<- dict-oracle detection + shared quality functions
- multilang_sections      <- core.multilang over the dict oracle

Each fixture is the expected result at ONE sf dir (the driver runs the
correctness gate at sf0.01). oracle_sql() for these queries is then
``SELECT ... FROM read_parquet('<fixture>')``. The expectations are
computed WITHOUT Spark — the gate therefore checks the whole Spark
distribution layer (UDFs, broadcasts, shuffles) against an independent
single-process computation.

Usage: python scripts/gen_expected_fixtures.py [sf_dir] [out_dir]
Re-run after regenerating models/corpora (model-dependent fixtures change).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = Path(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
OUT_DIR = Path(sys.argv[2] if len(sys.argv) > 2 else REPO / "tests" / "fixtures")


def iso(name: str) -> str:
    from lingua_spark import langdata as L

    return "unknown" if name == L.UNKNOWN else L.BY_NAME[name].iso1


def gen_ann() -> pd.DataFrame:
    from lingua_spark.ops.similarity import expected_ann_topk

    emb = pd.read_parquet(SF_DIR / "embeddings.parquet")
    return expected_ann_topk(emb)


def gen_ivf() -> pd.DataFrame:
    from lingua_spark.ops.similarity import expected_ivf_topk

    emb = pd.read_parquet(SF_DIR / "embeddings.parquet")
    return expected_ivf_topk(emb)


def gen_neardup() -> pd.DataFrame:
    from lingua_spark.ops.similarity import expected_neardup_pairs

    emb = pd.read_parquet(SF_DIR / "embeddings.parquet")
    return expected_neardup_pairs(emb)


def gen_embedding_cc() -> pd.DataFrame:
    from lingua_spark.ops.similarity import expected_embedding_cc

    emb = pd.read_parquet(SF_DIR / "embeddings.parquet")
    return expected_embedding_cc(emb)


def gen_semdedup() -> pd.DataFrame:
    from lingua_spark.ops.similarity import expected_semdedup

    emb = pd.read_parquet(SF_DIR / "embeddings.parquet")
    return expected_semdedup(emb)


def gen_semdedup_cell_sizes() -> pd.DataFrame:
    from lingua_spark.ops.similarity import expected_semdedup_cell_sizes

    emb = pd.read_parquet(SF_DIR / "embeddings.parquet")
    return expected_semdedup_cell_sizes(emb)


def gen_neardup_hot_buckets() -> pd.DataFrame:
    from lingua_spark.ops.similarity import expected_neardup_hot_buckets

    emb = pd.read_parquet(SF_DIR / "embeddings.parquet")
    return expected_neardup_hot_buckets(emb)


def gen_detect_counts(docs: pd.DataFrame) -> pd.DataFrame:
    from lingua_spark.oracle import OracleDetector
    from lingua_spark.resources import oracle_tables

    ora = OracleDetector(tables=oracle_tables())
    langs = [iso(ora.detect(t)) for t in docs["text"]]
    out = (
        pd.Series(langs, name="detected_lang")
        .value_counts()
        .rename_axis("detected_lang")
        .reset_index(name="n_docs")
    )
    return out[["detected_lang", "n_docs"]]


def gen_detect_per_doc(docs: pd.DataFrame) -> pd.DataFrame:
    """Per-document detection fixture (VERDICT r03 item 4): the dict
    oracle's decision for every doc_id — grades the detector per row, not
    per aggregate."""
    from lingua_spark.oracle import OracleDetector
    from lingua_spark.resources import oracle_tables

    ora = OracleDetector(tables=oracle_tables())
    rows = [
        (int(doc_id), iso(ora.detect(t if isinstance(t, str) else "")))
        for doc_id, t in zip(docs["doc_id"], docs["text"])
    ]
    return pd.DataFrame(rows, columns=["doc_id", "detected_lang"]).astype(
        {"doc_id": "int64"}
    )


def oracle_assessments(docs: pd.DataFrame) -> list[dict]:
    """Quality assessment of every document with the dict oracle's
    confidences in place of the detector's."""
    from lingua_spark.core.text import clean_up_batch
    from lingua_spark.oracle import OracleDetector
    from lingua_spark.quality import QualityConfig, assess_confidences
    from lingua_spark.resources import fasttextish, oracle_tables, packed_models

    ora = OracleDetector(tables=oracle_tables())
    cfg = QualityConfig()
    texts = [t if isinstance(t, str) else "" for t in docs["text"]]
    return assess_confidences(
        texts,
        [ora.confidence_values(t) for t in texts],
        clean_up_batch(texts)[0],
        cfg.minimum_relative_distance,
        packed_models(),
        fasttextish(),
        cfg,
    )


def gen_quality_summary(docs: pd.DataFrame) -> pd.DataFrame:
    """Replicates documents_as_transcripts + assess_turns + groupBy(lang):
    detection via the dict oracle, finishing via the shared quality
    functions (quality.assess_confidences — same code the UDF runs, fed
    with oracle confidences)."""
    rows = []
    # documents_as_transcripts: conv = doc_id % 50, turn = doc_id / 50 —
    # every (conv, turn) is unique, so stable-order dedup keeps all rows.
    for r in oracle_assessments(docs):
        rows.append(
            (
                iso(r["lang"]),
                1,
                int(bool(r["keep"])),
                int(r["n_scrubbed"] > 0),
            )
        )
    df = pd.DataFrame(rows, columns=["lang", "n_turns", "kept", "scrubbed"])
    return (
        df.groupby("lang", as_index=False)
        .sum()
        .astype({"n_turns": "int64", "kept": "int64", "scrubbed": "int64"})
    )


def gen_quality_flag_counts(docs: pd.DataFrame) -> pd.DataFrame:
    """Pure-Python twin of ops.queries.quality_flag_counts: the dict
    oracle's detection + the shared quality functions, flags exploded and
    counted."""
    from collections import Counter

    counts: Counter[str] = Counter()
    for r in oracle_assessments(docs):
        counts.update(r["quality_flags"] or ["_clean"])
    return pd.DataFrame(
        sorted(counts.items()), columns=["flag", "n_turns"]
    ).astype({"n_turns": "int64"})


def gen_detect_confusion(docs: pd.DataFrame) -> pd.DataFrame:
    """Pure-Python twin of ops.queries.detect_confusion: dict-oracle
    decision vs the stored label, aggregated to pair counts."""
    from collections import Counter

    from lingua_spark.oracle import OracleDetector
    from lingua_spark.resources import oracle_tables

    ora = OracleDetector(tables=oracle_tables())
    counts: Counter[tuple[str, str]] = Counter()
    for lang, t in zip(docs["lang"], docs["text"]):
        det = iso(ora.detect(t if isinstance(t, str) else ""))
        counts[(str(lang), det)] += 1
    rows = [(a, b, n) for (a, b), n in sorted(counts.items())]
    return pd.DataFrame(
        rows, columns=["true_lang", "detected_lang", "n_docs"]
    ).astype({"n_docs": "int64"})


def gen_multilang(docs: pd.DataFrame) -> pd.DataFrame:
    """Sections from the DICT oracle (VERDICT r02 item 6): the engine UDF
    runs core.multilang over the NumPy-packed Detector; this fixture runs
    the same section logic over OracleDetector (plain-dict lookups,
    independent scoring path) — the gate then checks detection semantics,
    not just Spark plumbing. Bit-identical by the 3-way parity invariant
    (np.add.reduceat summation on both sides)."""
    from lingua_spark.core.multilang import detect_multi_language
    from lingua_spark.oracle import OracleDetector
    from lingua_spark.resources import oracle_tables

    det = OracleDetector(tables=oracle_tables())
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        secs = detect_multi_language(text if isinstance(text, str) else "", det)
        first = iso(secs[0]["lang"]) if secs else None
        rows.append((int(doc_id), len(secs), first))
    return pd.DataFrame(
        rows, columns=["doc_id", "n_sections", "first_section_lang"]
    ).astype({"doc_id": "int64", "n_sections": "int32"})


def gen_multimodal() -> pd.DataFrame:
    """Single-process twin of ops.multimodal.multimodal_features_summary
    (VERDICT r04 item 4): the same pure per-row functions (feature_row,
    frame_rows) over the same deterministic synthetic media — the Spark
    gate then checks the distribution layer (mapInPandas, Arrow binary
    batching, expand-join, per-row corruption fallback); the decode
    arithmetic itself is value-asserted by the decoder unit tests."""
    import zlib

    from lingua_spark.ops.multimodal import (
        feature_row,
        frame_rows,
        synth_media_mixed,
    )

    rows = []
    for mid, kind, payload, mime, _w, _h, dur in synth_media_mixed():
        feats, ok, sha = feature_row(bytes(payload), mime)
        frs = frame_rows(mid, kind, bytes(payload), dur, 4)
        crc = sum(zlib.crc32(f[3]) for f in frs)
        rows.append(
            (mid, kind, ok, sha, *[float(x) for x in feats[:4]],
             len(frs), crc)
        )
    return pd.DataFrame(
        rows,
        columns=[
            "media_id", "kind", "decode_ok", "payload_sha",
            "f0", "f1", "f2", "f3", "n_frames", "frames_crc",
        ],
    ).astype(
        {"media_id": "int32", "n_frames": "int64", "frames_crc": "int64"}
    )


def main() -> None:
    OUT_DIR.mkdir(parents=True, exist_ok=True)
    docs = pd.read_parquet(SF_DIR / "documents.parquet")
    targets = {
        "ann_lsh_topk": gen_ann,
        "ann_ivf_topk": gen_ivf,
        "dedup_embedding_neardup": gen_neardup,
        "dedup_embedding_neardup_hot_buckets": gen_neardup_hot_buckets,
        "dedup_embedding_cc": gen_embedding_cc,
        "dedup_semantic": gen_semdedup,
        "dedup_semantic_cell_sizes": gen_semdedup_cell_sizes,
        "detect_language_counts": lambda: gen_detect_counts(docs),
        "detect_language_per_doc": lambda: gen_detect_per_doc(docs),
        "quality_pipeline_summary": lambda: gen_quality_summary(docs),
        "quality_flag_counts": lambda: gen_quality_flag_counts(docs),
        "detect_confusion": lambda: gen_detect_confusion(docs),
        "multilang_sections": lambda: gen_multilang(docs),
        "multimodal_features": gen_multimodal,
    }
    only = set(sys.argv[3:]) if len(sys.argv) > 3 else None
    for name, fn in targets.items():
        if only and name not in only:
            continue
        df = fn()
        path = OUT_DIR / f"expected_{name}.parquet"
        df.to_parquet(path, index=False)
        print(f"wrote {path} rows={len(df)} cols={list(df.columns)}")


if __name__ == "__main__":
    main()

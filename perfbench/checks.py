"""Output checks. Each runs once per run, outside every timed pass."""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pandas as pd

ASSESS_FIELDS = ["lang", "keep", "quality_flags", "scrubbed_text", "perplexity"]


def _cell(v) -> str:
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "|".join(str(x) for x in v)
    return str(v)


def assessment_digest(keys, rows) -> str:
    """Order-insensitive digest of (key, assessment) pairs over
    ``ASSESS_FIELDS``; ``rows`` are mappings holding those fields."""
    lines = sorted(
        "\x1f".join([str(k)] + [_cell(r[f]) for f in ASSESS_FIELDS])
        for k, r in zip(keys, rows)
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def in_process_assessments(texts: list[str]) -> list[dict]:
    """``quality.assess_batch`` in this process with the Spark UDF's default
    configuration, languages mapped to ISO codes as the UDF maps them."""
    from lingua_spark.engine.batch import BatchDetector
    from lingua_spark.engine.udfs import _iso
    from lingua_spark.quality import QualityConfig, assess_batch
    from lingua_spark.resources import fasttextish, packed_models

    cfg = QualityConfig()
    bdet = BatchDetector(models=packed_models(), languages=cfg.languages)
    rows = assess_batch(texts, bdet, fasttextish(), cfg)
    for r in rows:
        r["lang"] = _iso(r["lang"])
    return rows


def sample_matches_assess_text(texts: list[str], batch_rows: list[dict],
                               n_sample: int = 32) -> bool:
    """A fixed, evenly spaced sample of the batch results must equal the
    per-row reference path ``quality.assess_text``."""
    from lingua_spark.core.detector import Detector
    from lingua_spark.engine.udfs import _iso
    from lingua_spark.quality import QualityConfig, assess_text
    from lingua_spark.resources import fasttextish, packed_models

    cfg = QualityConfig()
    det = Detector(models=packed_models(), languages=cfg.languages)
    step = max(1, len(texts) // n_sample)
    for i in range(0, len(texts), step):
        want = assess_text(texts[i], det, fasttextish(), cfg)
        want["lang"] = _iso(want["lang"])
        if any(_cell(want[f]) != _cell(batch_rows[i][f]) for f in ASSESS_FIELDS):
            return False
    return True


def oracle_matches(spark_pdf: pd.DataFrame, oracle_sql: str,
                   sf_dir: Path) -> bool:
    """Rows, column names and order-insensitive value hash against the
    DuckDB oracle text, compared as ``scripts/validate_oracles.py`` does."""
    import duckdb
    from validate_oracles import norm_hash

    con = duckdb.connect()
    try:
        for p in sorted(sf_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        want = con.execute(oracle_sql).df()
    finally:
        con.close()
    return (
        sorted(spark_pdf.columns) == sorted(want.columns)
        and len(spark_pdf) == len(want)
        and norm_hash(spark_pdf) == norm_hash(want)
    )


def pipeline_output_digest(data_dir: Path) -> str:
    """Digest of a ``run_pipeline`` output directory (hive-partitioned
    Parquet), keyed by (conv_id, turn_idx, partition_id)."""
    import pyarrow.dataset as ds

    t = ds.dataset(str(data_dir), format="parquet",
                   partitioning="hive").to_table().to_pandas()
    keys = list(zip(t["conv_id"], t["turn_idx"], t["partition_id"]))
    return assessment_digest(keys, t.to_dict("records"))

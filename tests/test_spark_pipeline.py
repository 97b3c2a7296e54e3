"""Spark end-to-end: per-turn parity vs oracle (F1 >= 0.99 target from
BASELINE.json — measured here as exact agreement), stable ordering,
checkpoint-resume, salted conversation stats."""

import json

import numpy as np
import pandas as pd
import pytest

from lingua_spark import langdata as L
from lingua_spark.corpus import transcripts
from lingua_spark.engine.pipeline import (
    assess_turns,
    conversation_stats,
    run_pipeline,
    with_stable_order,
)
from lingua_spark.oracle import OracleDetector
from lingua_spark.quality import QualityConfig, assess_text


N_TURNS = 400


@pytest.fixture(scope="module")
def assessed(spark):
    pdf = transcripts(n_turns=N_TURNS)
    df = spark.createDataFrame(pdf)
    out = assess_turns(spark, with_stable_order(df), QualityConfig(), 8)
    res = out.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return pdf, res


def _iso(name):
    return "unknown" if name == L.UNKNOWN else L.BY_NAME[name].iso1


def test_per_turn_parity_f1(assessed, oracle_tables, ft_model):
    """Spark keep/drop + scrubbed text vs pure-Python oracle, per turn."""
    pdf, res = assessed
    from lingua_spark.core.detector import Detector
    from lingua_spark.resources import packed_models

    det = Detector(models=packed_models())
    cfg = QualityConfig()
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(pdf) == len(res)
    keep_match = scrub_match = lang_match = 0
    for (row, got) in zip(pdf.itertuples(index=False), res.itertuples(index=False)):
        want = assess_text(row.text, det, ft_model, cfg)
        keep_match += want["keep"] == got.keep
        scrub_match += want["scrubbed_text"] == got.scrubbed_text
        lang_match += _iso(want["lang"]) == got.lang
    n = len(pdf)
    assert keep_match / n >= 0.99
    assert scrub_match == n  # scrubbed text must match exactly
    assert lang_match / n >= 0.99


def test_oracle_agreement_f1_on_accuracy_corpus(packed_models, oracle_tables):
    """F1 of engine keep-relevant signal (language) vs oracle labels."""
    from lingua_spark.core.detector import Detector
    from lingua_spark.corpus import accuracy_corpus

    det = Detector(models=packed_models)
    ora = OracleDetector(tables=oracle_tables)
    acc = accuracy_corpus(per_category=2)
    agree = sum(det.detect(t) == ora.detect(t) for t in acc.text)
    assert agree / len(acc) >= 0.99


def test_stable_order_dedups_duplicate_turns(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c1"],
            "turn_idx": np.array([0, 0, 1], dtype="int32"),
            "role": ["user", "assistant", "user"],
            "text": ["first copy", "dup copy", "second turn"],
            "tool": ["", "", ""],
            "ts": pd.to_datetime(
                ["2025-01-01 00:00:00", "2025-01-01 00:00:05", "2025-01-01 00:01:00"]
            ),
        }
    )
    out = with_stable_order(spark.createDataFrame(pdf)).toPandas()
    assert len(out) == 2
    assert set(out.text) == {"first copy", "second turn"}


def test_pipeline_checkpoint_resume(spark, tmp_path):
    pdf = transcripts(n_turns=120)
    df = spark.createDataFrame(pdf)
    out = tmp_path / "run"
    res1 = run_pipeline(spark, df, out, n_partitions=4, waves=2)
    assert sorted(res1["processed_partitions"]) == [0, 1, 2, 3]
    data = spark.read.parquet(str(out / "data"))
    assert data.count() == len(pdf.drop_duplicates(["conv_id", "turn_idx"]))
    # lineage + metrics exist per partition
    assert len(list((out / "lineage").glob("partition-*.json"))) == 4
    assert len(list((out / "metrics").glob("partition-*.json"))) == 4
    # resume: nothing left to do
    res2 = run_pipeline(spark, df, out, n_partitions=4, waves=2)
    assert res2["processed_partitions"] == []
    assert res2["skipped_partitions"] == [0, 1, 2, 3]
    # partial resume: delete one lineage record -> only that partition reruns
    (out / "lineage" / "partition-00002.json").unlink()
    res3 = run_pipeline(spark, df, out, n_partitions=4, waves=2)
    assert res3["processed_partitions"] == [2]


def test_pipeline_wave_metrics(spark, tmp_path):
    """Each metrics row carries its wave's seconds and rate: the wave's
    total rows over the wave's seconds, the same for every partition of
    the wave (a per-partition rate over the wave's time would understate
    the rate by about the wave size)."""
    pdf = transcripts(n_turns=120)
    out = tmp_path / "run"
    run_pipeline(spark, spark.createDataFrame(pdf), out, n_partitions=4,
                 waves=2)
    waves: dict[float, list[dict]] = {}
    for p in sorted((out / "metrics").glob("partition-*.json")):
        met = json.loads(p.read_text())
        lin = json.loads((out / "lineage" / p.name).read_text())
        assert "turns_per_sec" not in met
        assert 0 < met["wave_s"] <= lin["finished_at"] - lin["started_at"]
        waves.setdefault(lin["started_at"], []).append(met)
    assert len(waves) == 2
    total = 0
    for rows in waves.values():
        assert len(rows) == 2
        assert len({(m["wave_s"], m["wave_turns_per_sec"]) for m in rows}) == 1
        wave_rows = sum(m["rows"] for m in rows)
        assert rows[0]["wave_turns_per_sec"] * rows[0]["wave_s"] == (
            pytest.approx(wave_rows))
        total += wave_rows
    assert total == len(pdf.drop_duplicates(["conv_id", "turn_idx"]))


def test_skewed_conversation_partitioning(spark):
    """North rule: skew handling. One conversation owning half of all
    turns must NOT hot-spot a partition — with_stable_order keys the
    shuffle on (conv_id, turn_idx), so the unit of distribution is the
    turn, not the conversation."""
    import pandas as pd
    from pyspark.sql import functions as F

    rows = []
    ts = pd.Timestamp("2025-01-01")
    for t in range(4000):  # one viral conversation: 50% of all turns
        rows.append(("conv-viral", t, "user", f"turn number {t}", "", ts))
    for c in range(400):  # 400 normal conversations x 10 turns
        for t in range(10):
            rows.append((f"conv-{c:04d}", t, "user", f"text {c} {t}", "", ts))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).astype({"turn_idx": "int32"})
    df = with_stable_order(spark.createDataFrame(pdf), compute_partitions=8)
    sizes = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .toPandas()
    )
    assert len(sizes) == 8
    assert sizes["count"].max() <= 2.0 * sizes["count"].mean()


def test_conversation_stats_salted(spark, assessed):
    _, res = assessed
    df = spark.createDataFrame(res[["conv_id", "turn_idx", "keep"]])
    stats = conversation_stats(df).toPandas()
    assert stats.turns.sum() == len(res)
    assert ((stats.kept <= stats.turns) & (stats.keep_rate <= 1.0)).all()


def test_post_filter_agg_single_udf_eval(spark):
    """VERDICT r03 item 1: the natural filter-then-aggregate composition
    (`assessed.filter("keep").groupBy("lang").count()`) used to compile to
    TWO ArrowEvalPython stages — Catalyst re-extracted the (expensive)
    assess UDF on both sides of the Filter because pandas UDFs default to
    deterministic. The factories now mark the UDFs asNondeterministic,
    forcing a single evaluation; this pins that plan shape."""
    from pyspark.sql import functions as F

    from lingua_spark.engine.udfs import make_assess_udf

    pdf = transcripts(n_turns=40)
    df = spark.createDataFrame(pdf)
    assess = make_assess_udf(spark)
    assessed = df.withColumn("a", assess(F.col("text"))).select(
        "conv_id", "turn_idx", "a.lang", "a.keep"
    )
    composed = assessed.filter("keep").groupBy("lang").count()
    plan = composed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    # and the composition still computes the right thing
    got = composed.toPandas()
    assert (got["count"] > 0).all()


def test_flagship_plan_shape(spark):
    """Plan gate (VERDICT r03 item 7): the flagship pipeline over parquet
    documents must compile to the published shape (EXPLAINS.md) — a
    pruned parquet scan, exactly ONE Exchange (the stable-order shuffle),
    and exactly ONE ArrowEvalPython (the assess UDF). A second Exchange
    or UDF evaluation is a scale regression, not a correctness one —
    hence a plan assertion, not a value test."""
    from lingua_spark.engine.pipeline import assess_turns, with_stable_order
    from lingua_spark.ops.queries import documents_as_transcripts

    tdf = documents_as_transcripts(spark, "/root/testdata/sf0.001")
    out = assess_turns(spark, with_stable_order(tdf), None, 8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("Scan parquet") == 1, plan
    # column pruning reaches the scan: only the 2 needed columns are read
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_output_schema(assessed):
    _, res = assessed
    expected = {
        "conv_id", "turn_idx", "lang", "confidence", "confidences",
        "perplexity", "langid_agree", "quality_flags", "keep",
        "scrubbed_text", "n_scrubbed", "partition_id",
    }
    assert expected == set(res.columns)

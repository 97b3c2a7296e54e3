"""The transcript quality-filter pipeline (north rule, BASELINE.json).

Reads a transcript table ``(conv_id, turn_idx, role, text, tool, ts)``,
enforces stable turn ordering via a window over (conv_id, turn_idx),
assesses every turn with the broadcast-model pandas UDF, and writes
Parquet partitioned by a hash-bucket ``partition_id`` with per-partition
lineage + metrics side tables. Runs are checkpoint-resumable: committed
partitions (lineage status=committed) are skipped on re-run.

Scale design (100 TB / 10^12 turns):
- the only required shuffle is the per-conversation window; conv_id skew is
  bounded because the window state is one row_number counter per key, and
  AQE skew-join/partition-coalescing is enabled by the session factory.
- conversation-level aggregations go through ``conversation_stats`` which
  pre-aggregates on a salted key before the final combine (two-phase agg),
  so a conversation owning 20% of turns cannot hot-spot one reducer.
- model lookup is a broadcast (no join against a model table), the analog
  of the reference's shared in-memory model registry.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..quality import QualityConfig
from .udfs import make_assess_udf

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

OUTPUT_COLUMNS = [
    "conv_id", "turn_idx", "lang", "confidence", "confidences", "perplexity",
    "langid_agree", "quality_flags", "keep", "scrubbed_text", "partition_id",
]


def build_session(
    app: str = "lingua-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE right-size the output partitioning of persisted
        # intermediates too (off by default): the engine's one-pass
        # twins persist aggregate/shingle tables whose natural size is
        # data-dependent — without this every cached table is pinned at
        # the session's shuffle.partitions and downstream stages
        # schedule that many near-empty tasks (guide §2.2); with it the
        # cached partition count tracks bytes, which also gives
        # ops/graph.py's size-adaptive round partitioning its signal
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", "8g")
    )
    if master:
        b = b.master(master)
    return b.getOrCreate()


def with_stable_order(
    df: DataFrame, compute_partitions: int | None = None
) -> DataFrame:
    """Stable turn ordering + duplicate-turn dedup: row_number over
    (conv_id, turn_idx) ordered by (ts, role) keeps the first copy of each
    (conv_id, turn_idx) deterministically (north rule).

    The explicit ``repartition(N, keys)`` BEFORE the window serves two
    purposes with a single exchange: (1) the window's required clustering
    on (conv_id, turn_idx) is already satisfied, so Catalyst adds no
    second Exchange; (2) N is CPU-derived (not AQE byte-coalesced), so the
    downstream compute-dense / byte-light assess-UDF stage inherits full
    parallelism. Round 1 shipped a second full repartition() of the raw
    text after the window — at 100 TB that is a second full shuffle of
    the dataset; this shape shuffles the text exactly once."""
    if compute_partitions is None:
        compute_partitions = (
            df.sparkSession.sparkContext.defaultParallelism * 2
        )
    df = df.repartition(compute_partitions, "conv_id", "turn_idx")
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("ts").asc_nulls_last(), F.col("role").asc_nulls_last()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def assess_turns(
    spark: SparkSession,
    df: DataFrame,
    config: QualityConfig | None = None,
    n_partitions: int = 64,
) -> DataFrame:
    """Assess every turn with the broadcast-model Arrow UDF. Expects input
    partitioning from ``with_stable_order`` (CPU-sized, keyed on
    (conv_id, turn_idx)) and adds no shuffle of its own — the UDF, the
    partition_id stamp, and the projection are all narrow."""
    assess = make_assess_udf(spark, config)
    out = (
        df.withColumn(
            "partition_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_partitions))
        )
        .withColumn("q", assess(F.col("text")))
        .select(
            "conv_id",
            "turn_idx",
            F.col("q.lang").alias("lang"),
            F.col("q.confidence").alias("confidence"),
            F.col("q.confidences").alias("confidences"),
            F.col("q.perplexity").alias("perplexity"),
            F.col("q.langid_agree").alias("langid_agree"),
            F.col("q.quality_flags").alias("quality_flags"),
            F.col("q.keep").alias("keep"),
            F.col("q.scrubbed_text").alias("scrubbed_text"),
            F.col("q.n_scrubbed").alias("n_scrubbed"),
            "partition_id",
        )
    )
    return out


def conversation_stats(df: DataFrame, n_salt: int = 16) -> DataFrame:
    """Per-conversation keep-rate with skew-safe two-phase (salted) agg."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_salt))
    )
    partial = salted.groupBy("conv_id", "_salt").agg(
        F.count("*").alias("c"),
        F.sum(F.col("keep").cast("long")).alias("k"),
    )
    return partial.groupBy("conv_id").agg(
        F.sum("c").alias("turns"),
        F.sum("k").alias("kept"),
        (F.sum("k") / F.sum("c")).alias("keep_rate"),
    )


def _committed_partitions(lineage_dir: Path) -> set[int]:
    done: set[int] = set()
    if lineage_dir.exists():
        for p in lineage_dir.glob("partition-*.json"):
            try:
                rec = json.loads(p.read_text())
            except json.JSONDecodeError:
                continue
            if rec.get("status") == "committed":
                done.add(int(rec["partition_id"]))
    return done


def run_pipeline(
    spark: SparkSession,
    input_df: DataFrame,
    output_dir: str | Path,
    config: QualityConfig | None = None,
    n_partitions: int = 16,
    waves: int = 4,
    resume: bool = True,
) -> dict:
    """Checkpoint-resumable batch run. Partitions are processed in waves;
    each wave is one Spark job writing ``data/partition_id=N/`` directories
    plus one lineage JSON and one metrics row per partition. A metrics
    row holds the partition's own counts and its wave's seconds
    (``wave_s``) and rate (``wave_turns_per_sec``): the partitions of a
    wave run in one job, so they have no time of their own. A killed run
    resumes by skipping partitions whose lineage is committed."""
    out = Path(output_dir)
    data_dir = out / "data"
    lineage_dir = out / "lineage"
    metrics_dir = out / "metrics"
    lineage_dir.mkdir(parents=True, exist_ok=True)
    metrics_dir.mkdir(parents=True, exist_ok=True)

    committed = _committed_partitions(lineage_dir) if resume else set()
    remaining = [p for p in range(n_partitions) if p not in committed]
    # Stamp the partition bucket on the RAW input and filter each wave
    # BEFORE the stable-order shuffle and the assess UDF: a wave then
    # shuffles and scores only its own slice. (Round-1 shape filtered the
    # ASSESSED stream, which re-ran the full window shuffle per wave and
    # the full UDF twice per wave — write + stats — i.e. ~2*waves x the
    # necessary work; measured 1.9k vs 23k turns/s at 600k turns.)
    bucketed = input_df.withColumn(
        "_pid", F.pmod(F.xxhash64("conv_id"), F.lit(n_partitions))
    )

    wave_size = max(1, (len(remaining) + waves - 1) // waves) if remaining else 1
    processed = []
    for i in range(0, len(remaining), wave_size):
        wave = remaining[i : i + wave_size]
        t0 = time.time()
        sub = bucketed.filter(
            F.col("_pid").isin([int(x) for x in wave])
        ).drop("_pid")
        wave_df = assess_turns(
            spark, with_stable_order(sub), config, n_partitions
        )
        wave_df.write.mode("overwrite").partitionBy("partition_id").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(str(data_dir))
        # stats from the WRITTEN files (partition-pruned read) instead of
        # re-running the UDF stage a second time
        stats = (
            spark.read.parquet(str(data_dir))
            .filter(F.col("partition_id").isin([int(x) for x in wave]))
            .groupBy("partition_id")
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.col("keep").cast("long")).alias("kept"),
                F.sum((~F.col("keep")).cast("long")).alias("dropped"),
                F.sum((F.col("n_scrubbed") > 0).cast("long")).alias("scrubbed"),
            )
            .collect()
        )
        elapsed = time.time() - t0
        by_pid = {int(r["partition_id"]): r for r in stats}
        wave_rows = sum(int(r["rows"]) for r in stats)
        wave_tps = wave_rows / elapsed if elapsed > 0 else 0.0
        for pid in wave:
            r = by_pid.get(pid)
            rows = int(r["rows"]) if r else 0
            rec = {
                "partition_id": pid,
                "status": "committed",
                "rows": rows,
                "started_at": t0,
                "finished_at": time.time(),
            }
            (lineage_dir / f"partition-{pid:05d}.json").write_text(json.dumps(rec))
            met = {
                "partition_id": pid,
                "rows": rows,
                "kept": int(r["kept"]) if r else 0,
                "dropped": int(r["dropped"]) if r else 0,
                "scrubbed": int(r["scrubbed"]) if r else 0,
                "wave_s": elapsed,
                "wave_turns_per_sec": wave_tps,
            }
            (metrics_dir / f"partition-{pid:05d}.json").write_text(json.dumps(met))
            processed.append(pid)

    return {
        "processed_partitions": processed,
        "skipped_partitions": sorted(committed),
        "output": str(data_dir),
    }

"""Structured Streaming quality filter.

The reference is purely batch (SURVEY.md §2: no streaming); this is the
north-rule deployment mode for continuously arriving transcript turns:
``readStream`` on a transcript directory -> the same broadcast-model assess
UDF -> ``writeStream`` to partitioned Parquet with a checkpoint. Watermark
on ``ts`` bounds state for the windowed per-conversation metrics stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine.udfs import make_assess_udf, worker_setup
from .quality import QualityConfig

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string,"
    " tool string, ts timestamp"
)


def stream_assess(
    spark: SparkSession,
    input_dir: str,
    config: QualityConfig | None = None,
    n_partitions: int = 16,
) -> DataFrame:
    """Streaming DataFrame of assessed turns from a parquet directory."""
    assess = make_assess_udf(spark, config)
    src = spark.readStream.schema(TRANSCRIPT_DDL).parquet(input_dir)
    return (
        src.withColumn(
            "partition_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_partitions))
        )
        .withColumn("q", assess(F.col("text")))
        .select(
            "conv_id", "turn_idx", "ts",
            F.col("q.lang").alias("lang"),
            F.col("q.keep").alias("keep"),
            F.col("q.scrubbed_text").alias("scrubbed_text"),
            "partition_id",
        )
    )


def run_stream_once(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    config: QualityConfig | None = None,
) -> None:
    """Drain all available input once (Trigger.AvailableNow) and stop —
    the batch-incremental deployment shape; restart resumes from the
    checkpoint."""
    out = stream_assess(spark, input_dir, config)
    q = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stateful_conversation_tracker(
    spark: SparkSession,
    input_dir: str,
    config: QualityConfig | None = None,
    drop_streak_limit: int = 3,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): tracks
    per-conversation running keep/drop counts and the current consecutive-
    drop streak across micro-batches; a conversation whose streak reaches
    ``drop_streak_limit`` is flagged for quarantine. The reference has no
    streaming at all (SURVEY.md §2 'not present'); this is the north-rule
    deployment shape for continuously arriving turns."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    assessed = stream_assess(spark, input_dir, config)

    out_schema = (
        "conv_id string, turns long, kept long, dropped long,"
        " drop_streak long, quarantined boolean"
    )
    state_schema = "turns long, kept long, streak long"

    def track(key, pdfs, state: GroupState):
        worker_setup()
        import pandas as pd

        turns = kept = streak = 0
        if state.exists:
            turns, kept, streak = state.get
        # concatenate the key's chunks BEFORE sorting: one conversation's
        # batch rows can arrive split across several chunks, and a
        # per-chunk sort would walk turns in chunk order, not turn order
        frames = list(pdfs)
        if frames:
            pdf = frames[0] if len(frames) == 1 else pd.concat(frames)
            for k in pdf.sort_values("turn_idx")["keep"]:
                turns += 1
                if k:
                    kept += 1
                    streak = 0
                else:
                    streak += 1
        state.update((turns, kept, streak))

        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "turns": [turns],
                "kept": [kept],
                "dropped": [turns - kept],
                "drop_streak": [streak],
                "quarantined": [streak >= drop_streak_limit],
            }
        )

    return (
        assessed.groupBy("conv_id")
        .applyInPandasWithState(
            track,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def session_window_metrics(
    spark: SparkSession,
    input_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    config: QualityConfig | None = None,
) -> DataFrame:
    """Streaming sessionization (the W1 boundary-split analog on a live
    stream): per-conversation SESSION windows that close after ``gap`` of
    inactivity, aggregating turn count and keep count per session. State
    is bounded by the watermark — sessions older than ``watermark`` are
    finalized and emitted; late turns beyond it are dropped. The batch
    twin is the w1_sessionize SQL query (lag + running sum); Spark's
    native session_window replaces that window cascade on streams."""
    assessed = stream_assess(spark, input_dir, config)
    return (
        assessed.withWatermark("ts", watermark)
        .groupBy("conv_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        )
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "turns",
            "kept",
        )
    )


def windowed_keep_metrics(
    spark: SparkSession,
    input_dir: str,
    config: QualityConfig | None = None,
) -> DataFrame:
    """Tumbling 10-minute keep-rate metrics with a 30-minute watermark
    (late turns beyond the watermark are dropped from the aggregate)."""
    assessed = stream_assess(spark, input_dir, config)
    return (
        assessed.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        )
    )


def streaming_exact_dedup(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming exact dedup, first-seen-wins: turns are keyed by the
    64-bit hash of their text and a stateful operator
    (``applyInPandasWithState``) keeps a per-hash seen-count across
    micro-batches, emitting every turn with ``is_dup`` (a copy of a text
    seen earlier — in this batch or any previous one) and its occurrence
    index. Deployment shape: the filter in FRONT of the assess UDF, so
    duplicate turns never pay the detector. State is O(1) per distinct
    text (one long), partitioned by hash — shuffle-parallel and skew-free.
    Within a micro-batch, first-seen is defined by (ts, conv_id,
    turn_idx) order, so results are deterministic.

    Batch twin with a DuckDB oracle: ``dedup_exact_flags`` in
    ops/queries.py (row_number over text by doc_id on the static table).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = spark.readStream.schema(TRANSCRIPT_DDL).parquet(input_dir)
    keyed = src.withColumn("text_hash", F.xxhash64("text"))

    out_schema = (
        "text_hash long, conv_id string, turn_idx int, is_dup boolean,"
        " occurrence long"
    )
    state_schema = "n_seen long"

    def flag(key, pdfs, state: GroupState):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        # Spark may deliver one key's batch rows in SEVERAL chunks:
        # concatenate before sorting, or first-seen order would depend on
        # chunk boundaries instead of (ts, conv_id, turn_idx).
        frames = list(pdfs)
        if not frames:
            state.update((int(n),))
            return
        pdf = frames[0] if len(frames) == 1 else pd.concat(frames)
        pdf = pdf.sort_values(["ts", "conv_id", "turn_idx"])
        occ = n + 1 + pd.RangeIndex(len(pdf)).to_numpy()
        n += len(pdf)
        state.update((int(n),))
        yield pd.DataFrame(
            {
                "text_hash": pdf["text_hash"].to_numpy(),
                "conv_id": pdf["conv_id"].to_numpy(),
                "turn_idx": pdf["turn_idx"].to_numpy(),
                "is_dup": occ > 1,
                "occurrence": occ,
            }
        )

    return keyed.groupBy("text_hash").applyInPandasWithState(
        flag,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

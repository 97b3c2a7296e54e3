"""Incremental exact dedup with a broadcast Bloom prefilter — flag which
documents of an INCOMING batch already exist in a large standing corpus.

The steady state of a production curation pipeline is not "dedup 100 TB
against itself once" but "dedup today's crawl against the 100 TB already
ingested". The naive shape joins the full corpus against the batch on the
text hash — a complete corpus shuffle for every incremental batch. The
scale-honest shape is the classic Bloom semi-join reduction:

1. Build a Bloom filter over the SMALL side (the incoming batch's text
   hashes). The bitmap is built distributedly — positions -> (word,
   bit-mask) -> ``groupBy(word).agg(bit_or)`` — so the driver only ever
   collects ``m/64`` longs (bounded by the FILTER size, never by the
   batch), then broadcasts the packed ``numpy.uint64`` bitmap.
2. Scan the corpus ONCE, computing the k probe positions JVM-side
   (``xxhash64(text_hash, seed_j) % m`` — whole-stage codegen) and
   testing membership in an Arrow-batched pandas UDF over the broadcast
   bitmap (vectorized bit tests, no per-row Python). Rows failing any
   probe are dropped BEFORE any shuffle — at a 1% batch-to-corpus ratio
   that eliminates ~99% of corpus rows pre-exchange.
3. Exact-confirm join: only the Bloom survivors (corpus side, now tiny)
   are shuffled against the batch on the text hash, and matches are
   verified on the full text. Bloom false positives die here; Bloom
   filters have no false negatives, so the result is EXACT.

Because step 3 makes the output exact, the DuckDB oracle is a plain
equality join — the gate proves the whole prefilter machinery is
semantics-free, which is the point.

The incoming batch is carved deterministically from the documents table
(doc_id % 10 == 0 plays "today's crawl"; the rest plays the standing
corpus), so tests and benchmarks need no external data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries import _cleaned, register_views

BLOOM_BITS = 1 << 20  # m: 128 KiB bitmap — sized for ~50k keys at k=4
BLOOM_K = 4  # probes per key


def _halves(spark_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(corpus, incoming) split of the documents table with the cleaned
    text and its 64-bit hash precomputed."""
    base = spark_df.selectExpr(
        "doc_id",
        f"{_cleaned('spark')} AS c",
    ).withColumn("h", F.xxhash64("c"))
    return (
        base.filter(F.col("doc_id") % 10 != 0),
        base.filter(F.col("doc_id") % 10 == 0),
    )


def _bloom_bitmap(incoming: DataFrame) -> np.ndarray:
    """Distributed Bloom build: k probe positions per key, packed into
    uint64 words via groupBy(word).bit_or — collect is bounded at
    BLOOM_BITS/64 rows regardless of batch size."""
    probes = incoming.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64("h", F.lit(j)), F.lit(BLOOM_BITS))
                    for j in range(BLOOM_K)
                ]
            )
        ).alias("pos")
    )
    words = (
        probes.select(
            (F.col("pos") / 64).cast("long").alias("word"),
            # F.shiftleft takes a Python-int bit count; a per-row shift
            # needs the SQL form
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bitmap = np.zeros(BLOOM_BITS // 64, dtype=np.uint64)
    for r in words:
        # bit_or returns a SIGNED long; mask before the unsigned cast so a
        # set bit 63 doesn't overflow numpy's strict uint64 conversion
        bitmap[r.word] = np.uint64(r.bits & 0xFFFFFFFFFFFFFFFF)
    return bitmap


def dedup_incremental_bloom(
    spark: SparkSession, sf_dir: str, release_cache: bool = True
) -> DataFrame:
    """Per incoming document: (doc_id, is_dup, dup_of) where is_dup means
    the cleaned text already exists in the standing corpus and dup_of is
    the smallest matching corpus doc_id (NULL when new).

    The incoming slice is persisted so its scan+clean runs ONCE: the
    Bloom-bitmap build materializes the cache and the exact-confirm join
    reads it back — the corpus side remains the only full scan, honoring
    the module's "scan the corpus ONCE" contract. ``release_cache=True``
    (default) eagerly materializes the batch-sized result and releases
    the cache before returning (``jaccard_pairs_df`` hygiene contract);
    pass ``False`` to keep the lazy plan (caller owns the release)."""
    from pyspark import StorageLevel

    from ..engine.udfs import ship_package, worker_setup

    register_views(spark, sf_dir)
    ship_package(spark)
    docs = spark.table("documents")
    corpus, incoming = _halves(docs)
    incoming = incoming.persist(StorageLevel.MEMORY_AND_DISK)

    bc = spark.sparkContext.broadcast(_bloom_bitmap(incoming))

    # k probe positions JVM-side; only the bit test crosses into Python,
    # Arrow-batched and fully vectorized.
    probe_cols = [
        F.pmod(F.xxhash64("h", F.lit(j)), F.lit(BLOOM_BITS)).alias(f"p{j}")
        for j in range(BLOOM_K)
    ]

    # pandas UDFs take a FIXED arity (no *args); BLOOM_K probe columns
    # arrive as one positional Series each
    @F.pandas_udf("boolean")
    def might_contain(
        p0: pd.Series, p1: pd.Series, p2: pd.Series, p3: pd.Series
    ) -> pd.Series:
        worker_setup()
        bm = bc.value
        ok = np.ones(len(p0), dtype=bool)
        for p in (p0, p1, p2, p3):
            v = p.to_numpy(dtype=np.int64)
            word = bm[v >> 6]
            ok &= (word >> (v & 63).astype(np.uint64)) & np.uint64(1) != 0
        return pd.Series(ok)

    assert BLOOM_K == 4, "might_contain arity is pinned to BLOOM_K"

    survivors = (
        corpus.select("doc_id", "c", "h", *probe_cols)
        .filter(might_contain(*[F.col(f"p{j}") for j in range(BLOOM_K)]))
        .select(F.col("doc_id").alias("corpus_id"), "c", "h")
    )

    # Exact-confirm join on (hash, text): Bloom FPs die here. The
    # survivor set is batch-sized, so this shuffle is small by
    # construction; at a small batch-to-corpus ratio Spark's AQE will
    # usually broadcast the incoming side outright.
    matched = (
        incoming.alias("i")
        .join(
            survivors.alias("s"),
            (F.col("i.h") == F.col("s.h")) & (F.col("i.c") == F.col("s.c")),
            "left",
        )
        .groupBy(F.col("i.doc_id").alias("doc_id"))
        .agg(F.min("s.corpus_id").alias("dup_of"))
    )
    out = matched.select(
        "doc_id", F.col("dup_of").isNotNull().alias("is_dup"), "dup_of"
    )
    if not release_cache:
        from .queries import _attach_release

        return _attach_release(
            out, lambda: incoming.unpersist(blocking=False)
        )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        incoming.unpersist(blocking=False)


def incremental_oracle_sql() -> str:
    """DuckDB oracle: the Bloom prefilter cannot change the answer, so the
    truth is a plain min-match left join on cleaned text."""
    c = _cleaned("duckdb")
    return f"""
WITH base AS (SELECT doc_id, {c} AS c FROM documents),
corpus AS (SELECT * FROM base WHERE doc_id % 10 != 0),
incoming AS (SELECT * FROM base WHERE doc_id % 10 = 0)
SELECT i.doc_id,
       min(cp.doc_id) IS NOT NULL AS is_dup,
       min(cp.doc_id) AS dup_of
FROM incoming i LEFT JOIN corpus cp ON i.c = cp.c
GROUP BY i.doc_id
"""

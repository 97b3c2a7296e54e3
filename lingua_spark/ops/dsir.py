"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023; public paper) over hashed n-gram features.

The standard trained-selection recipe when you have a TARGET domain
(here: the quality-teacher-passing subset — the same teacher the NB
classifier distills, so the two learned tiers share a decision
boundary) and a huge RAW corpus: fit bag-of-hashed-ngram unigram
models of both, weight every raw document by its log importance ratio
z = sum_b n_doc[b] * (ln p_target[b] - ln p_raw[b]), then resample k
documents without replacement with probability ∝ exp(z) via the Gumbel
top-k trick (key = z + Gumbel(0,1), keep the k largest keys).

Numeric discipline (same as ``ops/classifier.py``): the per-bucket log
ratio and the per-doc Gumbel noise are FIXED-POINT integers
(floor(x * 10^6) as BIGINT), so the per-document importance score is an
EXACT integer sum — float summation order differs between Spark's
partial-agg tree and DuckDB's fold, and a float score would
hash-mismatch on ulp noise. The only float steps are the
per-DISTINCT-bucket ``ln`` (4096 rows, not corpus-sized) and the
per-doc Gumbel transform of an md5-derived uniform (one deterministic
value per doc_id in both engines — ``-ln(-ln((h+1)/(2^32+1)))``).

Scale shape (100 TB):

1. ONE corpus pass builds the per-(doc_id, keep, bucket) occurrence
   table ``occ`` (the feature explode — unigrams + bigrams via
   zip_with, no per-element lambda — reduced by a map-side-combinable
   groupBy) and ``occ`` is PERSISTED. Both distributions derive from
   it: the 4096-row ``counts`` is one aggregate over the cache, never
   a re-run of the explode. The plain SQL form of the same pipeline
   (``dsir_keyed_sql`` — kept verbatim as the DuckDB oracle text)
   re-inlines the ``feats`` CTE three times (occ + counts×2 via
   tot/lam), i.e. three full corpus scans + explodes; the DF path here
   (``dsir_keyed_df``) is the canonical engine shape with exactly one.
2. The λ weight table is 4096 rows and is BROADCAST into the scoring
   join — the corpus-side explode never shuffles on the (maximally
   skewed) bucket key; the only corpus exchange is groupBy(doc_id).
3. Top-k runs the same two-phase distributed-threshold shape as
   ``ops/budget.py``: coarse-bucket histogram (bucket width chosen
   ADAPTIVELY from one min/max aggregate so the driver collect is
   provably <= _COARSE_CAP rows whatever the key range — see
   ``_coarse_width``) collected to the driver,
   prefix-scan finds the boundary coarse bucket, rows above pass with
   no sort, and ONLY the boundary bucket is range-partitioned and
   window-ranked with per-partition driver offsets. Gumbel keys are
   ~unique per doc, so no coarse bucket can degenerate to the whole
   corpus the way an all-one-score quality histogram can.

The DuckDB oracle is the INDEPENDENT naive form — the same keyed CTE
ranked by one global ``row_number()`` window — so the gate proves the
distributed top-k decomposition equals the textbook definition row for
row. Reference anchor: selection tier alongside SURVEY §2 A6/K2
(reporting + decision operators); no Kotlin analog — the reference has
no corpus-selection layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

N_BUCKETS = 4096  # 3 md5 nibbles
FP_SCALE = 1_000_000
COARSE = 1 << 20  # minimum fixed-point-key -> coarse-bucket width
_COARSE_CAP = 65536  # hard bound on driver-collected histogram rows


def _coarse_width(lo, hi, cap: int = _COARSE_CAP) -> int:
    """Smallest power-of-two multiple of COARSE whose bucket count over
    the closed key range [lo, hi] is <= cap — bounds the driver-side
    histogram collect by construction (the fixed >>20 shift's bucket
    count grew with the key RANGE, unbounded for heavy-tailed corpora).
    Pure integers, None-safe (empty relation -> COARSE)."""
    if lo is None or hi is None:
        return COARSE
    width = COARSE
    while (int(hi) - int(lo)) // width + 1 > cap:
        width *= 2
    return width

_HEX = "'0123456789abcdef'"


def _nib(h: str, i: int) -> str:
    """0-15 value of the i-th (1-based) hex nibble of ``h`` — portable
    across Spark and DuckDB (both lack a shared hex->int builtin)."""
    return f"(instr({_HEX}, substring({h}, {i}, 1)) - 1)"


def _bucket(h: str) -> str:
    """First 3 nibbles of an md5 hex digest -> bucket in [0, 4096)."""
    return f"({_nib(h, 1)} * 256 + {_nib(h, 2)} * 16 + {_nib(h, 3)})"


def _gumbel_fp(dialect: str) -> str:
    """floor(Gumbel(0,1) * 10^6) from a deterministic md5 uniform of
    doc_id: u = (first-8-nibble integer + 1) / (2^32 + 1) in (0, 1)
    strictly open, g = -ln(-ln(u)). Same md5 hex in both engines, so
    the same doc always draws the same noise (retry-safe, rerunnable)."""
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    h = f"md5(concat('dsir:', CAST(doc_id AS {cast})))"
    u_int = " + ".join(  # CAST: 15 * 16^7 overflows 32-bit INT in Spark
        f"CAST({_nib(h, i)} AS BIGINT) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return (
        f"CAST(floor(-ln(-ln((({u_int}) + 1.0) / 4294967297.0))"
        f" * {FP_SCALE}.0) AS BIGINT)"
    )


def dsir_keyed_sql(dialect: str) -> str:
    """(doc_id, z_fp, sample_key_fp): fixed-point DSIR importance score
    and Gumbel-perturbed resampling key per document. Shared verbatim by
    the Spark engine (which tops-k it distributed) and the DuckDB oracle
    (which ranks it with one naive global window)."""
    from .classifier import _labeled
    from .queries import _tokens, _word_ngrams  # noqa: F401 (dialect fns)

    ln_f = "size" if dialect == "spark" else "len"
    unnest = "explode" if dialect == "spark" else "unnest"
    cat = "concat" if dialect == "spark" else "list_concat"
    bigrams = _word_ngrams(dialect, "t", 2)
    hint = "/*+ BROADCAST(m) */ " if dialect == "spark" else ""
    return f"""
WITH labeled AS ({_labeled(dialect)}),
docs2 AS (
  SELECT doc_id, keep, t FROM labeled
  WHERE greatest(coalesce({ln_f}(t), 0), 0) > 0
),
feats AS (
  SELECT doc_id, keep, {_bucket("md5(g)")} AS b
  FROM (
    SELECT doc_id, keep, {unnest}(fa) AS g
    FROM (SELECT doc_id, keep, {cat}(t, {bigrams}) AS fa FROM docs2) fx
  ) gx
),
counts AS (
  SELECT b,
         CAST(count(*) AS BIGINT) AS raw_n,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS tgt_n
  FROM feats GROUP BY b
),
tot AS (
  SELECT sum(raw_n) AS r_tot, sum(tgt_n) AS t_tot FROM counts
),
lam AS (
  SELECT b,
         CAST(floor((ln((tgt_n + 1.0) / (t_tot + {N_BUCKETS}))
                     - ln((raw_n + 1.0) / (r_tot + {N_BUCKETS})))
                    * {FP_SCALE}.0) AS BIGINT) AS w_fp
  FROM counts CROSS JOIN tot
),
occ AS (
  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
  FROM feats GROUP BY doc_id, b
),
z AS (
  SELECT {hint}o.doc_id, CAST(sum(o.c * m.w_fp) AS BIGINT) AS z_fp
  FROM occ o JOIN lam m ON o.b = m.b
  GROUP BY o.doc_id
)
SELECT doc_id, z_fp,
       CAST(z_fp + {_gumbel_fp(dialect)} AS BIGINT) AS sample_key_fp
FROM z
"""


def dsir_oracle_sql(keep_frac_den: int = 4) -> str:
    """DuckDB oracle: the textbook Gumbel-top-k — ONE global
    row_number() window over the shared keyed CTE, k = n // 4."""
    return f"""
WITH keyed AS ({dsir_keyed_sql("duckdb")}),
n AS (SELECT count(*) AS n FROM keyed),
r AS (
  SELECT doc_id, z_fp, sample_key_fp,
         row_number() OVER (ORDER BY sample_key_fp DESC, doc_id) AS rk
  FROM keyed
)
SELECT doc_id, z_fp, sample_key_fp,
       CAST(rk <= (SELECT n // {keep_frac_den} FROM n) AS BOOLEAN) AS keep
FROM r
"""


def _make_dsir_occ_udf():
    """Arrow-batched scalar pandas UDF ``t -> array<struct<b,c>>``: the
    per-document (bucket, count) occurrence list over hashed unigram +
    bigram features — the in-kernel Counter replaces the corpus-sized
    feature explode, the per-OCCURRENCE md5, and the
    groupBy(doc_id, keep, b) exchange (occurrences collapse doc-locally,
    so ``occ`` becomes scan-side). The token array ``t`` is computed by
    the JVM ``_tokens`` expression upstream — this kernel only joins
    bigrams with ' ' and hashes, so there is no tokenizer parity
    surface. bucket = first 3 md5 hex nibbles (int(h[:3], 16)), exactly
    ``_bucket("md5(g)")``; the md5-derived bucket per DISTINCT feature
    string is memoized for one Arrow batch (the memo is made in the UDF
    body)."""
    import hashlib
    from collections import Counter

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..engine.udfs import worker_setup

    def dsir_occ(tok_arrays):
        worker_setup()
        cache: dict[str, int] = {}

        def bucket(g: str) -> int:
            b = cache.get(g)
            if b is None:
                b = int(
                    hashlib.md5(g.encode("utf-8")).hexdigest()[:3], 16
                )
                cache[g] = b
            return b

        out = []
        for toks in tok_arrays:
            toks = list(toks)
            cnt = Counter(bucket(g) for g in toks)
            cnt.update(
                bucket(f"{a} {b}") for a, b in zip(toks, toks[1:])
            )
            out.append([(b, c) for b, c in cnt.items()])
        return pd.Series(out)

    dsir_occ.__annotations__ = {
        "tok_arrays": pd.Series,
        "return": pd.Series,
    }
    return pandas_udf(
        dsir_occ, "array<struct<b: int, c: bigint>>"
    ).asNondeterministic()


def dsir_keyed_df(spark: SparkSession):
    """Single-explode DataFrame twin of ``dsir_keyed_sql`` — value- and
    hash-identical (same fixed-point expressions via selectExpr), but
    the corpus scan + feature explode runs EXACTLY ONCE: the
    per-(doc_id, keep, bucket) aggregate ``occ`` is persisted and both
    the 4096-row distribution table and the scoring join read the
    cache. The SQL form re-inlines the ``feats`` CTE three times
    (Spark has no CTE materialization), which at 100 TB is two
    redundant full-corpus tokenize+md5 passes.

    Returns ``(keyed, caches)`` where ``caches`` is the list of
    persisted DataFrames the caller must unpersist once ``keyed`` is
    materialized (or released via its own handle)."""
    from pyspark import StorageLevel

    from .classifier import _labeled

    labeled = spark.sql(
        f"SELECT doc_id, keep, t FROM ({_labeled('spark')}) L"
        " WHERE greatest(coalesce(size(t), 0), 0) > 0"
    )
    # round 6: the (bucket, count) list is computed doc-locally by the
    # Arrow kernel (one scan, no explode, no (doc,keep,b) exchange —
    # see _make_dsir_occ_udf); value-identical to the explode+groupBy
    occ = (
        labeled.withColumn("f", F.explode(_make_dsir_occ_udf()(F.col("t"))))
        .select(
            "doc_id",
            "keep",
            F.col("f.b").alias("b"),
            F.col("f.c").alias("c"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # 4096 rows; persisted because λ reads it twice (directly + via the
    # totals) — without the pin that double-read would re-aggregate occ
    counts = (
        occ.groupBy("b")
        .agg(
            F.sum("c").cast("long").alias("raw_n"),
            F.sum(F.when(F.col("keep"), F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("tgt_n"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = counts.agg(
        F.sum("raw_n").alias("r_tot"), F.sum("tgt_n").alias("t_tot")
    )
    lam = counts.crossJoin(F.broadcast(tot)).selectExpr(
        "b",
        f"CAST(floor((ln((tgt_n + 1.0) / (t_tot + {N_BUCKETS}))"
        f" - ln((raw_n + 1.0) / (r_tot + {N_BUCKETS})))"
        f" * {FP_SCALE}.0) AS BIGINT) AS w_fp",
    )
    z = (
        occ.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("w_fp")).cast("long").alias("z_fp"))
    )
    keyed = z.selectExpr(
        "doc_id",
        "z_fp",
        f"CAST(z_fp + {_gumbel_fp('spark')} AS BIGINT) AS sample_key_fp",
    )
    return keyed, [occ, counts]


def dsir_select(
    spark: SparkSession, sf_dir: str, keep_frac_den: int = 4,
    release_cache: bool = True,
) -> DataFrame:
    """Per-document DSIR verdict: (doc_id, z_fp, sample_key_fp, keep)
    with keep = membership in the Gumbel-top-(n // ``keep_frac_den``)
    resample. Distributed top-k per the module docstring: coarse
    histogram -> driver prefix-scan -> only the boundary coarse bucket
    is range-partitioned + window-ranked with driver offsets. ``keyed``
    comes from ``dsir_keyed_df`` (corpus explode evaluated ONCE behind
    a persisted aggregate) and is itself persisted so the scoring join
    runs once across the histogram collect and both output branches."""
    from pyspark import StorageLevel

    from .queries import register_views

    register_views(spark, sf_dir)
    keyed, inner_caches = dsir_keyed_df(spark)
    keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    # ADAPTIVE coarse width (round 6, VERDICT r05 watch item): the
    # number of distinct coarse buckets scales with the KEY RANGE
    # (≈ tokens × ln-ratio × 10^6 / width), so a heavy-tailed corpus
    # could push the fixed >>20 histogram collect into millions of
    # driver rows. One cheap min/max over the persisted keyed table
    # picks the smallest power-of-two width ≥ COARSE whose bucket
    # count is provably ≤ _COARSE_CAP; the top-k algorithm is exact
    # under ANY bucket width (bucketing only routes rows to the
    # outright-keep / outright-drop / boundary-rank branches), so the
    # result is unchanged — pinned by the unit test on _coarse_width
    # plus the unchanged oracle rows.
    mm = keyed.agg(
        F.min("sample_key_fp").alias("lo"),
        F.max("sample_key_fp").alias("hi"),
    ).collect()[0]
    width = _coarse_width(mm["lo"], mm["hi"])
    cb = F.floor(F.col("sample_key_fp") / F.lit(float(width))).cast("long")
    hist = keyed.groupBy(cb.alias("cb")).count().collect()
    n = sum(r["count"] for r in hist)
    k = n // keep_frac_den

    taken = 0
    boundary = None  # coarse bucket needing an in-bucket rank prefix
    remaining = 0
    full_above = None  # cb STRICTLY above this passes outright
    for r in sorted(hist, key=lambda r: -r.cb):
        if taken + r["count"] <= k:
            taken += r["count"]
            full_above = r.cb
        else:
            boundary = r.cb
            remaining = k - taken
            break

    tagged = keyed.withColumn("cb", cb)
    if boundary is None:
        # every coarse bucket fit under k (k >= n): all keep
        out = tagged.drop("cb").withColumn(
            "keep", F.lit(full_above is not None)
        )
        if not release_cache:
            from .queries import _attach_release

            return _attach_release(
                out,
                lambda: [
                    d.unpersist(blocking=False)
                    for d in [keyed, *inner_caches]
                ],
            )
        try:
            return out.localCheckpoint(eager=True)
        finally:
            for d in [keyed, *inner_caches]:
                d.unpersist(blocking=False)

    rest = tagged.filter(F.col("cb") != boundary).withColumn(
        "keep", F.col("cb") > F.lit(boundary)
    )
    # boundary coarse bucket: global (key DESC, doc_id) order equals
    # (pid, negkey, doc_id) order under ascending range partitioning of
    # negkey — rank within each pid + driver offset, same shape as
    # ops/budget.py's boundary scan. Persisted so the sampled range
    # boundaries are frozen between the offset collect and the read-back.
    n_sub = max(2, spark.sparkContext.defaultParallelism)
    bucket = (
        tagged.filter(F.col("cb") == boundary)
        .withColumn("negkey", -F.col("sample_key_fp"))
        .repartitionByRange(n_sub, "negkey", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sub_hist = bucket.groupBy("pid").count().collect()
    acc = 0
    offsets = {}
    for r in sorted(sub_hist, key=lambda r: r.pid):
        offsets[r.pid] = acc
        acc += r["count"]
    off_expr = (
        F.element_at(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
            F.col("pid"),
        )
        if offsets
        else F.lit(0)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("pid").orderBy("negkey", "doc_id")
    boundary_rows = (
        bucket.withColumn("rk", F.row_number().over(w) + off_expr)
        .withColumn("keep", F.col("rk") <= F.lit(remaining))
        .drop("rk", "negkey", "pid")
    )
    out = rest.unionByName(boundary_rows).drop("cb").select(
        "doc_id", "z_fp", "sample_key_fp", "keep"
    )
    if not release_cache:
        from .queries import _attach_release

        return _attach_release(
            out,
            lambda: [
                d.unpersist(blocking=False)
                for d in [bucket, keyed, *inner_caches]
            ],
        )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        for d in [bucket, keyed, *inner_caches]:
            d.unpersist(blocking=False)

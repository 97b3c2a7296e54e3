"""Approximate nearest-neighbor search over the embeddings table.

Baseline: brute-force cosine top-k (SQL, ``sim_cosine_topk`` in
ops.queries — broadcast the small query side, score JVM-side with
higher-order array functions).

Scale path: multi-table random-hyperplane LSH with multi-probe.

- ``n_tables`` independent hyperplane sets (seeded deterministically per
  table) each assign every vector one bucket code; the vector side is
  exploded to (vec_id, table, bucket) — the standard L-table LSH layout.
- The query side (tiny, by definition driver-known in an ANN search) is
  collected once; for each (query, table) the probe set is the query's own
  bucket plus every code at Hamming distance <= ``probe_bits`` (flip 1 or
  2 sign bits) — multi-probe LSH, which buys recall without more tables.
- Candidates = bucket-join of the exploded vector side against the
  broadcast probe list; each candidate is scored JVM-side (higher-order
  array functions), deduped per (query, neighbor), ranked, top-k kept.
- ``n_planes`` defaults to ``max(4, round(log2(N / 8)))`` so buckets hold
  ~8 vectors at any N; candidate work per query is then
  O(n_tables * probes * 8), independent of N, while the vector-side cost
  is one scan + one shuffle by bucket — the shape that survives 100 TB.

Measured on the synthetic test embeddings (weakly correlated vectors —
true top-3 cosines ~0.35, the hard regime for LSH; defaults n_tables=6,
probe_bits=2): recall@3 vs brute force = 1.00 at sf0.001 (N=500, scans
~90%), 1.00 at sf0.01 (N=500), 0.917 at sf0.1 (N=2000, scans ~60%).
Candidate fraction falls as N grows (bucket size stays ~8 while N
explodes); on real near-duplicate workloads (cosine >= 0.8) the same
parameters prune orders of magnitude harder. The recall floor (>= 0.8)
is pinned by tests/test_ops.py against sim_cosine_topk.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType


# Python twin of Spark's xxhash64 over a LongType column (XXH64 of the
# 8-byte little-endian value, seed 42) — verified bit-identical against
# F.xxhash64 so the IVF training-sample filter can be replicated exactly
# in the NumPy fixture oracle.
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64_long(v: int, seed: int = 42) -> int:
    """Signed-64 result identical to Spark ``xxhash64(CAST(v AS BIGINT))``."""
    v &= _M64
    h = (seed + _XXP5 + 8) & _M64
    h ^= (_rotl64((v * _XXP2) & _M64, 31) * _XXP1) & _M64
    h = ((_rotl64(h, 27) * _XXP1) + _XXP4) & _M64
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    h = rng.standard_normal((n_planes, dim))
    return (h / np.linalg.norm(h, axis=1, keepdims=True)).astype(np.float64)


def default_n_planes(n_vectors: int, target_bucket: int = 8) -> int:
    return max(4, round(np.log2(max(n_vectors, 2) / target_bucket)))


def bucket_codes(mat: np.ndarray, all_planes: list[np.ndarray]) -> np.ndarray:
    """(batch, dim) float64 -> (batch, L) int64 bucket code per table."""
    out = np.empty((mat.shape[0], len(all_planes)), dtype=np.int64)
    for t, pl in enumerate(all_planes):
        signs = (mat @ pl.T) > 0  # (batch, k)
        weights = (1 << np.arange(pl.shape[0])).astype(np.int64)
        out[:, t] = signs @ weights
    return out


def probe_set(code: int, n_planes: int, probe_bits: int) -> list[int]:
    """The query's bucket plus all codes within Hamming distance
    ``probe_bits`` (0, 1 or 2 flipped sign bits) — multi-probe LSH."""
    probes = [int(code)]
    if probe_bits >= 1:
        probes += [int(code) ^ (1 << b) for b in range(n_planes)]
    if probe_bits >= 2:
        probes += [
            int(code) ^ (1 << b1) ^ (1 << b2)
            for b1, b2 in combinations(range(n_planes), 2)
        ]
    return probes


def lsh_bucket_ann(
    spark: SparkSession,
    emb: DataFrame,
    n_planes: int | None = None,
    n_tables: int = 6,
    probe_bits: int = 2,
    topk: int = 3,
    n_query: int = 8,
    dim: int = 64,
    seed: int = 7,
    n_vectors: int | None = None,
) -> DataFrame:
    """Multi-table multi-probe LSH cosine top-k: same output shape as
    sim_cosine_topk but only pairs sharing a probed LSH bucket are scored
    (recall < 1 by design; see module docstring for measured recall).

    ``n_vectors``: optional caller-supplied count. Without it we count()
    — metadata-only for a plain parquet scan, but a full job if ``emb``
    is filtered/transformed, so pipelines should pass the hint."""
    from ..engine.udfs import ship_package, worker_setup

    ship_package(spark)
    if n_planes is None:
        n_planes = default_n_planes(
            emb.count() if n_vectors is None else n_vectors
        )
    all_planes = [
        hyperplanes(dim, n_planes, seed=seed + t) for t in range(n_tables)
    ]
    bc = spark.sparkContext.broadcast(all_planes)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets_of(embs: pd.Series) -> pd.Series:
        worker_setup()
        mat = np.stack(embs.to_numpy()).astype(np.float64)
        return pd.Series(list(bucket_codes(mat, bc.value)))

    # vector side: one scan, exploded to (vec_id, embedding, table, bucket)
    with_b = emb.select(
        "vec_id",
        "embedding",
        F.posexplode(buckets_of(F.col("embedding"))).alias("table", "bucket"),
    )

    # query side: tiny by definition — collect once, expand probes driver-side
    q_rows = (
        emb.filter(F.col("vec_id") < n_query)
        .select("vec_id", "embedding")
        .collect()
    )
    q_mat = np.array([r.embedding for r in q_rows], dtype=np.float64)
    q_codes = bucket_codes(q_mat, all_planes)  # (n_query, L)
    probe_records = []
    for qi, r in enumerate(q_rows):
        q_emb = [float(x) for x in r.embedding]
        for t in range(n_tables):
            for b in set(probe_set(int(q_codes[qi, t]), n_planes, probe_bits)):
                probe_records.append((int(r.vec_id), q_emb, t, b))
    probes_df = spark.createDataFrame(
        probe_records, "query_id long, q_emb array<double>, table int, bucket long"
    )

    pairs = with_b.join(F.broadcast(probes_df), on=["table", "bucket"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    dot = F.aggregate(
        F.zip_with(
            "q_emb", "embedding", lambda x, y: x * y.cast("double")
        ),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    norm = lambda c, cast: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double"))
            if cast
            else F.transform(c, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot / (norm("q_emb", False) * norm("embedding", True)), 4
        ).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_bucket_ann(spark, emb)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate PAIRS (the dedup-list operator): all
# pairs sharing >= 1 LSH bucket in any of the L tables, scored and kept at
# cosine >= tau. Candidate generation is the same one-scan explode +
# bucket self-join shape as the ANN path — never a cross join. Expected
# pair recall is analytic: per-plane collision p(c) = 1 - acos(c)/pi, so
# recall(c) = 1 - (1 - p(c)^k)^L; with defaults (k=8, L=6) that is ~0.87
# at cosine 0.90, ~0.95 at 0.95, ~1.0 for true duplicates — the regime
# the operator exists for. On the synthetic test embeddings the strongest
# pairs are only ~0.4-0.6 (66-degree angles), where bucket recall is low
# by design; the planted-duplicate pytest validates the near-dup regime,
# and the driver gate checks the exact output via a NumPy-twin fixture.
#
# Hot-bucket guard (same rationale and cap as the MinHash path,
# queries.LSH_BUCKET_CAP): a boilerplate cluster of m near-identical
# embeddings collides into ONE bucket in EVERY table, and an uncapped
# bucket self-join would emit O(m^2) pairs x n_tables on one reducer.
# Buckets above NEARDUP_BUCKET_CAP switch from all-pairs to STAR pairs
# (every member against the bucket-min vec_id) — O(m) output, same
# connected components for downstream union-find dedup. Oversized
# buckets are surfaced (not silent) by ``embedding_neardup_hot_buckets``.
# Residual: one bucket's sorted id array sits on a reducer (8 MB per
# 10^6-vector bucket) — fine to ~10^7-vector buckets.
NEARDUP_BUCKET_CAP = 64


def _neardup_bucket_ids(
    spark: SparkSession,
    emb: DataFrame,
    n_planes: int | None,
    n_tables: int,
    seed: int,
    dim: int,
    n_vectors: int | None = None,
) -> DataFrame:
    """(table, bucket, ids) with ids = sorted vec_ids, buckets of size > 1.

    One scan of the embedding table + one shuffle by (table, bucket) —
    the MinHash-band shape; embeddings are NOT carried through the
    explode (re-joined later only for surviving candidate ids)."""
    from ..engine.udfs import ship_package, worker_setup

    ship_package(spark)
    if n_planes is None:
        n_planes = default_n_planes(
            emb.count() if n_vectors is None else n_vectors
        )
    all_planes = [
        hyperplanes(dim, n_planes, seed=seed + t) for t in range(n_tables)
    ]
    bc = spark.sparkContext.broadcast(all_planes)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets_of(embs: pd.Series) -> pd.Series:
        worker_setup()
        mat = np.stack(embs.to_numpy()).astype(np.float64)
        return pd.Series(list(bucket_codes(mat, bc.value)))

    codes = emb.select(
        "vec_id",
        F.posexplode(buckets_of(F.col("embedding"))).alias("table", "bucket"),
    )
    return (
        codes.groupBy("table", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def embedding_neardup_pairs(
    spark: SparkSession,
    emb: DataFrame,
    tau: float = 0.4,
    n_planes: int | None = None,
    n_tables: int = 6,
    seed: int = 7,
    dim: int = 64,
    n_vectors: int | None = None,
) -> DataFrame:
    buckets = _neardup_bucket_ids(
        spark, emb, n_planes, n_tables, seed, dim, n_vectors
    )
    # all pairs within small buckets; star pairs (bucket-min, member) above
    # the cap — ids is sorted, so element_at(ids, 1) is the bucket min.
    small = (
        buckets.filter(F.size("ids") <= NEARDUP_BUCKET_CAP)
        .select(F.col("ids"), F.explode("ids").alias("vec_a"))
        .select("vec_a", F.explode("ids").alias("vec_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
    )
    star = (
        buckets.filter(F.size("ids") > NEARDUP_BUCKET_CAP)
        .select(
            F.element_at("ids", 1).alias("vec_a"),
            F.explode("ids").alias("vec_b"),
        )
        .filter(F.col("vec_a") != F.col("vec_b"))
    )
    cand = small.union(star).dropDuplicates(["vec_a", "vec_b"])
    pairs = cand.join(
        emb.select(
            F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
        ),
        on="vec_a",
    ).join(
        emb.select(
            F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")
        ),
        on="vec_b",
    )
    dot = F.aggregate(
        F.zip_with(
            "emb_a", "emb_b", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
    )
    return (
        pairs.select(
            "vec_a",
            "vec_b",
            F.round(dot / (nrm("emb_a") * nrm("emb_b")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= tau)
    )


def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_neardup_pairs(spark, emb)


def embedding_neardup_hot_buckets(
    spark: SparkSession,
    emb: DataFrame,
    n_planes: int | None = None,
    n_tables: int = 6,
    seed: int = 7,
    dim: int = 64,
    n_vectors: int | None = None,
) -> DataFrame:
    """Audit of buckets star-reduced by NEARDUP_BUCKET_CAP (no-silent-caps
    rule): every oversized (table, bucket) with its size."""
    buckets = _neardup_bucket_ids(
        spark, emb, n_planes, n_tables, seed, dim, n_vectors
    )
    return buckets.filter(F.size("ids") > NEARDUP_BUCKET_CAP).select(
        "table", "bucket", F.size("ids").alias("bucket_size")
    )


def dedup_embedding_neardup_hot_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_neardup_hot_buckets(spark, emb)


def _expected_neardup_buckets(
    emb: pd.DataFrame,
    n_planes: int | None,
    n_tables: int,
    seed: int,
):
    """Shared twin of _neardup_bucket_ids: (vec_ids, per-table list of
    member-index arrays per bucket of size > 1, with table/bucket keys)."""
    ordered = emb.sort_values("vec_id")
    M = np.stack(ordered["embedding"].to_numpy()).astype(np.float64)
    vec_ids = ordered["vec_id"].to_numpy()
    n, dim = M.shape
    if n_planes is None:
        n_planes = default_n_planes(n)
    all_planes = [
        hyperplanes(dim, n_planes, seed=seed + t) for t in range(n_tables)
    ]
    codes = bucket_codes(M, all_planes)
    buckets = []
    for t in range(n_tables):
        order = np.argsort(codes[:, t], kind="stable")
        c = codes[order, t]
        bounds = np.flatnonzero(np.concatenate(([True], c[1:] != c[:-1], [True])))
        for s, e in zip(bounds[:-1], bounds[1:]):
            if e - s > 1:
                buckets.append((t, int(c[s]), order[s:e]))
    return M, vec_ids, buckets


def expected_neardup_pairs(
    emb: pd.DataFrame,
    tau: float = 0.4,
    n_planes: int | None = None,
    n_tables: int = 6,
    seed: int = 7,
) -> pd.DataFrame:
    """NumPy re-computation of embedding_neardup_pairs (fixture oracle),
    including the NEARDUP_BUCKET_CAP all-pairs -> star-pairs switch."""
    M, vec_ids, buckets = _expected_neardup_buckets(
        emb, n_planes, n_tables, seed
    )
    cand: set[tuple[int, int]] = set()
    for _t, _b, members in buckets:
        if len(members) <= NEARDUP_BUCKET_CAP:
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    x, y = int(members[i]), int(members[j])
                    cand.add((min(x, y), max(x, y)))
        else:
            # star reduction: members is index-into-vec_id-sorted order,
            # so the min member index is the bucket-min vec_id.
            mn = int(members.min())
            for m in members:
                if int(m) != mn:
                    cand.add((mn, int(m)))
    rows = []
    for i, j in sorted(cand):
        if vec_ids[i] == vec_ids[j]:
            continue
        cos = float(
            (M[i] @ M[j]) / (np.linalg.norm(M[i]) * np.linalg.norm(M[j]))
        )
        r = float(np.sign(cos) * np.floor(abs(cos) * 1e4 + 0.5) / 1e4)
        if r >= tau:
            va, vb = int(vec_ids[i]), int(vec_ids[j])
            rows.append((min(va, vb), max(va, vb), r))
    return pd.DataFrame(rows, columns=["vec_a", "vec_b", "cosine"])


def expected_neardup_hot_buckets(
    emb: pd.DataFrame,
    n_planes: int | None = None,
    n_tables: int = 6,
    seed: int = 7,
) -> pd.DataFrame:
    """NumPy re-computation of embedding_neardup_hot_buckets."""
    _M, _ids, buckets = _expected_neardup_buckets(emb, n_planes, n_tables, seed)
    rows = [
        (t, b, len(members))
        for t, b, members in buckets
        if len(members) > NEARDUP_BUCKET_CAP
    ]
    return pd.DataFrame(
        rows, columns=["table", "bucket", "bucket_size"]
    ).astype({"table": "int32", "bucket": "int64", "bucket_size": "int32"})


# ---------------------------------------------------------------------------
# IVF (inverted-file / coarse-quantizer) ANN — the second scale path the
# survey calls for. A deterministic k-means codebook is trained on a
# bounded driver-side sample (standard IVF practice — the quantizer never
# sees more than IVF_TRAIN_CAP vectors regardless of N), every vector is
# assigned to its nearest centroid by an Arrow UDF (one scan), and each
# query probes its ``nprobe`` nearest cells. Candidate work per query is
# O(nprobe * N / C); at 100 TB C grows ~sqrt(N) while nprobe stays a
# fixed fraction. Measured on the synthetic weak-correlation embeddings
# (C=32, nprobe=16, scans ~50%): recall@3 vs brute force = 0.875 / 0.958
# / 0.917 at sf0.001 / 0.01 / 0.1 (>= 0.8 floor pinned by tests).

IVF_TRAIN_CAP = 4096


def nearest_cell(mat: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """argmin over centroids of squared L2 distance, via the expansion
    ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 (the ||x||^2 term is constant
    per row and dropped). The naive broadcast form materializes a
    batch x cells x dim tensor — at the n_cells a 100 TB run needs
    (~sqrt(N), easily 2^16) that is a multi-hundred-GB buffer per Arrow
    batch; this form peaks at batch x cells plus one matmul. EVERY
    assignment site (k-means trainer, IVF and semdedup cell UDFs, their
    NumPy fixture twins) shares this helper, so near-tie argmin flips
    from the changed float rounding cannot desynchronize engine and
    oracle."""
    scores = mat @ cent.T
    return (np.einsum("ij,ij->i", cent, cent)[None, :] - 2.0 * scores).argmin(
        1
    )


def _cell_udf(bc):
    """pandas-UDF factory for nearest-centroid cell assignment over a
    broadcast codebook — the ONE assignment closure shared by ivf_ann
    and semdedup (same rationale as nearest_cell: a one-sided edit must
    not let IVF and SemDeDup assign cells differently)."""
    from ..engine.udfs import worker_setup

    @F.pandas_udf(LongType())
    def cell_of(embs: pd.Series) -> pd.Series:
        worker_setup()
        mat = np.stack(embs.to_numpy()).astype(np.float64)
        return pd.Series(nearest_cell(mat, bc.value))

    return cell_of


def kmeans_centroids(
    mat: np.ndarray, n_cells: int = 32, iters: int = 8, seed: int = 11
) -> np.ndarray:
    """Deterministic Lloyd k-means (fixed seed init, fixed iteration
    count — reproducible across driver, fixture generator, and tests).
    n_cells is clamped to the sample size so tiny embedding tables train a
    degenerate-but-valid codebook instead of crashing; the clamp lives
    HERE so ivf_ann and the NumPy twin expected_ivf_topk stay in
    lockstep."""
    rng = np.random.default_rng(seed)
    n_cells = min(n_cells, len(mat))
    cent = mat[rng.choice(len(mat), n_cells, replace=False)].copy()
    for _ in range(iters):
        assign = nearest_cell(mat, cent)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                cent[c] = mat[m].mean(0)
    return cent


def _train_sample(emb: DataFrame, n_vectors: int | None = None) -> np.ndarray:
    """Bounded, deterministic, vec_id-ordered training sample.

    Selection is ``pmod(xxhash64(vec_id), mod) == 0`` — id-distribution
    independent (a plain ``vec_id % mod`` collapses on sparse or strided
    id spaces, degenerating the codebook below n_cells); the NumPy twin
    replicates it bit-exactly via ``xxh64_long``."""
    n = emb.count() if n_vectors is None else n_vectors
    mod = max(1, -(-n // IVF_TRAIN_CAP))  # ceil
    rows = (
        emb.filter(
            F.pmod(F.xxhash64(F.col("vec_id").cast("long")), F.lit(mod)) == 0
        )
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r.vec_id)
    return np.array([r.embedding for r in rows], dtype=np.float64)


def ivf_ann(
    spark: SparkSession,
    emb: DataFrame,
    n_cells: int = 32,
    nprobe: int = 16,
    topk: int = 3,
    n_query: int = 8,
    seed: int = 11,
    n_vectors: int | None = None,
) -> DataFrame:
    """IVF cosine top-k: same output shape as sim_cosine_topk but only
    vectors in the query's nprobe nearest cells are scored. ``n_vectors``
    as in lsh_bucket_ann (count hint for non-plain-parquet inputs)."""
    from ..engine.udfs import ship_package

    ship_package(spark)
    cent = kmeans_centroids(_train_sample(emb, n_vectors), n_cells, seed=seed)
    bc = spark.sparkContext.broadcast(cent)

    cell_of = _cell_udf(bc)

    with_cell = emb.select(
        "vec_id", "embedding", cell_of(F.col("embedding")).alias("cell")
    )
    q_rows = (
        emb.filter(F.col("vec_id") < n_query)
        .select("vec_id", "embedding")
        .collect()
    )
    probe_records = []
    for r in q_rows:
        q = np.array(r.embedding, dtype=np.float64)
        d = ((q[None, :] - cent) ** 2).sum(-1)
        cells = np.argsort(d)[:nprobe]
        q_emb = [float(x) for x in r.embedding]
        for c in cells:
            probe_records.append((int(r.vec_id), q_emb, int(c)))
    probes_df = spark.createDataFrame(
        probe_records, "query_id long, q_emb array<double>, cell long"
    )
    pairs = with_cell.join(F.broadcast(probes_df), on="cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "embedding", lambda x, y: x * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    sq = lambda c, cast: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double"))
            if cast
            else F.transform(c, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(dot / (sq("q_emb", False) * sq("embedding", True)), 4).alias(
            "cosine"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_ann(spark, emb)


def expected_ivf_topk(
    emb: pd.DataFrame,
    n_cells: int = 32,
    nprobe: int = 16,
    topk: int = 3,
    n_query: int = 8,
    seed: int = 11,
) -> pd.DataFrame:
    """NumPy re-computation of ivf_ann for the fixture oracle: identical
    sample, codebook, assignment, probes, rounding, tie-breaks."""
    ordered = emb.sort_values("vec_id")
    M = np.stack(ordered["embedding"].to_numpy()).astype(np.float64)
    vec_ids = ordered["vec_id"].to_numpy()
    n = len(M)
    mod = max(1, -(-n // IVF_TRAIN_CAP))
    sel = np.array([xxh64_long(int(v)) % mod == 0 for v in vec_ids])
    train = M[sel]
    cent = kmeans_centroids(train, n_cells, seed=seed)
    assign = nearest_cell(M, cent)
    rows = []
    for qi in range(n):
        if vec_ids[qi] >= n_query:
            continue
        # probe selection needs the full distance ORDER (argsort), not
        # just the argmin — computed per query with the same expression
        # as the Spark query side (1 x cells, no memory concern)
        dq = ((M[qi][None, :] - cent) ** 2).sum(-1)
        cells = np.argsort(dq)[:nprobe]
        cand = np.flatnonzero(np.isin(assign, cells))
        cand = cand[cand != qi]
        if cand.size == 0:
            continue
        q = M[qi]
        cos = (M[cand] @ q) / (
            np.linalg.norm(M[cand], axis=1) * np.linalg.norm(q)
        )
        r = np.sign(cos) * np.floor(np.abs(cos) * 1e4 + 0.5) / 1e4
        order = np.lexsort((vec_ids[cand], -r))[:topk]
        for rank, j in enumerate(order, start=1):
            rows.append(
                (int(vec_ids[qi]), int(vec_ids[cand[j]]), float(r[j]), rank)
            )
    return pd.DataFrame(
        rows, columns=["query_id", "neighbor_id", "cosine", "rank"]
    )


def expected_ann_topk(
    emb: pd.DataFrame,
    n_planes: int | None = None,
    n_tables: int = 6,
    probe_bits: int = 2,
    topk: int = 3,
    n_query: int = 8,
    seed: int = 7,
) -> pd.DataFrame:
    """NumPy re-computation of lsh_bucket_ann for fixture-oracle generation
    (scripts/gen_expected_fixtures.py): identical planes, probes, scoring,
    HALF_UP rounding, and tie-breaking."""
    M = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    N, dim = M.shape
    if n_planes is None:
        n_planes = default_n_planes(N)
    all_planes = [hyperplanes(dim, n_planes, seed=seed + t) for t in range(n_tables)]
    codes = bucket_codes(M, all_planes)  # (N, L)
    vec_ids = emb["vec_id"].to_numpy()
    rows = []
    for qi in range(N):
        if vec_ids[qi] >= n_query:
            continue
        cand: set[int] = set()
        for t in range(n_tables):
            probes = set(probe_set(int(codes[qi, t]), n_planes, probe_bits))
            cand |= set(np.flatnonzero(np.isin(codes[:, t], list(probes))))
        cand.discard(qi)
        if not cand:
            continue
        ci = np.array(sorted(cand))
        q = M[qi]
        cos = (M[ci] @ q) / (
            np.linalg.norm(M[ci], axis=1) * np.linalg.norm(q)
        )
        # Spark round() is HALF_UP (away from zero on .5)
        r = np.sign(cos) * np.floor(np.abs(cos) * 1e4 + 0.5) / 1e4
        order = np.lexsort((vec_ids[ci], -r))[:topk]
        for rank, j in enumerate(order, start=1):
            rows.append(
                (int(vec_ids[qi]), int(vec_ids[ci[j]]), float(r[j]), rank)
            )
    return pd.DataFrame(
        rows, columns=["query_id", "neighbor_id", "cosine", "rank"]
    )


def dedup_embedding_cc(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Embedding near-dup CLUSTERS: connected components over the
    near-dup pair graph (same union-find step as ``dedup_minhash_cc``,
    ops/graph.py) -> every vector labelled (vec_id, cluster_rep, keep),
    one kept representative (min vec_id) per duplicate cluster. Fixture
    oracle: an independent pure-Python BFS union-find over the NumPy
    twin's pairs (``expected_embedding_cc``). ``checkpoint_dir``: set to
    a fault-tolerant path on a real cluster (see ops/graph.py)."""
    from pyspark.sql import functions as F

    from .graph import connected_components

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_neardup_pairs(spark, emb)
    labels = connected_components(
        pairs, src="vec_a", dst="vec_b", checkpoint_dir=checkpoint_dir
    )
    return (
        emb.select("vec_id")
        .join(labels.withColumnRenamed("doc", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("rep", F.col("vec_id")).alias("cluster_rep"),
        )
        .withColumn("keep", F.col("vec_id") == F.col("cluster_rep"))
    )


def expected_embedding_cc(emb: pd.DataFrame) -> pd.DataFrame:
    """Fixture twin of dedup_embedding_cc: BFS connected components (an
    algorithm independent of the Spark side's label propagation) over
    expected_neardup_pairs, min member id as representative."""
    pairs = expected_neardup_pairs(emb)
    adj: dict[int, list[int]] = {}
    for a, b in zip(pairs.vec_a, pairs.vec_b):
        adj.setdefault(int(a), []).append(int(b))
        adj.setdefault(int(b), []).append(int(a))
    rep: dict[int, int] = {}
    for start in sorted(adj):
        if start in rep:
            continue
        comp, frontier = [start], [start]
        seen = {start}
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in seen:
                        seen.add(v)
                        comp.append(v)
                        nxt.append(v)
            frontier = nxt
        mn = min(comp)
        for v in comp:
            rep[v] = mn
    vec_ids = [int(v) for v in emb.vec_id]
    rows = [
        (v, rep.get(v, v), rep.get(v, v) == v) for v in sorted(vec_ids)
    ]
    return pd.DataFrame(
        rows, columns=["vec_id", "cluster_rep", "keep"]
    ).astype({"vec_id": "int64", "cluster_rep": "int64", "keep": "bool"})


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup by k-means cell + within-cell cosine domination
# (Abbas et al. 2023, "SemDeDup", public paper). The k-means-cell analog of
# the LSH-bucketed near-dup path: clustering bounds the pairwise work to
# within-cell, so total cost is O(sum cell_size^2) instead of O(n^2) — at
# 100 TB, pick n_cells so n/n_cells fits one executor's memory and the
# heavy stage stays an embarrassingly-parallel applyInPandas over cells.

SEMDEDUP_TAU = 0.4


def _semdedup_with_cell(
    spark: SparkSession,
    emb: DataFrame,
    n_cells: int,
    seed: int,
    n_vectors: int | None,
):
    """(vec_id, embedding, cell) assignment + the codebook broadcast —
    shared by ``semdedup`` and the ``semdedup_cell_sizes`` audit so both
    see the identical codebook/assignment."""
    from ..engine.udfs import ship_package

    ship_package(spark)
    cent = kmeans_centroids(_train_sample(emb, n_vectors), n_cells, seed=seed)
    bc = spark.sparkContext.broadcast(cent)

    cell_of = _cell_udf(bc)

    with_cell = emb.select(
        "vec_id", "embedding", cell_of(F.col("embedding")).alias("cell")
    )
    return with_cell, bc


def semdedup_cell_sizes(
    spark: SparkSession,
    emb: DataFrame,
    n_cells: int = 32,
    seed: int = 11,
    n_vectors: int | None = None,
) -> DataFrame:
    """Audit of the semdedup k-means split (no-silent-caps rule): per-cell
    vector counts, descending. The within-cell stage is O(cell_size^2);
    a runaway max(n_vectors) here means n_cells must grow (or the cell
    won't fit one executor) — surfaced, never assumed."""
    with_cell, _ = _semdedup_with_cell(spark, emb, n_cells, seed, n_vectors)
    return (
        with_cell.groupBy("cell")
        .agg(F.count("*").alias("n_vectors"))
        .orderBy(F.desc("n_vectors"), "cell")
    )


def dedup_semantic_cell_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semdedup_cell_sizes(spark, emb)


def expected_semdedup_cell_sizes(emb: pd.DataFrame) -> pd.DataFrame:
    """NumPy twin of ``semdedup_cell_sizes`` (via ``expected_semdedup``'s
    identical codebook/assignment) for the fixture oracle."""
    out = (
        expected_semdedup(emb)
        .groupby("cell", as_index=False)
        .size()
        .rename(columns={"size": "n_vectors"})
        .astype({"cell": "int64", "n_vectors": "int64"})
    )
    return out.sort_values(
        ["n_vectors", "cell"], ascending=[False, True]
    ).reset_index(drop=True)


def semdedup(
    spark: SparkSession,
    emb: DataFrame,
    n_cells: int = 32,
    tau: float = SEMDEDUP_TAU,
    seed: int = 11,
    n_vectors: int | None = None,
) -> DataFrame:
    """Per-vector semantic-dedup decision: (vec_id, cell, centroid_sim,
    keep, dup_of).

    Reuses the IVF codebook machinery (``kmeans_centroids`` over the
    deterministic ``_train_sample``); every vector is assigned to its
    nearest cell, then within each cell vectors are visited in SemDeDup
    priority order — ASCENDING cosine-to-centroid (the paper keeps the
    LEAST prototypical member of a duplicate group), vec_id ascending as
    the tie-break — and a vector is dropped when its cosine to ANY
    earlier-priority cell member reaches ``tau`` (the paper's one-shot
    variant). ``dup_of`` is the first such dominating member, surfaced
    for drop attribution (no-silent-drops rule).

    Scale shape: one broadcast of the codebook, one pandas-UDF
    projection for cell assignment, ONE shuffle keyed by the (8-byte)
    cell id, then per-cell NumPy matmuls inside applyInPandas. Nothing
    driver-side except the bounded codebook training (IVF_TRAIN_CAP
    sample). The O(cell_size^2) bound rests on the k-means split being
    balanced — ``semdedup_cell_sizes`` audits it (no-silent-caps rule).
    Fixture oracle: ``expected_semdedup`` recomputes every step in
    NumPy, bit-identically."""
    from ..engine.udfs import worker_setup

    with_cell, bc = _semdedup_with_cell(spark, emb, n_cells, seed, n_vectors)

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        worker_setup()
        c = bc.value
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        vec_ids = pdf["vec_id"].to_numpy()
        cell = int(pdf["cell"].iloc[0])
        nrm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        rows = [
            (vid, cell, sim, kp, dup)
            for vid, sim, kp, dup in _semdedup_cell_rows(
                nrm, vec_ids, c[cell], tau
            )
        ]
        return pd.DataFrame(
            rows, columns=["vec_id", "cell", "centroid_sim", "keep", "dup_of"]
        )

    return with_cell.groupBy("cell").applyInPandas(
        dedup_cell,
        "vec_id long, cell long, centroid_sim double, keep boolean,"
        " dup_of long",
    )


def _semdedup_cell_rows(nrm, vec_ids, centroid, tau):
    """The SemDeDup within-cell core — priority order (centroid-cosine
    ascending, vec_id ascending), lower-triangular domination at
    ``tau``, first-dominator attribution, HALF_UP 4-decimal rounding —
    over a cell's NORMALIZED vectors. ONE implementation shared by the
    engine's applyInPandas closure and the NumPy fixture twin (same
    pattern as ``nearest_cell``): these must stay bit-identical for the
    fixture gate to mean anything, so drift is made impossible rather
    than tested for. Yields (vec_id, centroid_sim, keep, dup_of)."""
    cn = centroid / np.linalg.norm(centroid)
    csim = nrm @ cn
    order = np.lexsort((vec_ids, csim))  # priority: csim asc, id asc
    P = nrm[order] @ nrm[order].T
    dom = np.tril(P >= tau, -1)  # j earlier than i in priority order
    keep = ~dom.any(axis=1)
    first = dom.argmax(axis=1)  # first dominating j where any
    for k in range(len(order)):
        i = order[k]
        yield (
            int(vec_ids[i]),
            float(
                np.sign(csim[i]) * np.floor(np.abs(csim[i]) * 1e4 + 0.5) / 1e4
            ),
            bool(keep[k]),
            None if keep[k] else int(vec_ids[order[first[k]]]),
        )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semdedup(spark, emb)


def expected_semdedup(
    emb: pd.DataFrame,
    n_cells: int = 32,
    tau: float = SEMDEDUP_TAU,
    seed: int = 11,
) -> pd.DataFrame:
    """NumPy twin of ``semdedup`` for the fixture oracle: identical
    sample, codebook, assignment, priority order, domination rule and
    HALF_UP rounding."""
    ordered = emb.sort_values("vec_id")
    M = np.stack(ordered["embedding"].to_numpy()).astype(np.float64)
    vec_ids = ordered["vec_id"].to_numpy()
    n = len(M)
    mod = max(1, -(-n // IVF_TRAIN_CAP))
    sel = np.array([xxh64_long(int(v)) % mod == 0 for v in vec_ids])
    cent = kmeans_centroids(M[sel], n_cells, seed=seed)
    assign = nearest_cell(M, cent)
    nrm = M / np.linalg.norm(M, axis=1, keepdims=True)
    rows = []
    for cell in sorted(set(int(a) for a in assign)):
        idx = np.flatnonzero(assign == cell)
        rows.extend(
            (vid, cell, sim, kp, dup)
            for vid, sim, kp, dup in _semdedup_cell_rows(
                nrm[idx], vec_ids[idx], cent[cell], tau
            )
        )
    out = pd.DataFrame(
        rows, columns=["vec_id", "cell", "centroid_sim", "keep", "dup_of"]
    )
    return out.sort_values("vec_id").reset_index(drop=True)

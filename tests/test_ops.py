"""Training-data ops: ANN LSH, multimodal plumbing, entry contract."""

import numpy as np
import pytest


@pytest.mark.parametrize("variant", ["lsh", "ivf"])
@pytest.mark.parametrize("sf", ["0.001", "0.1"])
def test_ann_topk_recall(spark, sf, variant):
    """Both ANN scale paths must actually retrieve neighbors: mean
    recall@3 vs the brute-force baseline >= 0.8 (VERDICT r01 item 1 — the
    round-1 LSH returned 0 rows and only asserted checked > 0).
    Deterministic: fixed planes/codebook, fixed data => recall is a
    constant (LSH: 1.00 / 0.917; IVF: 0.875 / 0.917)."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views
    from lingua_spark.ops.similarity import ann_ivf_topk, ann_lsh_topk

    sfd = f"/root/testdata/sf{sf}"
    register_views(spark, sfd)
    brute = spark.sql(SQL_QUERIES["sim_cosine_topk"][0]).toPandas()
    fn = ann_lsh_topk if variant == "lsh" else ann_ivf_topk
    ann = fn(spark, sfd).toPandas()
    assert set(ann.columns) == {"query_id", "neighbor_id", "cosine", "rank"}
    brute_scores = {
        (r.query_id, r.neighbor_id): r.cosine for r in brute.itertuples()
    }
    # every ANN hit that is a true-top-k pair must carry the same cosine
    for r in ann.itertuples():
        if (r.query_id, r.neighbor_id) in brute_scores:
            assert brute_scores[(r.query_id, r.neighbor_id)] == pytest.approx(
                r.cosine, abs=1e-4
            )
    bt = brute.groupby("query_id").neighbor_id.apply(set)
    at = ann.groupby("query_id").neighbor_id.apply(set)
    recalls = [len(bt[q] & at.get(q, set())) / len(bt[q]) for q in bt.index]
    assert np.mean(recalls) >= 0.8


@pytest.mark.parametrize("variant", ["lsh", "ivf"])
def test_ann_topk_matches_numpy_expectation(spark, variant):
    """The Spark plan must reproduce the independent NumPy re-computation
    exactly — same planes/codebook, probes, HALF_UP rounding, tie-breaks.
    These are the same functions that generate the driver's fixture
    oracles."""
    import pandas as pd

    from lingua_spark.ops.similarity import (
        ann_ivf_topk,
        ann_lsh_topk,
        expected_ann_topk,
        expected_ivf_topk,
    )

    sfd = "/root/testdata/sf0.001"
    fn, exp_fn = (
        (ann_lsh_topk, expected_ann_topk)
        if variant == "lsh"
        else (ann_ivf_topk, expected_ivf_topk)
    )
    got = (
        fn(spark, sfd)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    exp = (
        exp_fn(pd.read_parquet(f"{sfd}/embeddings.parquet"))
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert got.equals(exp.astype(got.dtypes.to_dict()))


def test_embedding_neardup_matches_numpy_expectation(spark):
    """Spark LSH-bucket near-dup pairs == NumPy twin (the fixture-oracle
    generator) exactly."""
    import pandas as pd

    from lingua_spark.ops.similarity import (
        dedup_embedding_neardup,
        expected_neardup_pairs,
    )

    sfd = "/root/testdata/sf0.001"
    got = (
        dedup_embedding_neardup(spark, sfd)
        .toPandas()
        .sort_values(["vec_a", "vec_b"])
        .reset_index(drop=True)
    )
    exp = (
        expected_neardup_pairs(pd.read_parquet(f"{sfd}/embeddings.parquet"))
        .sort_values(["vec_a", "vec_b"])
        .reset_index(drop=True)
    )
    assert len(got) > 0
    assert got.equals(exp.astype(got.dtypes.to_dict()))


def test_embedding_neardup_planted_duplicates(spark):
    """The near-dup regime the operator is designed for (cosine >= 0.9):
    plant perturbed duplicates among random vectors; the analytic pair
    recall 1-(1-p(c)^k)^L predicts ~0.87 at c=0.90 — assert >= 0.8 found
    and that every reported pair meets the threshold."""
    import pandas as pd

    from lingua_spark.ops.similarity import embedding_neardup_pairs

    rng = np.random.default_rng(5)
    base = rng.standard_normal((220, 64))
    rows = [(i, base[i].astype("float32").tolist()) for i in range(200)]
    true_pairs = set()
    for d in range(20):
        src = 200 + d
        orig = base[d]
        noisy = orig + 0.18 * rng.standard_normal(64)  # cosine ~0.97-0.99
        rows.append((src, noisy.astype("float32").tolist()))
        true_pairs.add((d, src))
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    got = embedding_neardup_pairs(spark, emb, tau=0.9).toPandas()
    assert (got.cosine >= 0.9).all()
    found = {(a, b) for a, b in zip(got.vec_a, got.vec_b)}
    recall = len(found & true_pairs) / len(true_pairs)
    assert recall >= 0.8


def test_embedding_neardup_hot_bucket_star_reduction(spark):
    """ADVICE r02 (medium): a 200-member near-identical cluster — the
    exact workload a near-dup operator exists for — must NOT emit O(m^2)
    pairs. Above NEARDUP_BUCKET_CAP the bucket switches to star pairs:
    output stays O(m) while the cluster remains ONE connected component
    (what union-find dedup consumes), and the audit query surfaces the
    oversized buckets instead of capping silently."""
    import pandas as pd

    from lingua_spark.ops.similarity import (
        embedding_neardup_hot_buckets,
        embedding_neardup_pairs,
    )

    rng = np.random.default_rng(9)
    base = rng.standard_normal(64)
    m = 200
    rows = [
        (i, (base + 0.02 * rng.standard_normal(64)).astype("float32").tolist())
        for i in range(m)
    ]
    rows += [
        (m + i, rng.standard_normal(64).astype("float32").tolist())
        for i in range(56)
    ]
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    got = embedding_neardup_pairs(spark, emb, tau=0.9).toPandas()
    # O(m), not O(m^2): uncapped all-pairs would be ~19,900 rows x 6 tables
    assert 0 < len(got) < 1000
    # connected components preserved: all 200 cluster members reachable
    parent = list(range(m + 56))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(got.vec_a, got.vec_b):
        parent[find(int(a))] = find(int(b))
    roots = {find(i) for i in range(m)}
    assert len(roots) == 1
    # the cap is surfaced, not silent
    audit = embedding_neardup_hot_buckets(spark, emb).toPandas()
    assert len(audit) >= 1
    assert (audit.bucket_size > 64).all()


def test_ivf_small_table_does_not_crash(spark):
    """ADVICE r02 (low): n_cells is clamped to the training-sample size, so
    ivf_ann works on embedding tables smaller than the default 32 cells."""
    import pandas as pd

    from lingua_spark.ops.similarity import ivf_ann

    rng = np.random.default_rng(3)
    rows = [
        (i, rng.standard_normal(64).astype("float32").tolist())
        for i in range(10)
    ]
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    got = ivf_ann(spark, emb, n_query=2).toPandas()
    assert len(got) > 0
    assert set(got.columns) == {"query_id", "neighbor_id", "cosine", "rank"}


def test_jaccard_df_matches_sql_and_single_explode(spark):
    """VERDICT r02 item 4: the persisted-shingle DF variant must be
    value-identical to the 3x-CTE SQL form AND physically evaluate the
    shingle explode exactly once (the 100x-scale property)."""
    from lingua_spark.ops.queries import (
        SQL_QUERIES,
        jaccard_pairs_df,
        register_views,
    )

    sfd = "/root/testdata/sf0.001"
    register_views(spark, sfd)
    sql_res = (
        spark.sql(SQL_QUERIES["dedup_jaccard_pairs"][0])
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    # release_cache=False: the lazy composition shape, for plan assertion
    df = jaccard_pairs_df(spark, sfd, release_cache=False)
    got = df.toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    assert len(got) > 0
    assert got.equals(sql_res.astype(got.dtypes.to_dict()))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # all three shingle consumers (sizes, rare, rsh self-join sides) must
    # read the CACHE — InMemoryTableScan — not re-evaluate the explode
    # inline (the plan printer re-prints the cached plan under every
    # InMemoryTableScan, so counting Generate occurrences is meaningless;
    # an inlined re-evaluation would surface as a FileScan+Generate chain
    # NOT wrapped in an InMemoryRelation)
    assert plan.count("InMemoryTableScan") >= 3, plan
    spark.catalog.clearCache()  # release the lazy-mode shingle cache

    # default (release_cache=True): value-identical AND no DataFrame
    # cache left registered after the call (VERDICT r03 item 8)
    df2 = jaccard_pairs_df(spark, sfd)
    got2 = df2.toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    assert got2.equals(got)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "jaccard_pairs_df leaked a DataFrame cache"
    )


def test_xxh64_long_matches_spark(spark):
    """Pin the Python twin of Spark's xxhash64-over-long (IVF sample
    selection must stay bit-identical between ivf_ann and the NumPy
    fixture oracle)."""
    from pyspark.sql import functions as F

    from lingua_spark.ops.similarity import xxh64_long

    vals = [0, 1, -1, 42, 2**62, -(2**62), 123456789]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r.v: r.h
        for r in df.select("v", F.xxhash64(F.col("v")).alias("h")).collect()
    }
    for v in vals:
        assert xxh64_long(v) == got[v]


def test_multimodal_feature_plumbing(spark):
    from lingua_spark.ops.multimodal import (
        FEATURE_DIM,
        decode_real,
        extract_features,
        synth_media,
    )

    media = synth_media(spark, n=32)
    feats = extract_features(media).toPandas()
    assert len(feats) == 32
    assert all(len(f) == FEATURE_DIM for f in feats.feature)
    # deterministic: same payload -> same feature
    again = extract_features(media).toPandas()
    assert feats.sort_values("media_id").payload_sha.tolist() == \
        again.sort_values("media_id").payload_sha.tolist()
    with pytest.raises(NotImplementedError):
        decode_real(b"x", "image/png")


def test_token_count_and_fingerprints(spark):
    """BPE-ish tokens >= whitespace tokens (punctuation splits off);
    winnow fingerprints are a small fraction of the shingle count."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    bpe = spark.sql(SQL_QUERIES["token_count_bpe"][0]).toPandas()
    ws = spark.sql(SQL_QUERIES["textstats_tokens"][0]).toPandas()
    merged = bpe.merge(ws, on="doc_id")
    assert (merged.n_bpe_tokens >= merged.n_tokens).all()
    fp = spark.sql(SQL_QUERIES["doc_fingerprint_winnow"][0]).toPandas()
    per_doc = fp.groupby("doc_id").size()
    assert per_doc.min() >= 1
    # winnowing selects ~2/(w+1) of positions before dedup; well under 1x
    clean_len = spark.sql(
        "SELECT doc_id, length(text) AS n FROM documents"
    ).toPandas().set_index("doc_id").n
    assert (per_doc < clean_len.loc[per_doc.index]).all()


def test_tfidf_and_fingerprint_pairs(spark):
    """tfidf_top_terms: <= 3 ranked terms per doc, rank-ordered scores,
    and a term appearing in every document cannot out-rank a rarer term
    with equal tf. dedup_fingerprint_pairs: overlap is a coefficient in
    (0, 1] and symmetric-dedup (doc_a < doc_b) holds."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    tfidf = spark.sql(SQL_QUERIES["tfidf_top_terms"][0]).toPandas()
    per_doc = tfidf.groupby("doc_id")
    assert (per_doc.size() <= 3).all()
    for _, g in per_doc:
        g = g.sort_values("rank")
        assert (g.tfidf.diff().dropna() <= 1e-9).all()  # non-increasing
    pairs = spark.sql(SQL_QUERIES["dedup_fingerprint_pairs_sql"][0]).toPandas()
    if len(pairs):
        assert ((pairs.overlap > 0) & (pairs.overlap <= 1.0)).all()
        assert (pairs.doc_a < pairs.doc_b).all()
        assert (pairs.common_fp >= 3).all()


def test_multimodal_frame_sampling(spark):
    from lingua_spark.ops.multimodal import sample_frames, synth_media

    media = synth_media(spark, n=30)  # kinds cycle image/audio/video
    frames = sample_frames(media, n_frames=4).toPandas()
    n_videos = 10
    assert len(frames) == n_videos * 4
    assert set(frames.frame_idx) == {0, 1, 2, 3}
    # deterministic: same payload slice every run
    again = sample_frames(media, n_frames=4).toPandas()
    key = ["media_id", "frame_idx"]
    a = frames.sort_values(key).reset_index(drop=True)
    b = again.sort_values(key).reset_index(drop=True)
    assert (a.frame_payload == b.frame_payload).all()
    assert (a.frame_ts_ms < 1000).all() and (a.frame_ts_ms >= 0).all()


def test_entry_contract(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    # every query — including the non-SQL detector/ANN ones — has an oracle
    assert set(o) == set(q)
    assert "read_parquet" in o["detect_language_counts"]
    # spot-run one query
    out = q["dedup_exact"](spark, "/root/testdata/sf0.001").toPandas()
    assert {"text_key", "keep_doc_id", "dup_count"} == set(out.columns)


def test_streaming_available_now(spark, tmp_path):
    from lingua_spark.corpus import transcripts
    from lingua_spark.streaming import run_stream_once

    pdf = transcripts(n_turns=60)
    src = tmp_path / "in"
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src))
    outd = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    run_stream_once(spark, str(src), str(outd), str(ckpt))
    got = spark.read.parquet(str(outd))
    assert got.count() == len(pdf)
    assert {"conv_id", "lang", "keep", "scrubbed_text"} <= set(got.columns)
    # restart with no new data processes nothing new but succeeds
    run_stream_once(spark, str(src), str(outd), str(ckpt))
    assert spark.read.parquet(str(outd)).count() == len(pdf)


def test_session_window_metrics(spark, tmp_path):
    """Streaming session windows: two bursts of turns separated by a
    > 30-minute gap in one conversation must land in two sessions with
    the right turn counts."""
    import pandas as pd

    from lingua_spark.streaming import session_window_metrics

    rows = []
    t0 = pd.Timestamp("2025-01-01 08:00:00")
    for i in range(4):  # burst 1: 4 turns, 1 min apart
        rows.append(("c1", i, "user", "the people of the year would have",
                     "", t0 + pd.Timedelta(minutes=i)))
    for i in range(3):  # burst 2: 45 min later
        rows.append(("c1", 10 + i, "user", "another set of words here now",
                     "", t0 + pd.Timedelta(minutes=48 + i)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool", "ts"]).astype({"turn_idx": "int32"})
    src = tmp_path / "in"
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src))
    out = session_window_metrics(spark, str(src))
    q = (out.writeStream.format("memory").queryName("sessmetrics")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = (
        spark.sql("select * from sessmetrics")
        .toPandas()
        .sort_values("session_start")
        .reset_index(drop=True)
    )
    assert len(got) == 2
    assert got.turns.tolist() == [4, 3]
    assert (got.session_end > got.session_start).all()


def test_stateful_conversation_tracker(spark, tmp_path):
    import pandas as pd

    from lingua_spark.streaming import stateful_conversation_tracker

    # conversation with a run of droppable turns
    rows = []
    for i, text in enumerate(
        ["the people of the year would have time", "!!!", "???", "...",
         "another good turn with many words here"]
    ):
        rows.append(("c1", i, "user", text, "", pd.Timestamp("2025-01-01")
                     + pd.Timedelta(minutes=i)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool", "ts"]).astype({"turn_idx": "int32"})
    src = tmp_path / "in"
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src))
    out = stateful_conversation_tracker(spark, str(src))
    q = (out.writeStream.format("memory").queryName("convtrack")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("select * from convtrack").toPandas()
    assert len(got) >= 1
    final = got.iloc[-1]
    assert final.turns == 5
    assert final.dropped == 3
    # streak broke on the last good turn
    assert final.drop_streak == 0
    assert not final.quarantined


def test_stateful_tracker_resumes_from_checkpoint(spark, tmp_path):
    """applyInPandasWithState state must survive a query restart: feed 2
    dropped turns, restart with 2 more dropped turns from the same
    conversation, and the streak must reach 4 (quarantined) — proving the
    state store checkpointing, not just within-batch accumulation."""
    import pandas as pd

    from lingua_spark.streaming import stateful_conversation_tracker

    src = tmp_path / "in"
    ckpt = tmp_path / "ckpt"
    outdir = tmp_path / "out"

    def feed(turn0):
        rows = [
            ("c1", turn0 + i, "user", "!!!", "",
             pd.Timestamp("2025-01-01") + pd.Timedelta(minutes=turn0 + i))
            for i in range(2)
        ]
        pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                          "text", "tool", "ts"]).astype(
            {"turn_idx": "int32"})
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            str(src))

    def run_once():
        out = stateful_conversation_tracker(spark, str(src))

        def sink(batch_df, _batch_id):
            batch_df.write.mode("append").parquet(str(outdir))

        q = (out.writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(ckpt))
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()

    feed(0)
    run_once()
    first = spark.read.parquet(str(outdir)).toPandas().sort_values("turns")
    assert first.iloc[-1].turns == 2 and first.iloc[-1].drop_streak == 2
    feed(10)
    run_once()
    got = spark.read.parquet(str(outdir)).toPandas().sort_values("turns")
    final = got.iloc[-1]
    assert final.turns == 4
    assert final.drop_streak == 4
    assert final.quarantined  # streak persisted across the restart


def test_unload_models(spark):
    from lingua_spark.engine.udfs import make_detect_udf, unload_models

    make_detect_udf(spark)
    assert unload_models(spark) >= 1
    assert unload_models(spark) == 0


def test_wav_decoder_values():
    """Real WAV PCM decode (VERDICT r02 item 10) with VALUE assertions:
    a 440 Hz sine at amplitude 0.5 has rms ~ 0.5/sqrt(2), peak ~ 0.5,
    zero-crossing rate ~ 2*440/8000."""
    from lingua_spark.ops.multimodal import decode_real, synth_wav

    f = decode_real(synth_wav(freq=440.0, rate=8000, secs=0.5, amp=0.5),
                    "audio/wav")
    assert f.shape == (16,)
    assert f[0] == 1.0                      # mono
    assert f[1] == pytest.approx(8000 / 48000.0)
    assert f[2] == pytest.approx(0.5, abs=1e-3)   # seconds
    assert f[3] == pytest.approx(0.5 / np.sqrt(2), abs=0.01)  # rms
    assert f[4] == pytest.approx(0.5, abs=0.01)   # peak
    assert f[5] == pytest.approx(2 * 440 / 8000, rel=0.05)  # zcr
    # temporal rms profile is flat for a steady tone
    assert np.allclose(f[6:16], f[3], atol=0.02)


def test_ppm_decoder_values():
    """Real PPM decode with VALUE assertions: the synthetic gradient has
    mean R ~ 0.5, G = 64/255, B = 192/255 and zero G/B variance."""
    from lingua_spark.ops.multimodal import decode_real, synth_ppm

    f = decode_real(synth_ppm(w=32, h=16), "image/x-portable-pixmap")
    assert f.shape == (16,)
    assert f[0] == pytest.approx(0.032)  # width/1000
    assert f[1] == pytest.approx(0.016)
    assert f[2] == pytest.approx(0.5, abs=0.02)       # mean R (gradient)
    assert f[3] == pytest.approx(64 / 255, abs=1e-6)  # mean G
    assert f[4] == pytest.approx(192 / 255, abs=1e-6) # mean B
    assert f[6] == pytest.approx(0.0, abs=1e-6)       # std G
    assert f[7] == pytest.approx(0.0, abs=1e-6)       # std B
    assert np.sum(f[8:16]) == pytest.approx(1.0)      # histogram mass


def test_extract_features_uses_real_decoders(spark):
    """End-to-end through the mapInPandas stage: WAV and PPM rows come
    back with the REAL decoded features (value-compared against a driver-
    side decode_real), other mimes keep the stub path."""
    import pandas as pd

    from lingua_spark.ops.multimodal import (
        MEDIA_SCHEMA,
        decode_real,
        decode_stub,
        extract_features,
        synth_ppm,
        synth_wav,
    )

    wav, ppm = synth_wav(), synth_ppm()
    rows = [
        (0, "audio", bytearray(wav), "audio/wav", 0, 0, 500),
        (1, "image", bytearray(ppm), "image/x-portable-pixmap", 32, 16, 0),
        (2, "video", bytearray(b"\x01\x02" * 64), "application/octet-stream",
         64, 64, 1000),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = (
        extract_features(df)
        .toPandas()
        .set_index("media_id")["feature"]
        .to_dict()
    )
    assert np.allclose(got[0], decode_real(wav, "audio/wav"), atol=1e-6)
    assert np.allclose(
        got[1], decode_real(ppm, "image/x-portable-pixmap"), atol=1e-6
    )
    assert np.allclose(got[2], decode_stub(b"\x01\x02" * 64), atol=1e-6)


def test_y4m_decoder_values():
    """Real Y4M video decode (VERDICT r03 item 9) with VALUE assertions:
    synth frames have constant luma 20*(k+1)/255, so decoded mean/std/
    motion are known in closed form."""
    from lingua_spark.ops.multimodal import decode_real, synth_y4m

    f = decode_real(synth_y4m(w=16, h=8, n_frames=5, fps=25),
                    "video/x-yuv4mpeg")
    means = np.array([20 * (k + 1) for k in range(5)]) / 255.0
    assert f.shape == (16,)
    assert f[0] == pytest.approx(0.016)   # width/1000
    assert f[1] == pytest.approx(0.008)   # height/1000
    assert f[2] == pytest.approx(25.0)    # fps
    assert f[3] == pytest.approx(5.0)     # n_frames
    assert f[4] == pytest.approx(means.mean(), abs=1e-6)
    assert f[5] == pytest.approx(means.std(), abs=1e-6)
    assert np.sum(f[6:14]) == pytest.approx(1.0)  # luma histogram mass
    assert f[14] == pytest.approx(20 / 255.0, abs=1e-6)  # inter-frame delta


def test_sample_frames_real_y4m(spark):
    """sample_frames on a Y4M payload returns REAL raw frames: payload
    bytes round-trip (constant luma plane per frame), timestamps follow
    the stream fps, and sampling is uniform over the frame sequence."""
    from pyspark.sql import Row

    from lingua_spark.ops.multimodal import sample_frames, synth_y4m

    w, h, nf = 16, 8, 8
    y4m = synth_y4m(w=w, h=h, n_frames=nf, fps=25)
    df = spark.createDataFrame(
        [Row(media_id=0, kind="video", payload=bytearray(y4m),
             mime="video/x-yuv4mpeg", width=w, height=h,
             duration_ms=nf * 40)]
    )
    frames = sample_frames(df, n_frames=4).toPandas().sort_values("frame_idx")
    assert len(frames) == 4
    # uniform sampling: k*8//4 -> source frames 0,2,4,6; ts = idx*1000/25
    assert frames.frame_ts_ms.tolist() == [0, 80, 160, 240]
    for k, payload in zip(frames.frame_idx, frames.frame_payload):
        luma = np.frombuffer(bytes(payload)[: w * h], dtype=np.uint8)
        assert (luma == 20 * (2 * k + 1)).all()  # source frame 2k


def test_extract_features_decode_fallback(spark):
    """ADVICE r03: one corrupt media payload must not kill the stage —
    the row falls back to the stub feature with decode_ok=False while
    good rows still decode for real (decode_ok=True)."""
    import pandas as pd

    from lingua_spark.ops.multimodal import (
        MEDIA_SCHEMA,
        decode_real,
        decode_stub,
        extract_features,
        synth_wav,
    )

    wav = synth_wav()
    corrupt = wav[:30]  # truncated header -> wave.Error inside the UDF
    df = spark.createDataFrame(
        [
            (0, "audio", bytearray(wav), "audio/wav", 0, 0, 500),
            (1, "audio", bytearray(corrupt), "audio/wav", 0, 0, 500),
        ],
        schema=MEDIA_SCHEMA,
    )
    got = extract_features(df).toPandas().set_index("media_id")
    assert bool(got.loc[0, "decode_ok"]) is True
    assert bool(got.loc[1, "decode_ok"]) is False
    assert np.allclose(got.loc[0, "feature"], decode_real(wav, "audio/wav"))
    assert np.allclose(got.loc[1, "feature"], decode_stub(corrupt))


def test_ppm_guards():
    """ADVICE r03: 16-bit PPM (maxval > 255) raises NotImplementedError
    instead of silently decoding garbage; a truncated raster raises a
    clear ValueError, not an opaque reshape error."""
    from lingua_spark.ops.multimodal import decode_real, synth_ppm

    ppm16 = b"P6\n4 4\n65535\n" + b"\x00" * (4 * 4 * 3 * 2)
    with pytest.raises(NotImplementedError):
        decode_real(ppm16, "image/x-portable-pixmap")
    truncated = synth_ppm(w=8, h=8)[:-5]
    with pytest.raises(ValueError, match="truncated PPM raster"):
        decode_real(truncated, "image/x-portable-pixmap")


def test_connected_components_chain_star_and_isolated(spark):
    """Min-label propagation + pointer jumping must label every node of a
    component with the component's min id: a 6-node chain (worst-case
    diameter for its size), a star, and a 2-cycle, in one edge list."""
    from pyspark.sql import Row

    from lingua_spark.ops.graph import connected_components

    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in
         [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),     # chain 1..6
          (10, 11), (10, 12), (10, 13),               # star at 10
          (20, 21), (21, 20)]]                        # duplicate both ways
    )
    got = {
        r["doc"]: r["rep"]
        for r in connected_components(edges).collect()
    }
    want = {n: 1 for n in range(1, 7)}
    want.update({n: 10 for n in (10, 11, 12, 13)})
    want.update({20: 20, 21: 20})
    assert got == want


def test_minhash_pairs_single_signature_subtree(spark):
    """Plan gate (VERDICT r03 item 7): the LSH pairs query must evaluate
    the signature subtree exactly ONCE. Spark inlines multi-referenced
    CTEs, so any shape referencing `buckets` twice re-runs the whole
    shingle-explode + md5 + groupBy chain — that regression surfaces as
    a second parquet scan of documents."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    df = spark.sql(SQL_QUERIES["dedup_minhash_lsh_pairs"][0])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_minhash_sig_kernel_null_contract(spark):
    """``lingua_minhash_sig`` declares its NULL behaviour instead of
    relying on the SQL filter upstream: a NULL text gives all-NULL
    lanes, a text shorter than k the lanes of its one whole-text
    shingle, a longer one the per-lane minimum over its k-shingles.
    (``spark`` only parses the UDF's DDL return type.)"""
    import hashlib

    import pandas as pd

    from lingua_spark.ops.queries import _make_minhash_sig_udf

    def lanes(s):
        b = s.encode("utf-8")
        ds = (hashlib.md5(b).hexdigest(), hashlib.md5(b"~" + b).hexdigest())
        return [d[i : i + 8] for d in ds for i in (0, 8, 16, 24)]

    kernel = _make_minhash_sig_udf().func
    out = kernel(pd.Series([None, "ab", "abcdefg"]), pd.Series([5, 5, 5]))
    assert list(out.columns) == [f"h{i}" for i in range(1, 9)]
    assert out.iloc[0].isna().all()
    assert list(out.iloc[1]) == lanes("ab")
    shingles = ["abcde", "bcdef", "cdefg"]
    assert list(out.iloc[2]) == [
        min(col) for col in zip(*(lanes(s) for s in shingles))
    ]


def test_exact_flags_shuffles_on_hash_key(spark):
    """Plan gate (VERDICT r03 item 5): dedup_exact_flags must key its
    window Exchange on the 8-byte xxhash64 of the text, never on the raw
    document text."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    df = spark.sql(SQL_QUERIES["dedup_exact_flags"][0])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64(text" in plan, plan
    import re

    keys = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert keys and all(k.startswith("_w0") for k in keys), plan


def test_cosine_topk_broadcasts_query_side(spark):
    """Plan gate (VERDICT r04 "What's wrong" #1): the brute-force cosine
    baseline must broadcast the n_query-row FILTERED side, never the full
    embeddings corpus. Catalyst used to pick the unfiltered scan as the
    BNLJ build side because both join inputs read the same table and only
    the non-equi condition survives; at 100x the corpus that broadcast
    OOMs. The /*+ BROADCAST(q) */ hint pins the build side — this test
    pins the hint."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    df = spark.sql(SQL_QUERIES["sim_cosine_topk"][0])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one broadcast, and the subtree under it carries the vec_id<8
    # pushdown; the streamed side must NOT be broadcast
    assert plan.count("BroadcastExchange") == 1, plan
    below = plan.split("BroadcastExchange", 1)[1]
    build_side = below.split("+- Filter isnotnull", 1)[0]
    assert "LessThan(vec_id,8)" in build_side, plan
    assert "BuildLeft" in plan, plan


def test_minhash_star_pairs_exempt_from_min_bands():
    """ADVICE r03: inside an over-cap bucket only star edges exist, so
    they cannot accumulate >= 2 band collisions; the merge query must
    exempt them from min_bands or capped clusters fragment. Pins (a) the
    exemption clause in BOTH dialects and (b) the behavior: 120 near-
    identical docs (over LSH_BUCKET_CAP, star-reduced in every band)
    stay ONE connected component under the min_bands=2 merge edges."""
    import duckdb

    from lingua_spark.ops.queries import LSH_BUCKET_CAP, _minhash_lsh_pairs

    for dialect in ("spark", "duckdb"):
        sql = _minhash_lsh_pairs(dialect, min_bands=2)
        assert "max(star) = 1" in sql, dialect
        assert "OR max(star)" not in _minhash_lsh_pairs(dialect, min_bands=1)

    import pandas as pd

    common = (
        "the quick brown fox jumps over the lazy dog pack my box "
        "with five dozen liquor jugs " * 3
    )
    n = LSH_BUCKET_CAP + 56
    docs = pd.DataFrame(
        {"doc_id": range(n), "text": [common + f"tail{i:03d}" for i in range(n)]}
    )
    con = duckdb.connect()
    con.register("documents", docs)
    pairs = con.execute(_minhash_lsh_pairs("duckdb", min_bands=2)).df()
    # star reduction: O(n) edges, not O(n^2)
    assert len(pairs) == n - 1
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs.doc_a, pairs.doc_b):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    assert len({find(i) for i in range(n)}) == 1


def test_dedup_minhash_cc_keep_flags(spark):
    """Every cluster keeps exactly its min-id representative; singletons
    keep themselves; cluster_rep is a member doc (min) of each cluster."""
    from lingua_spark.ops.queries import dedup_minhash_cc

    rows = dedup_minhash_cc(spark, "/root/testdata/sf0.001").collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_rep"], []).append(r)
    assert len(rows) == 500  # one row per document
    for rep, members in by_cluster.items():
        ids = sorted(m["doc_id"] for m in members)
        assert rep == ids[0]  # representative is the min member id
        kept = [m for m in members if m["keep"]]
        assert len(kept) == 1 and kept[0]["doc_id"] == rep


def test_connected_components_reliable_checkpoint_identical(spark, tmp_path):
    """VERDICT r03 item 2: with ``checkpoint_dir`` set, per-round label
    tables are reliably checkpointed (executor-loss-safe on a real
    cluster) and the labels are identical to the localCheckpoint default;
    checkpoint files actually land in the directory."""
    from pyspark.sql import Row

    from lingua_spark.ops.graph import connected_components

    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in
         [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
          (10, 11), (10, 12), (10, 13), (20, 21)]]
    )
    local = {r["doc"]: r["rep"] for r in connected_components(edges).collect()}
    ckdir = tmp_path / "cc-checkpoints"
    dir_before = str(spark.sparkContext._jsc.sc().getCheckpointDir())
    reliable_df = connected_components(edges, checkpoint_dir=str(ckdir))
    reliable = {r["doc"]: r["rep"] for r in reliable_df.collect()}
    assert reliable == local
    assert any(ckdir.rglob("*")), "no checkpoint files written"
    # superseded rounds are GC'd as the iteration advances: only the
    # final round's label table survives (not one rdd-* dir per round)
    rdd_dirs = [p for p in ckdir.rglob("rdd-*") if p.is_dir()]
    assert len(rdd_dirs) == 1, rdd_dirs
    # the returned DataFrame is still readable off the surviving files
    assert reliable_df.count() == len(local)
    # the session-global checkpoint dir is restored, not hijacked
    dir_after = str(spark.sparkContext._jsc.sc().getCheckpointDir())
    assert dir_after == dir_before


def test_connected_components_chain_depth_log_compressed(spark, tmp_path):
    """VERDICT r04 item 8: adversarial diameter. A single chain of depth
    2^10 (nodes 0..1024 in a line) is the worst case for label
    propagation — plain min-propagation would need 1024 E-sized rounds.
    The double pointer jump must compress it in O(log diameter): with a
    3x-per-round chase plus the neighbour hop, log(1024) lands well
    under 10 rounds. Runs the RELIABLE df.checkpoint() path (the 100 TB
    configuration) and asserts labels are exact (every node -> 0) and
    the round count stays log-compressed."""
    from pyspark.sql import Row

    from lingua_spark.ops.graph import connected_components

    depth = 2**10
    edges = spark.createDataFrame(
        [Row(src=i, dst=i + 1) for i in range(depth)]
    ).repartition(8)
    stats: dict = {}
    labels = {
        r["doc"]: r["rep"]
        for r in connected_components(
            edges,
            checkpoint_dir=str(tmp_path / "cc-chain"),
            stats=stats,
        ).collect()
    }
    assert len(labels) == depth + 1
    assert set(labels.values()) == {0}, "chain must collapse to rep 0"
    # includes the final changed==0 confirmation round; 2^10 diameter
    # must NOT cost anywhere near 2^10 rounds
    assert stats["rounds"] <= 10, stats
    # compression is monotone until convergence: last round changes 0
    assert stats["changed"][-1] == 0, stats


def test_connected_components_random_graph_matches_union_find(spark):
    """Randomized 120-node graph vs a pure-Python union-find reference."""
    import numpy as np
    from pyspark.sql import Row

    from lingua_spark.ops.graph import connected_components

    rng = np.random.default_rng(42)
    n = 120
    es = {
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(160, 2))
        if a != b
    }
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in es:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {v for e in es for v in e}
    want = {v: find(v) for v in sorted(nodes)}
    edges = spark.createDataFrame([Row(src=a, dst=b) for a, b in sorted(es)])
    got = {
        r["doc"]: r["rep"] for r in connected_components(edges).collect()
    }
    assert got == want


def test_streaming_exact_dedup_flags_and_restart(spark, tmp_path):
    """First-seen-wins dedup state must hold within a batch AND across a
    checkpointed restart: duplicates inside batch 1 are flagged, and a
    batch-2 copy of a batch-1 text is flagged with the continued
    occurrence index."""
    import pandas as pd

    from lingua_spark.streaming import streaming_exact_dedup

    src = tmp_path / "in"
    ckpt = tmp_path / "ckpt"
    outdir = tmp_path / "out"

    def feed(rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        ).astype({"turn_idx": "int32"})
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            str(src)
        )

    def run_once():
        out = streaming_exact_dedup(spark, str(src))

        def sink(batch_df, _batch_id):
            batch_df.write.mode("append").parquet(str(outdir))

        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(ckpt))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()

    t0 = pd.Timestamp("2025-01-01")
    feed([
        ("c1", 0, "user", "hello world", "", t0),
        ("c1", 1, "user", "unique text one", "", t0 + pd.Timedelta(minutes=1)),
        ("c2", 0, "user", "hello world", "", t0 + pd.Timedelta(minutes=2)),
    ])
    run_once()
    got = (
        spark.read.parquet(str(outdir)).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    flags = {(r.conv_id, r.turn_idx): (r.is_dup, r.occurrence)
             for r in got.itertuples()}
    assert flags[("c1", 0)] == (False, 1)   # first "hello world"
    assert flags[("c1", 1)] == (False, 1)
    assert flags[("c2", 0)] == (True, 2)    # within-batch duplicate

    feed([("c3", 0, "user", "hello world", "",
           t0 + pd.Timedelta(minutes=9))])
    run_once()
    got2 = spark.read.parquet(str(outdir)).toPandas()
    r = got2[got2.conv_id == "c3"].iloc[0]
    assert bool(r.is_dup) and r.occurrence == 3  # state survived restart


def test_gopher_quality_invariants(spark):
    """gopher_quality: fractions are valid, and the keep flag is exactly
    the published rule recomputed from the query's own output columns."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    g = spark.sql(SQL_QUERIES["gopher_quality"][0]).toPandas()
    assert (g.n_tokens >= 1).all()
    assert ((g.top_token_frac > 0) & (g.top_token_frac <= 1)).all()
    assert ((g.top_bigram_frac >= 0) & (g.top_bigram_frac <= 1)).all()
    # the most frequent token accounts for at least 1/n of the mass
    # (5e-5 slack: the reported fraction is rounded to 4 decimals)
    assert (g.top_token_frac >= 1.0 / g.n_tokens - 5e-5).all()
    want = (
        (g.n_tokens >= 5)
        & g.mean_token_len.between(2, 12)
        & (g.top_token_frac <= 0.3)
        & (g.top_bigram_frac <= 0.25)
    )
    # rounding in the reported fractions can flip a razor-edge case; on
    # this corpus none sit on the boundary
    assert (g.keep_gopher == want).all()


def test_decontaminate_flags_only_train_docs(spark):
    """decontaminate_ngram: never flags an eval doc, and every flagged
    doc really shares a 4-token shingle with the eval slice (recomputed
    in pandas)."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.01")
    d = spark.sql(SQL_QUERIES["decontaminate_ngram"][0]).toPandas()
    assert len(d) > 0
    assert (d.doc_id % 97 != 0).all()
    docs = spark.sql("SELECT doc_id, text FROM documents").toPandas()

    def grams(text):
        t = [w for w in text.lower().strip().split(" ") if w]
        return {" ".join(t[i : i + 4]) for i in range(len(t) - 3)}

    ev = set()
    for _, r in docs[docs.doc_id % 97 == 0].iterrows():
        ev |= grams(r.text)
    by_id = docs.set_index("doc_id").text
    for _, r in d.iterrows():
        hits = grams(by_id.loc[r.doc_id]) & ev
        assert len(hits) == r.n_contaminated_ngrams


def test_substring_spans_island_merge_semantics(spark):
    """dedup_substring_spans on a hand-built corpus: pins corpus-wide
    duplication counting (cross-doc AND within-doc), the <=k
    adjacency-merge rule, the two-island split, and the short-doc
    exclusion — against spans worked out by hand."""
    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [
        (1, "a b c d e x y z w v"),          # "a b c d e" @1 (dup'd)
        (2, "q q q a b c d e r r"),          # same shingle @4
        (3, "a b c d e a b c d e"),          # @1 and @6: gap 5 -> merge
        (4, "a b c d e f g h i j k a b c d e"),  # @1 and @12: gap 11 -> split
        (5, "a b c"),                        # < k tokens -> no shingles
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = (
        spark.sql(SQL_QUERIES["dedup_substring_spans"][0])
        .toPandas()
        .sort_values(["doc_id", "span_start"])
        .reset_index(drop=True)
    )
    want = [
        (1, 1, 5, 5),
        (2, 4, 8, 5),
        (3, 1, 10, 10),
        (4, 1, 5, 5),
        (4, 12, 16, 5),
    ]
    assert [tuple(r) for r in got.itertuples(index=False)] == want


def test_substring_spans_invariants_on_corpus(spark):
    """On the real table: spans are >= k tokens, inside the document,
    and per-doc islands are disjoint with at least one non-duplicated
    token between them (else they would have merged)."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    s = (
        spark.sql(SQL_QUERIES["dedup_substring_spans"][0])
        .toPandas()
        .sort_values(["doc_id", "span_start"])
    )
    assert len(s) > 0
    assert (s.span_tokens >= 5).all()
    assert (s.span_tokens == s.span_end - s.span_start + 1).all()
    assert (s.span_start >= 1).all()
    ntok = (
        spark.sql(
            "SELECT doc_id, size(filter(split(lower(trim(text)), ' +'),"
            " x -> x != '')) AS n FROM documents"
        )
        .toPandas()
        .set_index("doc_id")
        .n
    )
    assert (s.span_end.values <= ntok.loc[s.doc_id].values).all()
    prev = s.groupby("doc_id").span_end.shift()
    gap_ok = prev.isna() | (s.span_start > prev + 1)
    assert gap_ok.all()


def test_substring_trim_applies_spans(spark):
    """dedup_substring_trim on the hand corpus: duplicated spans are cut
    from the normalized token stream (aggressive policy — every
    occurrence), untouched docs pass through, a fully-duplicated doc
    trims to '', and dup_tokens matches the spans' token accounting."""
    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [
        (1, "a b c d e x y z w v"),
        (2, "q q q a b c d e r r"),
        (3, "a b c d e a b c d e"),
        (4, "a b c d e f g h i j k a b c d e"),
        (5, "a b c"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = (
        spark.sql(SQL_QUERIES["dedup_substring_trim"][0])
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = [
        (1, 10, 5, "x y z w v"),
        (2, 10, 5, "q q q r r"),
        (3, 10, 10, ""),
        (4, 16, 10, "f g h i j k"),
        (5, 3, 0, "a b c"),
    ]
    assert [tuple(r) for r in got.itertuples(index=False)] == want


def test_substring_trim_consistent_with_spans_on_corpus(spark):
    """On the real table: every doc comes back exactly once, dup_tokens
    equals the sum of that doc's span_tokens from the spans query, and
    the trimmed token count is n_tokens - dup_tokens."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    trim = spark.sql(SQL_QUERIES["dedup_substring_trim"][0]).toPandas()
    spans = spark.sql(SQL_QUERIES["dedup_substring_spans"][0]).toPandas()
    ndocs = spark.table("documents").count()
    assert len(trim) == ndocs
    assert trim.doc_id.is_unique
    per_doc = spans.groupby("doc_id").span_tokens.sum()
    t = trim.set_index("doc_id")
    assert (
        t.dup_tokens.subtract(per_doc, fill_value=0) == 0
    ).all(), "dup_tokens must equal summed span_tokens"
    kept = t.trimmed_text.map(lambda s: len(s.split()) if s else 0)
    assert (kept == t.n_tokens - t.dup_tokens).all()


def test_substring_spans_plan_one_scan_two_exchanges(spark):
    """Plan gate: dedup_substring_spans must read documents ONCE (the
    window-count form — a groupBy+self-join would scan/explode twice),
    shuffle exactly twice (shingle partition, then per-doc merge), and
    run the explode exactly once."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    df = spark.sql(SQL_QUERIES["dedup_substring_spans"][0])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Generate explode") == 1, plan


def test_conv_dedup_exact_partitions_convs(spark):
    """conv_dedup_exact: every conversation lands in exactly one group,
    keys are md5 hex, and keep_conv_id is a member of the group."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    c = spark.sql(SQL_QUERIES["conv_dedup_exact"][0]).toPandas()
    n_convs = spark.sql(
        "SELECT count(DISTINCT doc_id % 50) AS n FROM documents"
    ).toPandas().n[0]
    assert c.dup_count.sum() == n_convs
    assert c.conv_key.str.fullmatch("[0-9a-f]{32}").all()
    assert c.keep_conv_id.str.startswith("conv-").all()


def test_conv_stats_salted_equals_plain_agg_on_skewed_input(spark):
    """The north rule's skew criterion, directly: one conversation holds
    ~90% of all turns (a 1000x-median hot key); the salted two-phase
    rollup must still equal the plain single-phase aggregation row for
    row. Also checks the partial stage really fans the hot key out
    across salt buckets (>1 partial per conv)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from lingua_spark.engine.pipeline import conversation_stats

    rows = [("conv-hot", i, i % 3 != 0) for i in range(9000)]
    for c in range(100):
        rows += [(f"conv-{c}", i, i % 2 == 0) for i in range(10)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "keep"])
    )
    got = conversation_stats(df, n_salt=16).toPandas()
    want = (
        df.groupBy("conv_id")
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
            (F.sum(F.col("keep").cast("long")) / F.count("*")).alias(
                "keep_rate"
            ),
        )
        .toPandas()
    )
    g = got.sort_values("conv_id").reset_index(drop=True)
    w = want.sort_values("conv_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_like=True)
    # the hot conversation's partial agg is spread over the salt space
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(16))
    )
    n_partials = (
        salted.filter("conv_id = 'conv-hot'")
        .select("_salt")
        .distinct()
        .count()
    )
    assert n_partials == 16


def test_semdedup_matches_numpy_twin(spark):
    """Spark semdedup == the NumPy fixture twin at sf0.001 (every column,
    including drop attribution)."""
    import pandas as pd

    from lingua_spark.ops.similarity import dedup_semantic, expected_semdedup

    got = (
        dedup_semantic(spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    emb = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")
    want = expected_semdedup(emb)
    pd.testing.assert_frame_equal(
        got.astype({"dup_of": "float64"}),
        want.astype({"dup_of": "float64"}),
        check_like=True,
    )


def test_semdedup_planted_duplicates(spark):
    """Plant exact-duplicate vectors: exactly one member of each planted
    pair survives, dup_of points into the same cell, and non-duplicate
    vectors are untouched."""
    import numpy as np
    import pandas as pd

    from lingua_spark.ops.similarity import semdedup

    rng = np.random.default_rng(3)
    base = rng.normal(size=(60, 16)).astype(np.float32)
    # vectors 100..104 duplicate vectors 0..4 exactly (cosine 1.0)
    dup = base[:5].copy()
    rows = [(i, base[i].tolist()) for i in range(60)]
    rows += [(100 + i, dup[i].tolist()) for i in range(5)]
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    out = semdedup(spark, emb, n_cells=4, tau=0.99, n_vectors=65).toPandas()
    assert len(out) == 65
    for i in range(5):
        pair = out[out.vec_id.isin([i, 100 + i])]
        assert len(pair) == 2
        assert pair.keep.sum() == 1  # exactly one survives
        dropped = pair[~pair.keep].iloc[0]
        kept = pair[pair.keep].iloc[0]
        assert dropped.dup_of == kept.vec_id
        assert dropped.cell == kept.cell  # same k-means cell
    # with tau=0.99 nothing else collides
    others = out[~out.vec_id.isin(list(range(5)) + [100 + i for i in range(5)])]
    assert others.keep.all()


def test_quality_flag_counts_adversarial_inputs(spark):
    """Adversarial turns trip each heuristic flag and surface in the
    drop-attribution rollup (the driver corpus is clean, so per-flag
    behavior is pinned here): short text, symbol spam, repeated word,
    char runs; plus clean turns under _clean."""
    import pandas as pd

    from pyspark.sql import functions as F

    from lingua_spark.engine.pipeline import assess_turns, with_stable_order

    rows = [
        ("c0", 0, "user", "hi", "", "2025-01-01 00:00:00"),  # too_short
        ("c0", 1, "user", "@@@@ #### $$$$ %%%% &&&&", "", "2025-01-01 00:00:01"),
        ("c0", 2, "user", "spam spam spam spam spam spam spam spam", "",
         "2025-01-01 00:00:02"),  # word_repetition
        ("c0", 3, "user", "aaaaaaaaaaaaaaaaaaaa and more text here", "",
         "2025-01-01 00:00:03"),  # char_run
        ("c0", 4, "user",
         "the quick brown fox jumps over the lazy dog near the river", "",
         "2025-01-01 00:00:04"),  # clean
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    df = spark.createDataFrame(pdf)
    assessed = assess_turns(spark, with_stable_order(df), None, 2)
    flags = (
        assessed.select(
            "turn_idx",
            F.explode(
                F.when(
                    F.size("quality_flags") == 0, F.array(F.lit("_clean"))
                ).otherwise(F.col("quality_flags"))
            ).alias("flag"),
        )
        .toPandas()
    )
    by_turn = flags.groupby("turn_idx").flag.apply(set)
    assert "too_short" in by_turn[0]
    assert {"symbol_ratio", "letter_ratio"} & by_turn[1]
    assert "word_repetition" in by_turn[2]
    assert "char_run" in by_turn[3]
    assert by_turn[4] == {"_clean"}


def test_fingerprint_df_matches_sql_and_single_winnow(spark):
    """fingerprint_pairs_df == the SQL form value for value, and its
    lazy plan evaluates the winnow subtree exactly ONCE (one Window
    node / one documents scan — the SQL form carries 12 scans via CTE
    inlining)."""
    import io as _io
    from contextlib import redirect_stdout

    from lingua_spark.ops.queries import (
        SQL_QUERIES,
        fingerprint_pairs_df,
        register_views,
    )

    sfd = "/root/testdata/sf0.001"
    register_views(spark, sfd)
    want = (
        spark.sql(SQL_QUERIES["dedup_fingerprint_pairs_sql"][0])
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    lazy = fingerprint_pairs_df(spark, sfd, release_cache=False)
    got = (
        lazy.toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    )
    assert len(got) > 0
    assert got.equals(want.astype(got.dtypes.to_dict()))
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    # all four fingerprint consumers (sizes, rare index, both join
    # sides) must read the CACHE — the plan printer re-prints the cached
    # plan under every InMemoryTableScan, so counting Window/Scan nodes
    # is meaningless; an inlined re-evaluation would surface as a
    # FileScan+Window chain NOT wrapped in an InMemoryRelation
    assert plan.count("InMemoryTableScan") >= 3, plan
    spark.catalog.clearCache()
    got2 = (
        fingerprint_pairs_df(spark, sfd)
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    assert got2.equals(got)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "fingerprint_pairs_df leaked a DataFrame cache"
    )


def _md5_lane_keep(doc_id: int, salt: str, rate: float) -> bool:
    """Independent pure-Python model of the samplers' deterministic coin:
    keep iff the 8-hex md5 lane is below floor(rate * 2^32) in hex."""
    import hashlib
    import math

    if rate >= 1.0:
        return True
    lane = hashlib.md5(f"{doc_id}:{salt}".encode()).hexdigest()[:8]
    return lane < format(math.floor(rate * 4294967296.0), "08x")


def test_sample_stratified_lang_matches_python_model(spark):
    """sample_stratified_lang: rates are least(1, cap/n_lang) and every
    per-doc keep decision equals the pure-Python md5-lane coin — i.e.
    the sample is a deterministic function of doc_id, never of
    partitioning, retries, or rand()."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.01")
    s = spark.sql(SQL_QUERIES["sample_stratified_lang"][0]).toPandas()
    docs = spark.sql("SELECT doc_id, lang FROM documents").toPandas()
    assert len(s) == len(docs)
    counts = docs.lang.value_counts()
    for _, r in s.iterrows():
        n = counts[r.lang]
        rate = min(1.0, 100.0 / n)
        assert r.n_lang == n
        assert abs(r.sample_rate - round(rate, 6)) < 1e-9
        assert bool(r.keep_sampled) == _md5_lane_keep(
            int(r.doc_id), "strat", rate
        ), (r.doc_id, r.lang)
    # languages under the cap are kept whole
    small = s[s.n_lang <= 100]
    assert small.keep_sampled.all()
    # the downsampled language lands within 5 sigma of its binomial mean
    big = s[s.n_lang > 100]
    assert len(big) > 0, "fixture should have a language over the cap"
    for lang, grp in big.groupby("lang"):
        n, p = len(grp), grp.sample_rate.iloc[0]
        mean, sigma = n * p, (n * p * (1 - p)) ** 0.5
        assert abs(grp.keep_sampled.sum() - mean) <= 5 * sigma


def test_sample_temperature_lang_flattens_distribution(spark):
    """sample_temperature_lang: the smallest language keeps rate 1.0,
    rates decrease as language size grows (tau<1 flattens), and keep
    decisions match the pure-Python coin with rate n^(tau-1)/max."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.01")
    s = spark.sql(SQL_QUERIES["sample_temperature_lang"][0]).toPandas()
    per_lang = (
        s.groupby("lang")
        .agg(n=("n_lang", "first"), rate=("sample_rate", "first"))
        .sort_values("n")
    )
    assert per_lang.rate.iloc[0] == 1.0
    assert (per_lang.rate.diff().dropna() <= 1e-12).all(), (
        "rate must be non-increasing in language size"
    )
    wmax = per_lang.n.iloc[0] ** (0.3 - 1.0)
    for _, r in s.iterrows():
        rate = (r.n_lang ** (0.3 - 1.0)) / wmax
        assert bool(r.keep_sampled) == _md5_lane_keep(
            int(r.doc_id), "temp", rate
        ), (r.doc_id, r.lang)


def test_conv_truncate_tail_keeps_longest_fitting_suffix(spark):
    """conv_truncate_tail on a hand corpus: the suffix cumulative token
    sum runs from the LAST turn backwards, and keep_in_context marks
    exactly the turns whose suffix total fits the 256-token budget."""
    from lingua_spark.ops.queries import SQL_QUERIES

    long_turn = " ".join(f"w{i}" for i in range(300))
    rows = [  # conv-0: turns 0,1,2 (doc_ids 0,50,100); conv-1: turn 0
        (0, long_turn),
        (50, "a b c d e f g h i j"),
        (100, "k l m n o"),
        (1, "solo turn here"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = (
        spark.sql(SQL_QUERIES["conv_truncate_tail"][0])
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = [
        ("conv-0", 0, 300, 315, False),
        ("conv-0", 1, 10, 15, True),
        ("conv-0", 2, 5, 5, True),
        ("conv-1", 0, 3, 3, True),
    ]
    assert [tuple(r) for r in got.itertuples(index=False)] == want


def test_conv_loop_detect_streaks_and_occurrences(spark):
    """conv_loop_detect on a hand corpus: consecutive same-opening turns
    form a streak, non-adjacent repeats still count as looped turns, and
    unique-opening conversations come back unflagged."""
    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [  # conv-0: 4 turns; conv-1: 2 distinct turns
        (0, "run tests on module alpha"),
        (50, "run tests again please now"),
        (100, "inspect logs for errors"),
        (150, "run tests one more time"),
        (1, "hello there friend"),
        (51, "goodbye for now"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = (
        spark.sql(SQL_QUERIES["conv_loop_detect"][0])
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    want = [
        ("conv-0", 4, 3, 2, True),
        ("conv-1", 2, 0, 1, False),
    ]
    assert [tuple(r) for r in got.itertuples(index=False)] == want


def test_turn_boilerplate_document_frequency_threshold(spark):
    """turn_boilerplate: an opening shared by 3 conversations is
    reported with its conv- and turn-frequency; one shared by only 2
    conversations (even with many turns) stays below the threshold."""
    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [
        (0, "hello how can i help"),      # conv-0
        (1, "hello how are you"),         # conv-1
        (2, "hello how is it going"),     # conv-2
        (52, "hello how do you do"),      # conv-2 again (4 turns, 3 convs)
        (3, "thanks bye for now"),        # conv-3
        (4, "thanks bye see you"),        # conv-4  (2 convs only)
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = spark.sql(SQL_QUERIES["turn_boilerplate"][0]).toPandas()
    assert [tuple(r) for r in got.itertuples(index=False)] == [
        ("hello how", 3, 4)
    ]


def test_turn_dedup_crossconv_hand_corpus(spark):
    """turn_dedup_crossconv: a turn recurring in two DISTINCT
    conversations drops from both (normalization collapses case and
    whitespace), the same text repeated only within ONE conversation is
    kept (the loop detector's business), and contentless turns (empty /
    NULL text) never key and always keep with share 0."""
    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [
        (0, "hello how can i help"),        # conv-0
        (1, "  Hello   HOW can i help "),   # conv-1: normalizes equal
        (2, "same turn twice in one conv"),  # conv-2
        (52, "same turn twice in one conv"),  # conv-2 again
        (3, "a unique turn"),               # conv-3
        (4, ""),                            # conv-4: contentless
        (5, None),                          # conv-5: NULL text
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = (
        spark.sql(SQL_QUERIES["turn_dedup_crossconv"][0])
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = [
        ("conv-0", 0, 2, False),
        ("conv-1", 0, 2, False),
        ("conv-2", 0, 1, True),
        ("conv-2", 1, 1, True),
        ("conv-3", 0, 1, True),
        ("conv-4", 0, 0, True),
        ("conv-5", 0, 0, True),
    ]
    assert [tuple(r) for r in got.itertuples(index=False)] == want


def test_ppl_trigram_score_direction_hand_corpus(spark):
    """ppl_trigram_score: per-trigram NLL under the conditional model is
    ln(c(prefix)/c(trigram)) — a document taking a RARE continuation of
    a common prefix ('thx' where the corpus says 'the') scores a higher
    avg NLL than one following the dominant pattern; exact fixed-point
    values pinned against the closed form; a doc whose cleaned text has
    no letter trigram is absent from the output."""
    import math

    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [(i, "the the the", "xx") for i in range(9)]
    rows += [
        (9, "thx thx thx", "xx"),   # rare continuation of common 'th'
        (10, "12 34!", "xx"),       # cleaned: no letter trigram
    ]
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang"]
    ).createOrReplaceTempView("documents")
    got = (
        spark.sql(SQL_QUERIES["ppl_trigram_score_sql"][0])
        .toPandas()
        .set_index("doc_id")
    )
    assert set(got.index) == set(range(10))
    assert got.loc[0].avg_nll_fp < got.loc[9].avg_nll_fp
    # closed form: c('the')=27, c('thx')=3, c('th')=30
    per_the = -math.floor(math.log(27 / 30) * 1_000_000)
    per_thx = -math.floor(math.log(3 / 30) * 1_000_000)
    assert got.loc[0].nll_fp == 3 * per_the
    assert got.loc[9].nll_fp == 3 * per_thx
    assert (got.avg_nll_fp == got.nll_fp // got.n_trigrams).all()


def test_ppl_trigram_score_invariants_on_corpus(spark):
    """ppl_trigram_score on the real table: every doc with >= 3 letter
    chars in cleaned text scores, n_trigrams matches an independent
    pandas recount of LETTER-ONLY trigrams, and the scoring join
    broadcasts the alphabet-bounded model."""
    import re
    import unicodedata

    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    df = spark.sql(SQL_QUERIES["ppl_trigram_score_sql"][0])
    r = df.toPandas().set_index("doc_id")
    docs = spark.table("documents").select("doc_id", "text").toPandas()

    def n_letter_tris(t):
        # independent twin of _cleaned (\p{N}\p{P} stripped via
        # unicodedata categories, whitespace collapsed) + \p{L}+ check
        # via str.isalpha
        c = (t or "").lower().strip()
        c = "".join(
            ch
            for ch in c
            if not unicodedata.category(ch).startswith(("N", "P"))
        )
        c = re.sub(r"\s+", " ", c)
        return sum(
            1
            for i in range(max(len(c) - 2, 0))
            if c[i : i + 3].isalpha()
        )

    docs["want"] = docs.text.map(n_letter_tris)
    scored = docs[docs.want > 0]
    assert set(scored.doc_id) == set(r.index)
    merged = scored.set_index("doc_id").join(r)
    assert (merged.n_trigrams == merged.want).all()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ppl_score_df_matches_sql_form(spark):
    """ppl_score_df (the canonical persisted-counts shape) is
    value-identical to the SQL oracle form, and its plan reads the
    counts aggregate from cache (one training explode, not two)."""
    from lingua_spark.ops.queries import (
        SQL_QUERIES,
        ppl_score_df,
        register_views,
    )

    register_views(spark, "/root/testdata/sf0.001")
    want = (
        spark.sql(SQL_QUERIES["ppl_trigram_score_sql"][0])
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    lazy = ppl_score_df(spark, "/root/testdata/sf0.001",
                        release_cache=False)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    got = lazy.toPandas().sort_values("doc_id").reset_index(drop=True)
    lazy.lingua_release()
    assert "InMemoryTableScan" in plan
    assert got.equals(want)


def test_ccnet_buckets_ppl_tertiles_and_ordering(spark):
    """ccnet_buckets_ppl: with every language under the sample cap the
    cutoffs are exact, so buckets split each language into tertiles
    (ceil boundaries) and are ORDERED — every head score <= every
    middle score <= every tail score within a language."""
    import math

    from lingua_spark.ops.queries import ccnet_buckets_ppl

    r = ccnet_buckets_ppl(spark, "/root/testdata/sf0.001").toPandas()
    for lang, g in r.groupby("lang"):
        n = len(g)
        heads = g[g.bucket == "head"]
        mids = g[g.bucket == "middle"]
        tails = g[g.bucket == "tail"]
        assert len(heads) == math.ceil(n / 3), (lang, n, len(heads))
        assert len(heads) + len(mids) + len(tails) == n
        if len(heads) and len(mids):
            assert heads.avg_nll_fp.max() <= mids.avg_nll_fp.min()
        if len(mids) and len(tails):
            assert mids.avg_nll_fp.max() <= tails.avg_nll_fp.min()


def test_turn_dedup_crossconv_invariants_on_corpus(spark):
    """turn_dedup_crossconv on the real table: one verdict per turn,
    keep == (share < 2), and every share agrees with an independent
    pandas recomputation of distinct-conversation frequency over the
    same normalized key."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    r = spark.sql(SQL_QUERIES["turn_dedup_crossconv"][0]).toPandas()
    docs = spark.table("documents").select("doc_id", "text").toPandas()
    assert len(r) == len(docs)
    assert (r.keep == (r.n_convs_sharing < 2)).all()

    docs["conv_id"] = "conv-" + (docs.doc_id % 50).astype(str)
    docs["k"] = docs.text.fillna("").str.lower().str.split().str.join(" ")
    share = (
        docs[docs.k != ""].groupby("k").conv_id.nunique().to_dict()
    )
    docs["want"] = docs.k.map(lambda k: share.get(k, 0))
    docs["turn_idx"] = docs.doc_id // 50
    merged = r.merge(docs, on=["conv_id", "turn_idx"])
    assert len(merged) == len(r)
    assert (merged.n_convs_sharing == merged.want).all()


def test_conv_role_structure_invariants_on_corpus(spark):
    """conv_role_structure on the real table: one row per conversation,
    role counts partition the turn count, violations only occur in
    conversations with tool turns (an isolated tool turn is what leaves
    two same-role messages adjacent), and valid_structure is exactly
    (first_role == 'user' AND zero violations)."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    r = spark.sql(SQL_QUERIES["conv_role_structure"][0]).toPandas()
    assert len(r) == r.conv_id.nunique() == 50
    assert (r.n_user + r.n_assistant + r.n_tool == r.n_turns).all()
    viol = r[r.alternation_violations > 0]
    assert (viol.n_tool > 0).all(), (
        "parity-assigned roles only break around tool turns"
    )
    assert (
        r.valid_structure
        == ((r.first_role == "user") & (r.alternation_violations == 0))
    ).all()
    assert r.valid_structure.any() and (~r.valid_structure).any(), (
        "fixture should exercise both verdicts"
    )


def test_transcript_ops_plan_shapes(spark):
    """Plan gates for the transcript-structure operators:
    conv_loop_detect is ONE scan + ONE conv_id exchange (all three
    windows and both rollups reuse the partitioning — the self-join
    form would scan and tokenize twice); conv_truncate_tail is one
    scan + one exchange with text pruned out before the shuffle;
    conv_role_structure broadcast-joins its two conv-level aggregates
    and never reads the text column at all."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")

    plan = (
        spark.sql(SQL_QUERIES["conv_loop_detect"][0])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan

    plan = (
        spark.sql(SQL_QUERIES["conv_truncate_tail"][0])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan

    plan = (
        spark.sql(SQL_QUERIES["conv_role_structure"][0])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "text" not in plan.split("== Physical Plan ==")[-1].lower() or (
        "ReadSchema: struct<doc_id:bigint>" in plan
    ), plan


def test_pack_sequences_hand_corpus(spark):
    """pack_sequences on a hand corpus (seq_len=512): offsets are the
    running token sum per (lang, shard) stream in doc_id order, boundary
    crossings span two sequences, and empty docs are excluded."""
    from lingua_spark.ops.queries import SQL_QUERIES

    def words(n, tag):
        return " ".join(f"{tag}{i}" for i in range(n))

    rows = [  # all one lang/shard: doc_ids 0,16,32 with shards=16
        (0, words(500, "a"), "en"),
        (16, words(100, "b"), "en"),   # crosses the 512 boundary
        (32, words(12, "c"), "en"),
        (48, "", "en"),                # zero tokens -> excluded
        (1, words(5, "d"), "de"),      # separate (lang, shard) stream
    ]
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang"]
    ).createOrReplaceTempView("documents")
    got = (
        spark.sql(SQL_QUERIES["pack_sequences"][0])
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = [
        (0, "en", 0, 500, 0, 0, 0, 1),
        (1, "de", 1, 5, 0, 0, 0, 1),
        (16, "en", 0, 100, 500, 0, 1, 2),
        (32, "en", 0, 12, 600, 1, 1, 1),
    ]
    assert [tuple(r) for r in got.itertuples(index=False)] == want


def test_pack_sequences_stream_invariants(spark):
    """On the real table: within every (lang, shard) stream, offsets
    tile the packed stream exactly (no gaps, no overlaps), sequence ids
    are consistent with offsets, and every nonempty doc appears once."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    p = spark.sql(SQL_QUERIES["pack_sequences"][0]).toPandas()
    assert p.doc_id.is_unique
    for (_, _), g in p.groupby(["lang", "shard"]):
        g = g.sort_values("doc_id")
        ends = (g.start_offset + g.n_tok).tolist()
        assert g.start_offset.tolist() == [0] + ends[:-1], "streams tile"
    assert (p.first_seq == p.start_offset // 512).all()
    assert (p.last_seq == (p.start_offset + p.n_tok - 1) // 512).all()
    assert (p.n_seqs_spanned == p.last_seq - p.first_seq + 1).all()
    assert (p.n_seqs_spanned >= 1).all()


def test_conv_tool_sanity_hand_corpus(spark):
    """conv_tool_sanity with explicit role control (roles are an md5
    coin of doc_id, so pick doc_ids whose synthesized roles form the
    patterns under test is brittle — instead validate invariants on the
    real corpus in the companion test and pin semantics here via the
    DuckDB twin on the same hand rows)."""
    import duckdb

    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [(i, f"turn {i}") for i in range(0, 500, 50)]  # conv-0, 10 turns
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = (
        spark.sql(SQL_QUERIES["conv_tool_sanity"][0])
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in rows:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    want = (
        con.sql(SQL_QUERIES["conv_tool_sanity"][1])
        .df()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    assert got.equals(want.astype(got.dtypes.to_dict()))
    # structural invariants
    assert (got.orphan_tool_turns >= got.tool_chains).all()
    assert (got.tool_protocol_ok == (got.orphan_tool_turns == 0)).all()


def test_conv_tool_sanity_invariants_on_corpus(spark):
    """On the real table: one row per conversation, orphan counts bound
    tool counts, chains bound orphans, and the verdict is exactly
    orphan_tool_turns == 0."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    r = spark.sql(SQL_QUERIES["conv_tool_sanity"][0]).toPandas()
    assert len(r) == 50 and r.conv_id.is_unique
    assert (r.orphan_tool_turns <= r.n_tool).all()
    assert (r.tool_chains <= r.orphan_tool_turns).all()
    assert (r.tool_protocol_ok == (r.orphan_tool_turns == 0)).all()
    assert (~r.tool_protocol_ok).any(), (
        "the md5-coin roles should produce some orphan tool turns"
    )


def test_quality_encoding_flags_injected_corruption(spark):
    """quality_encoding on a hand corpus: clean text passes, replacement
    characters count toward the ratio gate, and control characters fail
    the row outright."""
    from lingua_spark.ops.queries import SQL_QUERIES

    clean = "a perfectly ordinary sentence " * 40   # 1200 chars
    rows = [
        (1, clean),
        (2, clean + "�"),                      # 1 repl in 1201 -> ok
        (3, "short � text"),                   # ratio too high
        (4, "has a bell \x07 char"),                # control char -> fail
        (5, "tabs\tand\nnewlines are fine"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = (
        spark.sql(SQL_QUERIES["quality_encoding"][0])
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.encoding_ok.tolist() == [True, True, False, False, True]
    assert got.n_repl_chars.tolist() == [0, 1, 1, 0, 0]
    assert got.n_ctrl_chars.tolist() == [0, 0, 0, 1, 0]


def test_conv_pii_quarantine_propagates_to_conversation(spark):
    """conv_pii_quarantine on a hand corpus: one PII turn taints its
    conversation's rate; conversations over the 0.2 threshold are
    quarantined, clean ones are not."""
    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [  # conv-0: 2/3 turns with PII -> quarantine
        (0, "contact me at alice@example.com"),
        (50, "my ssn is 123-45-6789"),
        (100, "a perfectly clean turn"),
        # conv-1: 1/5 turns with PII (rate 0.2, NOT > 0.2) -> keep
        (1, "server at 10.0.0.1 is down"),
        (51, "clean turn one"),
        (101, "clean turn two"),
        (151, "clean turn three"),
        (201, "clean turn four"),
        # conv-2: fully clean
        (2, "nothing sensitive here"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = (
        spark.sql(SQL_QUERIES["conv_pii_quarantine"][0])
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    want = [
        ("conv-0", 3, 2, 0.6667, True),
        ("conv-1", 5, 1, 0.2, False),
        ("conv-2", 1, 0, 0.0, False),
    ]
    assert [tuple(r) for r in got.itertuples(index=False)] == want


def test_conv_select_final_hand_corpus(spark):
    """conv_select_final on a hand corpus: the text-derived gates (pii,
    quality, dedup-representative) fire on injected conversations, the
    DuckDB twin agrees row-for-row, and selected / drop_reason are pure
    functions of the six flags. Role-derived gates (structure, tool,
    loop) are pinned on the real corpus in the companion invariants
    test — roles are an md5 coin of doc_id, so hand-picking doc_ids to
    force role patterns would be brittle."""
    import duckdb

    from lingua_spark.ops.queries import SQL_QUERIES

    clean = "this is a perfectly reasonable sentence about software"
    rows = [
        # conv-0: 2/3 turns carry PII -> pii_ok False
        (0, "contact me at alice@example.com"),
        (50, "my ssn is 123-45-6789"),
        (100, clean),
        # conv-1: every turn fails the heuristic keep -> quality_ok False
        (1, "@@@@@@@@@@"),
        (51, "##########"),
        (101, "$$$$$$$$$$"),
        # conv-2 / conv-3: identical turn streams -> conv-3 is the
        # duplicate (min conv_id keeps)
        (2, clean + " two"),
        (52, clean + " fifty two"),
        (3, clean + " two"),
        (53, clean + " fifty two"),
        # conv-4: clean and unique
        (4, clean + " four"),
        (54, clean + " fifty four"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = (
        spark.sql(SQL_QUERIES["conv_select_final"][0])
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in rows:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    want = (
        con.sql(SQL_QUERIES["conv_select_final"][1])
        .df()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    assert got.equals(want.astype(got.dtypes.to_dict()))
    by = got.set_index("conv_id")
    assert not by.loc["conv-0", "pii_ok"]
    assert not by.loc["conv-1", "quality_ok"]
    assert by.loc["conv-2", "dedup_ok"] and not by.loc["conv-3", "dedup_ok"]
    assert by.loc["conv-4", ["pii_ok", "quality_ok", "dedup_ok"]].all()
    flags = ["structure_ok", "tool_ok", "loop_ok", "pii_ok", "quality_ok",
             "dedup_ok"]
    reasons = ["structure", "tool_protocol", "loop", "pii", "quality",
               "duplicate"]
    assert (got.selected == got[flags].all(axis=1)).all()
    for _, r in got.iterrows():
        expect = next(
            (reason for f, reason in zip(flags, reasons) if not r[f]), "kept"
        )
        assert r.drop_reason == expect


def test_conv_select_final_matches_component_gates(spark):
    """On the real corpus: one row per conversation, and every fused
    gate is the documented RATE function of the standalone operator's
    signals (conv_role_structure, conv_tool_sanity, conv_loop_detect,
    conv_pii_quarantine, per-turn quality rollup, conv_dedup_exact) —
    the fusion changes the plan, never the decisions. Rate gates (not
    the validators' strict verdicts) keep selection stable in
    conversation length: zero-tolerance selected NOTHING at sf0.1."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    sel = spark.sql(SQL_QUERIES["conv_select_final"][0]).toPandas()
    assert len(sel) == 50 and sel.conv_id.is_unique
    by = sel.set_index("conv_id")

    rs = (
        spark.sql(SQL_QUERIES["conv_role_structure"][0])
        .toPandas()
        .set_index("conv_id")
        .reindex(by.index)
    )
    want_structure = (rs.first_role == "user") & (
        rs.alternation_violations * 10
        <= (rs.n_turns - rs.n_tool - 1).clip(lower=1)
    )
    assert by.structure_ok.equals(want_structure)
    # the strict validator verdict implies the rate gate, never the
    # reverse
    assert (~rs.valid_structure | by.structure_ok).all()
    ts = (
        spark.sql(SQL_QUERIES["conv_tool_sanity"][0])
        .toPandas()
        .set_index("conv_id")
        .reindex(by.index)
    )
    assert by.tool_ok.equals(ts.orphan_tool_turns * 2 <= ts.n_tool)
    assert (~ts.tool_protocol_ok | by.tool_ok).all()
    ld = (
        spark.sql(SQL_QUERIES["conv_loop_detect"][0])
        .toPandas()
        .set_index("conv_id")
        .reindex(by.index)
    )
    assert by.loop_ok.equals(ld.n_looped_turns * 10 <= ld.n_turns)
    assert (ld.loop_flag | by.loop_ok).all()
    pq = (
        spark.sql(SQL_QUERIES["conv_pii_quarantine"][0])
        .toPandas()
        .set_index("conv_id")
    )
    assert by.pii_ok.equals(~pq.quarantine.reindex(by.index))
    assert by.n_turns.equals(pq.n_turns.reindex(by.index))
    dd = spark.sql(SQL_QUERIES["conv_dedup_exact"][0]).toPandas()
    keepers = set(dd.keep_conv_id)
    assert (by.dedup_ok == by.index.isin(keepers)).all()
    assert (sel.drop_reason.eq("kept") == sel.selected).all()
    assert sel.selected.any(), "some conversations must survive all gates"
    assert (~sel.selected).any(), (
        "the md5-coin roles should fail some conversations"
    )


def test_conv_select_final_plan_shape(spark):
    """Plan gate for the fused selection: the turns branch scans
    documents once with full text and the alternation branch prunes to
    doc_id only (2 scans total), exactly one exchange is keyed on the
    turn-level conv_id per branch plus one tiny conv-level exchange on
    the 16-byte conv_key (3 exchanges total, none keyed on text), and
    the conv-level gate stitch broadcasts — a join-of-six-materialized-
    operators shape would scan the corpus six times."""
    import re

    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    df = spark.sql(SQL_QUERIES["conv_select_final"][0])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2, plan
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    assert len(keys) == 3, plan
    assert sum(k.startswith("conv_key") for k in keys) == 1, keys
    assert sum(k.startswith("conv_id") for k in keys) == 2, keys
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "text" not in " ".join(keys)


def test_degenerate_openings_dialect_parity(spark):
    """NULL-vs-empty regression: on NULL text Spark's prefix key stays
    NULL while '' text yields '', but DuckDB collapses BOTH to NULL —
    so with the raw key a NULL-turn and an empty-turn collide inside a
    DuckDB window partition (NULLs group together) but not in Spark,
    and conv_loop_detect / conv_select_final silently disagree on
    corpora with degenerate rows. The sentinel key must make both
    dialects agree AND never count tokenless turns as loops."""
    import duckdb

    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [
        # conv-0: real loop (same opening twice) + NULL + empty turns
        (0, "retry the failing command now"),
        (50, None),
        (100, ""),
        (150, "retry the failing command please"),
        # conv-1: ONLY degenerate turns -> must not loop-flag
        (1, None),
        (51, ""),
        (101, "   "),
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in rows:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])

    for name in ["conv_loop_detect", "turn_boilerplate", "conv_select_final"]:
        got = (
            spark.sql(SQL_QUERIES[name][0])
            .toPandas()
            .sort_values(list(spark.sql(SQL_QUERIES[name][0]).columns[:1]))
            .reset_index(drop=True)
        )
        want = (
            con.sql(SQL_QUERIES[name][1])
            .df()
            .sort_values(list(got.columns[:1]))
            .reset_index(drop=True)
        )
        assert got.astype(str).equals(want[got.columns].astype(str)), name

    ld = (
        spark.sql(SQL_QUERIES["conv_loop_detect"][0])
        .toPandas()
        .set_index("conv_id")
    )
    assert bool(ld.loc["conv-0", "loop_flag"]), "real loop still detected"
    assert not bool(ld.loc["conv-1", "loop_flag"]), (
        "tokenless turns are not loop evidence"
    )
    assert int(ld.loc["conv-1", "max_streak"]) == 1


def test_all_document_queries_degenerate_corpus_parity(spark):
    """Dialect-parity sweep: EVERY documents-table SQL query must
    produce identical results from Spark and DuckDB on a corpus
    containing NULL, empty and whitespace-only text — the row classes
    real crawled/transcript data contains but the synthetic oracle
    corpus does not, where NULL-propagation rules genuinely differ
    between the engines (greatest(), array_to_string(), size()). This
    is the net that caught the loop-key and minhash-signature
    divergences; any new operator lands inside it automatically."""
    import duckdb
    import pandas as pd

    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [
        (0, "hello world this is fine", "en"),
        (50, None, "en"),
        (100, "", "de"),
        (150, "   ", "de"),
        (1, "another normal document here", "en"),
        (51, None, "fr"),
        (101, "repeat repeat repeat repeat", "fr"),
        # conv-2: a SINGLE all-NULL-text conversation and conv-3: a
        # single ''-text one — the canonical-key class where Spark's
        # array_join (drops NULLs) and DuckDB's string_agg (returns
        # NULL) diverge unless elements are NULL-tagged, and where an
        # untagged key silently collides the two conversations
        (2, None, "en"),
        (3, "", "de"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)"
    )
    for r in rows:
        con.execute("INSERT INTO documents VALUES (?, ?, ?)", list(r))

    def norm(df, cols):
        d = df[cols].astype(object)
        d = d.where(pd.notna(d), None)
        return d.astype(str).sort_values(cols).reset_index(drop=True)

    # queries over other tables (events / embeddings / fixture views)
    # are exercised by the driver's oracle gate on the real corpus
    needs_other_tables = {
        "k2_argmax_window", "a6_lang_agg", "sim_cosine_topk",
        "w1_sessionize", "session_window_batch", "embedding_sanity",
        "event_order_audit",
    }
    checked = 0
    for name, (ssql, dsql) in SQL_QUERIES.items():
        if name in needs_other_tables:
            continue
        s = spark.sql(ssql).toPandas()
        d = con.sql(dsql).df()
        cols = sorted(s.columns)
        assert sorted(d.columns) == cols, name
        assert norm(s, cols).equals(norm(d, cols)), name
        checked += 1
    assert checked >= 34


def test_ccnet_quality_buckets_hand_corpus(spark):
    """ccnet_quality_buckets on a hand corpus: stopword-dense text
    lands in head, stopword-free junk in tail, per language; the
    DuckDB twin agrees row-for-row."""
    import duckdb

    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [
        # en: three fluency levels (stopword density 3/6, 1/6, 0/6)
        (1, "the cat and the dog of", "en"),
        (2, "cat runs fast and jumps high", "en"),
        (3, "xyzzy plugh quux frobnicate baz qux", "en"),
        # de: same construction with German stopwords
        (4, "und der hund ist die", "de"),
        (5, "hund rennt schnell und springt", "de"),
        (6, "qwertz asdfgh yxcvbn poiuzt", "de"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).createOrReplaceTempView("documents")
    got = (
        spark.sql(SQL_QUERIES["ccnet_quality_buckets"][0])
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)"
    )
    for r in rows:
        con.execute("INSERT INTO documents VALUES (?, ?, ?)", list(r))
    want = (
        con.sql(SQL_QUERIES["ccnet_quality_buckets"][1])
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(want.astype(got.dtypes.to_dict()))
    assert got.bucket.tolist() == [
        "head", "middle", "tail", "head", "middle", "tail"
    ]
    # most-fluent docs score lowest proxy perplexity
    assert got.proxy_ppl[0] < got.proxy_ppl[1] < got.proxy_ppl[2]


def test_ccnet_quality_buckets_tertiles_on_corpus(spark):
    """On the real corpus (n_lang < sample cap, so cutoffs are exact):
    every doc is assigned, each language splits into three near-equal
    buckets, and bucket order is monotone in proxy_ppl."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    r = spark.sql(SQL_QUERIES["ccnet_quality_buckets"][0]).toPandas()
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert len(r) == docs and r.doc_id.is_unique
    assert set(r.bucket) == {"head", "middle", "tail"}
    for lang, g in r.groupby("lang"):
        counts = g.bucket.value_counts()
        # ties at a cutoff can shift a few docs across the boundary
        assert counts.max() - counts.min() <= max(3, len(g) // 10), lang
        assert (
            g[g.bucket == "head"].proxy_ppl.max()
            <= g[g.bucket == "middle"].proxy_ppl.min() + 1e-9
        ), lang
        assert (
            g[g.bucket == "middle"].proxy_ppl.max()
            <= g[g.bucket == "tail"].proxy_ppl.min() + 1e-9
        ), lang


def test_transcript_export_final_hand_corpus(spark):
    """transcript_export_final on a hand corpus: dropped-duplicate
    conversations export nothing, junk turns are gated out inside
    surviving conversations, PII is scrubbed in the exported text, and
    the packing bookkeeping (densified out_turn_idx, tiling offsets)
    is consistent; DuckDB twin agrees row-for-row."""
    import duckdb

    from lingua_spark.ops.queries import SQL_QUERIES

    clean = "this is a perfectly reasonable sentence about software"
    rows = [
        # conv-2 / conv-3 duplicates: conv-3 must not be exported
        (2, clean + " two"),
        (52, clean + " fifty two"),
        (3, clean + " two"),
        (53, clean + " fifty two"),
        # conv-4: one junk turn (gated out) + one PII turn (scrubbed)
        (4, clean + " four"),
        (54, "@@@@@@@@@@"),
        (104, "write to bob@example.com " + clean),
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .createOrReplaceTempView("documents")
    got = (
        spark.sql(SQL_QUERIES["transcript_export_final"][0])
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in rows:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    want = (
        con.sql(SQL_QUERIES["transcript_export_final"][1])
        .df()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert got.equals(want.astype(got.dtypes.to_dict()))
    assert "conv-3" not in set(got.conv_id), "duplicate conv not exported"
    sel = (
        spark.sql(SQL_QUERIES["conv_select_final"][0])
        .toPandas()
        .set_index("conv_id")
    )
    assert set(got.conv_id) <= set(sel[sel.selected].index)
    if "conv-4" in set(got.conv_id):
        c4 = got[got.conv_id == "conv-4"]
        assert 1 not in set(c4.turn_idx), "junk turn gated out"
        assert not c4.text.str.contains("bob@example.com").any()
        assert c4.text.str.contains("[EMAIL]", regex=False).any()
    for _, g in got.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        assert g.out_turn_idx.tolist() == list(range(1, len(g) + 1))
        ends = (g.start_offset + g.n_tok).tolist()
        assert g.start_offset.tolist() == [0] + ends[:-1], "offsets tile"


def test_transcript_export_final_invariants_on_corpus(spark):
    """On the real corpus: every exported conversation is a selected
    conversation, exported turn streams tile their token offsets, and
    no exported text matches the raw PII patterns."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    e = spark.sql(SQL_QUERIES["transcript_export_final"][0]).toPandas()
    sel = (
        spark.sql(SQL_QUERIES["conv_select_final"][0])
        .toPandas()
        .set_index("conv_id")
    )
    assert len(e) > 0
    assert set(e.conv_id) == set(sel[sel.selected].index)
    for _, g in e.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        assert g.out_turn_idx.tolist() == list(range(1, len(g) + 1))
        ends = (g.start_offset + g.n_tok).tolist()
        assert g.start_offset.tolist() == [0] + ends[:-1]
    assert not e.text.str.contains(
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", regex=True
    ).any()


def test_model_train_ngrams_hand_corpus(spark):
    """Distributed trainer on a hand corpus with hand-computed
    frequencies: unigram freq = count/total letters, n>=2 freq =
    count/count(prefix); cleanup strips digits/punctuation before
    n-gram extraction; DuckDB twin agrees."""
    import duckdb

    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [(1, "aab", "en"), (2, "a1b!", "de")]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).createOrReplaceTempView("documents")
    got = (
        spark.sql(SQL_QUERIES["model_train_ngrams"][0])
        .toPandas()
        .sort_values(["lang", "n", "ngram"])
        .reset_index(drop=True)
    )
    want = [
        # de: cleaned 'ab' (digit and punctuation stripped); bigram
        # denom is the prefix-'a' count (1), not the unigram total
        ("de", 1, "a", 0.5), ("de", 1, "b", 0.5), ("de", 2, "ab", 1.0),
        # en: 'aab' -> a:2/3 b:1/3; aa:1/2 ab:1/2 (prefix 'a' count 2);
        # aab: 1/1 (prefix 'aa' count 1)
        ("en", 1, "a", 2 / 3), ("en", 1, "b", 1 / 3),
        ("en", 2, "aa", 0.5), ("en", 2, "ab", 0.5),
        ("en", 3, "aab", 1.0),
    ]
    import numpy as np

    assert [
        (r.lang, r.n, r.ngram) for r in got.itertuples(index=False)
    ] == [(w[0], w[1], w[2]) for w in want]
    assert np.allclose(got.freq, [np.float32(w[3]) for w in want], atol=0)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)"
    )
    for r in rows:
        con.execute("INSERT INTO documents VALUES (?, ?, ?)", list(r))
    duck = (
        con.sql(SQL_QUERIES["model_train_ngrams"][1])
        .df()
        .sort_values(["lang", "n", "ngram"])
        .reset_index(drop=True)
    )
    assert got.equals(duck.astype(got.dtypes.to_dict()))


def test_model_train_ngrams_bit_matches_driver_trainer(spark):
    """The Spark trainer must produce EXACTLY the rows and float32
    frequencies of the driver-side reference-semantics trainer
    (models.train_models) on the same corpus — the property that lets a
    corpus-scale training run feed the same broadcast lookup machinery
    as build-time models."""
    import pandas as pd

    from lingua_spark.models import train_models
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    got = (
        spark.sql(SQL_QUERIES["model_train_ngrams"][0])
        .toPandas()
        .sort_values(["lang", "n", "ngram"])
        .reset_index(drop=True)
    )
    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = {lang: g.text.tolist() for lang, g in docs.groupby("lang")}
    want = (
        train_models(corpus)
        .sort_values(["lang", "n", "ngram"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got.lang.values == want.lang.values).all()
    assert (got.n.values == want.n.values.astype(got.n.dtype)).all()
    assert (got.ngram.values == want.ngram.values).all()
    assert (
        got.freq.values.astype("float32") == want.freq.values
    ).all(), "float32 frequencies must be bit-identical"
    # the SQL output round-trips through the model-table sink/scan
    # (PackedModels grouping keys on the 79-language enum names, so the
    # ISO-coded synthetic corpus exercises the I/O schema instead)
    import tempfile

    from lingua_spark.models import read_model_table, write_model_table

    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/model.parquet"
        write_model_table(
            got.astype({"lang": "string", "n": "int8", "ngram": "string",
                        "freq": "float32"}),
            path,
        )
        back = read_model_table(path)
        assert len(back) == len(got)


def test_model_train_df_one_scan_twin(spark):
    """model_train_df (persisted-counts, one corpus scan) is
    value-identical to the SQL form; lazy mode shows both count
    consumers reading the cache; default mode leaves no DataFrame
    cache registered."""
    from lingua_spark.ops.queries import (
        SQL_QUERIES,
        model_train_df,
        register_views,
    )

    sfd = "/root/testdata/sf0.001"
    register_views(spark, sfd)
    key = ["lang", "n", "ngram"]
    sql_form = (
        spark.sql(SQL_QUERIES["model_train_ngrams"][0])
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    lazy = model_train_df(spark, sfd, release_cache=False)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, plan
    got_lazy = lazy.toPandas().sort_values(key).reset_index(drop=True)
    assert got_lazy.equals(sql_form)
    lazy.lingua_release()  # drops the per-call view AND the counts cache

    got = (
        model_train_df(spark, sfd)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert got.equals(sql_form)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_model_train_df_feeds_packed_detection_models(spark):
    """End-to-end train-at-scale story: models trained by the Spark
    trainer over an enum-named transcript corpus are bit-identical to
    the driver trainer's AND load into the packed broadcast lookup
    (PackedModels.from_table) with nonzero payload — a corpus-scale
    training run can replace the build-time models wholesale."""
    from lingua_spark.corpus import training_lines
    from lingua_spark.models import PackedModels, train_models
    from lingua_spark.ops.queries import SQL_QUERIES

    langs = ["ENGLISH", "GERMAN", "FRENCH"]
    corpus = {lg: training_lines(lg, n_lines=40) for lg in langs}
    rows = [
        (i * 1000 + j, line, lg)
        for i, lg in enumerate(langs)
        for j, line in enumerate(corpus[lg])
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).createOrReplaceTempView("documents")
    key = ["lang", "n", "ngram"]
    got = (
        spark.sql(SQL_QUERIES["model_train_ngrams"][0])
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = train_models(corpus).sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert (got.ngram.values == want.ngram.values).all()
    assert (got.freq.values.astype("float32") == want.freq.values).all()
    packed = PackedModels.from_table(
        got.astype({"lang": "string", "n": "int8", "ngram": "string",
                    "freq": "float32"})
    )
    assert packed.nbytes() > 0


def test_conv_drop_attribution_accounts_for_every_conversation(spark):
    """The attribution rollup partitions the conversation set exactly:
    counts sum to the number of conversations, shares sum to 1, and
    each reason's count matches conv_select_final's verdicts."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    a = spark.sql(SQL_QUERIES["conv_drop_attribution"][0]).toPandas()
    sel = spark.sql(SQL_QUERIES["conv_select_final"][0]).toPandas()
    assert a.n_convs.sum() == len(sel)
    assert a.n_turns.sum() == sel.n_turns.sum()
    assert abs(a.conv_share.sum() - 1.0) < 1e-6
    want = sel.drop_reason.value_counts()
    for _, r in a.iterrows():
        assert r.n_convs == want[r.drop_reason], r.drop_reason


def test_conv_merge_runs_matches_pandas_twin(spark):
    """conv_merge_runs vs an INDEPENDENT pandas implementation of the
    merge policy (same md5-coin role synthesis recomputed with hashlib):
    runs of consecutive same-role user/assistant turns merge
    newline-joined in turn order, tool turns never merge and break
    runs; every turn is accounted for exactly once."""
    import hashlib

    import pandas as pd

    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    got = (
        spark.sql(SQL_QUERIES["conv_merge_runs"][0])
        .toPandas()
        .sort_values(["conv_id", "merged_idx"])
        .reset_index(drop=True)
    )

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")

    def role_of(doc_id):
        coin = hashlib.md5(f"role:{doc_id}".encode()).hexdigest()[:2]
        if coin < "14":
            return "tool"
        return "user" if (doc_id // 150) % 2 == 0 else "assistant"

    rows = []
    for _, r in docs.iterrows():
        rows.append(
            (f"conv-{r.doc_id % 50}", int(r.doc_id // 50),
             role_of(int(r.doc_id)), r.text)
        )
    want_rows = []
    for conv, g in pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text"]
    ).groupby("conv_id"):
        g = g.sort_values("turn_idx")
        runs = []
        for t in g.itertuples(index=False):
            if (
                runs
                and t.role not in ("tool",)
                and runs[-1]["role"] == t.role
            ):
                runs[-1]["texts"].append(t.text)
                runs[-1]["n"] += 1
            else:
                runs.append(
                    {"role": t.role, "texts": [t.text], "n": 1,
                     "first": t.turn_idx}
                )
        for i, r in enumerate(runs):
            want_rows.append(
                (conv, i + 1, r["role"], "\n".join(r["texts"]), r["n"],
                 r["first"])
            )
    want = (
        pd.DataFrame(
            want_rows,
            columns=["conv_id", "merged_idx", "role", "text", "n_merged",
                     "first_turn_idx"],
        )
        .sort_values(["conv_id", "merged_idx"])
        .reset_index(drop=True)
    )
    assert got.equals(want.astype(got.dtypes.to_dict()))
    assert got.n_merged.sum() == len(docs)
    assert (got[got.role == "tool"].n_merged == 1).all()
    assert (got.n_merged > 1).any(), "the block mapping must produce runs"


def test_new_operator_plan_shapes(spark):
    """Plan gates for the round-4 additions: scan counts and join
    strategies regress loudly, not silently. Exact exchange counts are
    pinned where the operator's docstring claims them."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")

    def plan_of(name):
        df = spark.sql(SQL_QUERIES[name][0])
        return df._jdf.queryExecution().executedPlan().toString()

    # conv_merge_runs: ONE scan, ONE turn-level exchange (windows, the
    # (conv_id, g) groupBy and the merged-idx window all ride it)
    p = plan_of("conv_merge_runs")
    assert p.count("Scan parquet") == 1, p
    assert p.count("Exchange hashpartitioning") == 1, p

    # model_train_ngrams: TWO corpus scans (c1 + denominator branches;
    # the window removed the third), no sort-merge join at this size
    p = plan_of("model_train_ngrams")
    assert p.count("Scan parquet") == 2, p

    # ccnet_quality_buckets: cutoffs and stitches all broadcast — a
    # sort-merge join would mean a per-language shuffle of the corpus
    p = plan_of("ccnet_quality_buckets")
    assert p.count("SortMergeJoin") == 0, p
    assert p.count("BroadcastHashJoin") >= 3, p

    # transcript_export_final: three scans (gated turns + the two
    # conv_select branches), no text-keyed exchange anywhere
    import re

    p = plan_of("transcript_export_final")
    assert p.count("Scan parquet") == 3, p
    keys = re.findall(r"Exchange hashpartitioning\(([^,)]+)", p)
    assert keys and all(not k.startswith("text") for k in keys), keys


def test_conv_minhash_pairs_finds_planted_rerun(spark):
    """conv_minhash_pairs on a planted scenario: two conversations
    sharing 9 of 10 verbatim turns (an agent-log re-run with one
    retry divergence) pair up; an unrelated same-language conversation
    does not; DuckDB twin agrees."""
    import duckdb

    from lingua_spark.ops.queries import SQL_QUERIES

    base = [
        f"the quick brown fox jumps over the lazy dog variant {i} with "
        f"some shared phrasing about distributed query engines"
        for i in range(10)
    ]
    other = [
        f"completely different subject matter line {i} discussing the "
        f"migration of herons across continental flyways in autumn"
        for i in range(10)
    ]
    rows = []
    for t in range(10):
        rows.append((t * 50 + 0, base[t]))                   # conv-0
        rows.append(
            (t * 50 + 1,
             base[t] if t < 9 else "a diverging retry turn appears here")
        )                                                    # conv-1
        rows.append((t * 50 + 2, other[t]))                  # conv-2
    spark.createDataFrame(rows, "doc_id long, text string") \
        .createOrReplaceTempView("documents")
    got = (
        spark.sql(SQL_QUERIES["conv_minhash_pairs"][0])
        .toPandas()
        .sort_values(["conv_a", "conv_b"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in rows:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    want = (
        con.sql(SQL_QUERIES["conv_minhash_pairs"][1])
        .df()
        .sort_values(["conv_a", "conv_b"])
        .reset_index(drop=True)
    )
    assert got.equals(want.astype(got.dtypes.to_dict()))
    assert [tuple(r) for r in got.itertuples(index=False)] == [
        ("conv-0", "conv-1")
    ]


def test_conv_minhash_cc_clusters_planted_rerun(spark):
    """conv_minhash_cc on the planted re-run scenario: the two
    near-duplicate conversations share a cluster with the min conv_id
    kept; the unrelated conversation is its own representative."""
    from lingua_spark.ops.queries import conv_minhash_cc

    base = [
        f"the quick brown fox jumps over the lazy dog variant {i} with "
        f"some shared phrasing about distributed query engines"
        for i in range(10)
    ]
    rows = []
    for t in range(10):
        rows.append((t * 50 + 0, base[t]))
        rows.append(
            (t * 50 + 1,
             base[t] if t < 9 else "a diverging retry turn appears here")
        )
        rows.append((t * 50 + 2, f"unrelated heron migration line {t}"))
    spark.createDataFrame(rows, "doc_id long, text string") \
        .createOrReplaceTempView("documents")
    got = (
        conv_minhash_cc(spark, sf_dir=None)
        .toPandas()
        .set_index("conv_id")
    )
    assert got.loc["conv-0", "keep"] and got.loc["conv-0", "cluster_rep"] == "conv-0"
    assert not got.loc["conv-1", "keep"]
    assert got.loc["conv-1", "cluster_rep"] == "conv-0"
    assert got.loc["conv-2", "keep"]


def test_conv_select_with_neardup_composition(spark):
    """Full conversation selection = gate verdict AND near-dup
    representative; on the planted re-run scenario the duplicate
    conversation is excluded even when its gates pass."""
    from lingua_spark.ops.queries import (
        SQL_QUERIES,
        conv_select_with_neardup,
        register_views,
    )

    register_views(spark, "/root/testdata/sf0.001")
    full = conv_select_with_neardup(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert len(full) == 50 and full.conv_id.is_unique
    assert (full.selected == (full.keep_gates & full.keep_neardup)).all()
    gates = (
        spark.sql(SQL_QUERIES["conv_select_final"][0])
        .toPandas()
        .set_index("conv_id")
    )
    assert (
        full.set_index("conv_id").keep_gates == gates.selected
    ).all()


def test_conv_merge_runs_randomized_corpora(spark):
    """conv_merge_runs vs the pandas twin on three randomized corpora
    (varying doc_id strides and text pools) — role-pattern diversity
    the fixed parquet corpus cannot produce."""
    import hashlib

    import numpy as np
    import pandas as pd

    from lingua_spark.ops.queries import SQL_QUERIES

    def role_of(doc_id):
        coin = hashlib.md5(f"role:{doc_id}".encode()).hexdigest()[:2]
        if coin < "14":
            return "tool"
        return "user" if (doc_id // 150) % 2 == 0 else "assistant"

    for seed in (7, 19, 4242):
        rng = np.random.default_rng(seed)
        doc_ids = rng.choice(5000, size=120, replace=False)
        rows = [
            (int(d), f"text body {seed} {d} " + "w" * int(rng.integers(1, 30)))
            for d in doc_ids
        ]
        spark.createDataFrame(rows, "doc_id long, text string") \
            .createOrReplaceTempView("documents")
        got = (
            spark.sql(SQL_QUERIES["conv_merge_runs"][0])
            .toPandas()
            .sort_values(["conv_id", "merged_idx"])
            .reset_index(drop=True)
        )
        turns = pd.DataFrame(
            [
                (f"conv-{d % 50}", d // 50, role_of(d), t)
                for d, t in rows
            ],
            columns=["conv_id", "turn_idx", "role", "text"],
        )
        want_rows = []
        for conv, g in turns.groupby("conv_id"):
            g = g.sort_values("turn_idx")
            runs = []
            for t in g.itertuples(index=False):
                if (
                    runs
                    and t.role != "tool"
                    and runs[-1]["role"] == t.role
                ):
                    runs[-1]["texts"].append(t.text)
                    runs[-1]["n"] += 1
                else:
                    runs.append(
                        {"role": t.role, "texts": [t.text], "n": 1,
                         "first": t.turn_idx}
                    )
            for i, r in enumerate(runs):
                want_rows.append(
                    (conv, i + 1, r["role"], "\n".join(r["texts"]),
                     r["n"], r["first"])
                )
        want = (
            pd.DataFrame(
                want_rows,
                columns=["conv_id", "merged_idx", "role", "text",
                         "n_merged", "first_turn_idx"],
            )
            .sort_values(["conv_id", "merged_idx"])
            .reset_index(drop=True)
        )
        assert got.equals(want.astype(got.dtypes.to_dict())), seed


def test_transcript_export_full_drops_neardup_reruns(spark):
    """The full export is the gate-export minus near-dup non-
    representative conversations — offsets and output indices of the
    surviving conversations are untouched."""
    from lingua_spark.ops.queries import (
        SQL_QUERIES,
        conv_minhash_cc,
        register_views,
        transcript_export_full,
    )

    sfd = "/root/testdata/sf0.001"
    register_views(spark, sfd)
    full = transcript_export_full(spark, sfd).toPandas()
    base = spark.sql(SQL_QUERIES["transcript_export_final"][0]).toPandas()
    reps = conv_minhash_cc(spark, sfd).toPandas()
    keep = set(reps[reps.keep].conv_id)
    want = base[base.conv_id.isin(keep)].reset_index(drop=True)
    key = ["conv_id", "turn_idx"]
    assert (
        full.sort_values(key).reset_index(drop=True)[want.columns]
        .equals(want.sort_values(key).reset_index(drop=True))
    )
    assert set(full.conv_id) <= keep


def test_sample_frames_corrupt_y4m_degrades_per_row(spark):
    """A truncated Y4M payload (valid magic, cut-off frame) must not fail
    the whole mapInPandas stage: the corrupt row degrades to the
    byte-slice stub while a good Y4M row in the SAME batch still decodes
    for real."""
    from pyspark.sql import Row

    from lingua_spark.ops.multimodal import sample_frames, synth_y4m

    w, h, nf = 16, 8, 8
    good = synth_y4m(w=w, h=h, n_frames=nf, fps=25)
    corrupt = good[: len(good) - w * h]  # cut into the last frame's luma
    df = spark.createDataFrame(
        [
            Row(media_id=0, kind="video", payload=bytearray(good),
                mime="video/x-yuv4mpeg", width=w, height=h,
                duration_ms=nf * 40),
            Row(media_id=1, kind="video", payload=bytearray(corrupt),
                mime="video/x-yuv4mpeg", width=w, height=h,
                duration_ms=nf * 40),
        ]
    )
    frames = sample_frames(df, n_frames=4).toPandas()
    by_id = {mid: g.sort_values("frame_idx") for mid, g in
             frames.groupby("media_id")}
    # good row: real frames, real timestamps
    assert by_id[0].frame_ts_ms.tolist() == [0, 80, 160, 240]
    # corrupt row: still emits 4 stub frames instead of killing the job
    assert len(by_id[1]) == 4
    assert all(len(bytes(p)) <= 32 for p in by_id[1].frame_payload)


def test_conv_select_final_quality_gate_exempts_tool_turns(spark):
    """The prose-quality gate averages the per-turn keep flag over
    NON-TOOL turns only (tool output is legitimately non-prose), the
    same exemption transcript_export_final applies at turn level — a
    tool-dense agent transcript must not be dropped for its tool
    payloads. Pinned against an independent pandas recomputation from
    quality_keep_sql + the md5 role coin."""
    import hashlib

    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    sel = (
        spark.sql(SQL_QUERIES["conv_select_final"][0])
        .toPandas()
        .set_index("conv_id")
    )
    keep = (
        spark.sql(SQL_QUERIES["quality_keep_sql"][0])
        .toPandas()
        .set_index("doc_id")["keep"]
    )

    def role_of(doc_id: int) -> str:
        if hashlib.md5(f"role:{doc_id}".encode()).hexdigest()[:2] < "14":
            return "tool"
        # role_block=50 (the shared turns CTE default) — NOT the 150 of
        # the merge-runs mapping; only tool vs non-tool matters to the
        # quality gate today, but the reference computation must match
        return "user" if (doc_id // 50) % 2 == 0 else "assistant"

    import pandas as pd

    df = pd.DataFrame(
        {
            "doc_id": keep.index,
            "keep": keep.values,
            "conv": [f"conv-{d % 50}" for d in keep.index],
            "role": [role_of(int(d)) for d in keep.index],
        }
    )
    nontool = df[df.role != "tool"].groupby("conv").keep.mean()
    got = sel.quality_rate
    for conv, want in nontool.items():
        assert abs(got[conv] - round(want, 4)) < 1e-9, conv

    # activeness on a hand corpus: conv-11 is (user, tool) under the md5
    # role coin; junk TOOL output with clean prose must score
    # quality_rate 1.0 (the all-turn average would be 0.5) — and the
    # DuckDB dialect agrees
    import duckdb

    rows = [
        (11, "this is a perfectly reasonable user question here"),
        (61, '{"exit_code":0,"@@@###$$$":"%%%^^^&&&***((()))"}'),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    hand = (
        spark.sql(SQL_QUERIES["conv_select_final"][0])
        .toPandas()
        .set_index("conv_id")
    )
    assert hand.loc["conv-11", "quality_rate"] == 1.0
    assert bool(hand.loc["conv-11", "quality_ok"])
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in rows:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    dhand = con.sql(SQL_QUERIES["conv_select_final"][1]).df().set_index(
        "conv_id"
    )
    assert dhand.loc["conv-11", "quality_rate"] == 1.0
    register_views(spark, "/root/testdata/sf0.001")  # restore real views


def test_compositions_reuse_precomputed_clustering(spark):
    """The selection/export compositions accept a precomputed clustering
    table (cluster once, feed every consumer — the 100 TB shape) and
    actually USE it: passing the real conv_minhash_cc output reproduces
    the self-contained result, and passing a doctored table (keep
    flipped for one representative) changes the verdicts accordingly."""
    from pyspark.sql import functions as F

    from lingua_spark.ops.queries import (
        conv_minhash_cc,
        conv_select_with_neardup,
        corpus_select_final,
        dedup_minhash_cc,
        register_views,
        transcript_export_full,
    )

    sfd = "/root/testdata/sf0.001"
    register_views(spark, sfd)
    cc = conv_minhash_cc(spark, sfd).localCheckpoint(eager=True)

    base_sel = conv_select_with_neardup(spark, sfd).toPandas()
    reuse_sel = conv_select_with_neardup(spark, sfd, neardup=cc).toPandas()
    key = ["conv_id"]
    assert (
        base_sel.sort_values(key).reset_index(drop=True)
        .equals(reuse_sel.sort_values(key).reset_index(drop=True))
    )

    base_exp = transcript_export_full(spark, sfd).toPandas()
    reuse_exp = transcript_export_full(spark, sfd, neardup=cc).toPandas()
    k2 = ["conv_id", "turn_idx"]
    assert (
        base_exp.sort_values(k2).reset_index(drop=True)
        .equals(reuse_exp.sort_values(k2).reset_index(drop=True))
    )

    # doctored clustering: drop one kept conversation's representative
    # flag -> it must vanish from the export and lose keep_neardup
    victim = base_exp.conv_id.iloc[0]
    doctored = cc.withColumn(
        "keep",
        F.when(F.col("conv_id") == victim, F.lit(False)).otherwise(
            F.col("keep")
        ),
    )
    doc_exp = transcript_export_full(spark, sfd, neardup=doctored).toPandas()
    assert victim not in set(doc_exp.conv_id)
    doc_sel = (
        conv_select_with_neardup(spark, sfd, neardup=doctored)
        .toPandas()
        .set_index("conv_id")
    )
    assert not doc_sel.loc[victim, "keep_neardup"]

    # document twin: same contract on corpus_select_final
    dd = dedup_minhash_cc(spark, sfd).localCheckpoint(eager=True)
    base_cs = corpus_select_final(spark, sfd).toPandas()
    reuse_cs = corpus_select_final(spark, sfd, dedup=dd).toPandas()
    assert (
        base_cs.sort_values("doc_id").reset_index(drop=True)
        .equals(reuse_cs.sort_values("doc_id").reset_index(drop=True))
    )


def test_semdedup_cell_sizes_audit(spark):
    """semdedup_cell_sizes surfaces the k-means split the O(cell^2)
    within-cell stage rests on: counts match the NumPy twin's
    assignment exactly and sum to the corpus size."""
    import pandas as pd

    from lingua_spark.ops.similarity import (
        IVF_TRAIN_CAP,
        expected_semdedup,
        semdedup_cell_sizes,
    )

    sfd = "/root/testdata/sf0.001"
    emb_df = spark.read.parquet(f"{sfd}/embeddings.parquet")
    got = (
        semdedup_cell_sizes(spark, emb_df)
        .toPandas()
        .sort_values("cell")
        .reset_index(drop=True)
    )
    emb = pd.read_parquet(f"{sfd}/embeddings.parquet")
    want = (
        expected_semdedup(emb)
        .groupby("cell", as_index=False)
        .size()
        .rename(columns={"size": "n_vectors"})
        .sort_values("cell")
        .reset_index(drop=True)
    )
    assert got.cell.tolist() == want.cell.tolist()
    assert got.n_vectors.tolist() == want.n_vectors.tolist()
    assert got.n_vectors.sum() == len(emb)


def test_conv_train_val_split_integrity(spark):
    """The train/val split is conversation-atomic (no conversation
    straddles splits — the transcript leakage trap), deterministic
    across runs, dialect-identical, and the val fraction tracks the
    md5-lane cut on a real corpus."""
    import duckdb
    import hashlib

    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    got = spark.sql(SQL_QUERIES["conv_train_val_split"][0]).toPandas()
    # conversation-atomic: one distinct split value per conversation
    per_conv = got.groupby("conv_id").split.nunique()
    assert (per_conv == 1).all()
    # deterministic + engine-identical: DuckDB twin agrees row-for-row
    con = duckdb.connect()
    for t in ("documents",):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    want = con.sql(SQL_QUERIES["conv_train_val_split"][1]).df()
    key = ["conv_id", "turn_idx"]
    assert (
        got.sort_values(key).reset_index(drop=True)
        .equals(want.sort_values(key).reset_index(drop=True))
    )
    # the coin matches an independent Python recomputation
    for conv, grp in got.groupby("conv_id"):
        coin = hashlib.md5(f"split:{conv}".encode()).hexdigest()[:2]
        expect = "val" if coin < f"{256 * 10 // 100:02x}" else "train"
        assert (grp.split == expect).all(), conv
    # both splits nonempty at 50 conversations (md5 lanes: ~10% val)
    assert set(got.split) == {"train", "val"}


def test_decontaminate_minhash_catches_paraphrase(spark):
    """Fuzzy decontamination flags a lightly-edited copy of an eval doc
    (punctuation/casing edits that defeat exact shingle overlap between
    CLEANED variants is hard to construct; here one word changed out of
    40 keeps jaccard ~0.9) and does not flag unrelated docs; DuckDB twin
    agrees."""
    import duckdb

    from lingua_spark.ops.queries import SQL_QUERIES

    base = ("the quick brown fox jumps over the lazy dog while carrying "
            "a heavy basket of fresh fruit toward the old market square "
            "where vendors gather every morning to trade stories and "
            "goods before the crowds arrive at nine")
    near = base.replace("basket", "crate")  # one-token edit, J ~ 0.9
    rows = [
        (0, base),        # eval slice: doc_id % 97 == 0
        (5, near),        # train: near-dup of the eval doc -> flagged
        (7, "completely unrelated text about differential equations and "
            "numerical stability in long simulations of fluid dynamics "
            "on adaptive meshes with implicit time stepping schemes and "
            "careful boundary condition handling throughout the solver"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = spark.sql(SQL_QUERIES["decontaminate_minhash"][0]).toPandas()
    assert set(got.doc_id) == {5}
    assert int(got.n_shared_bands.iloc[0]) >= 2
    assert int(got.n_eval_matches.iloc[0]) == 1  # exactly eval doc 0
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in rows:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    want = con.sql(SQL_QUERIES["decontaminate_minhash"][1]).df()
    assert set(want.doc_id) == {5}


def test_train_val_split_and_fuzzy_decontam_plan_shapes(spark):
    """Plan gates for the round-4 additions: the train/val split is a
    pure scan-side expression (ZERO exchanges — the split must add no
    shuffle to whatever pipeline it composes into), and fuzzy
    decontamination broadcasts the eval band-key side (the training
    side must never be broadcast or pair-exploded)."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    split_plan = (
        spark.sql(SQL_QUERIES["conv_train_val_split"][0])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in split_plan, split_plan
    assert split_plan.count("Scan parquet") == 1, split_plan

    fuzzy_plan = (
        spark.sql(SQL_QUERIES["decontaminate_minhash"][0])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # round 6: the ev/tr self-reference (which re-evaluated the whole
    # signature subtree twice and broadcast-joined the slices) was
    # replaced by ONE bands evaluation — a single groupBy(band, bkey)
    # collects each bucket's eval ids and train ids and the collisions
    # come from exploding the two lists. Gate the stronger property:
    # exactly one corpus scan, one signature kernel, and NO join of
    # corpus-derived sides at all.
    assert fuzzy_plan.count("Scan parquet") == 1, fuzzy_plan
    assert fuzzy_plan.count("ArrowEvalPython") == 1, fuzzy_plan
    assert "Join" not in fuzzy_plan, fuzzy_plan


def test_embedding_sanity_flags_corrupt_vectors(spark):
    """embedding_sanity catches the vector classes that silently poison
    downstream ANN/k-means (NaN, zero vector, wrong dimension, NULL) and
    passes clean vectors; DuckDB twin agrees row-for-row."""
    import math

    import duckdb

    from lingua_spark.ops.queries import SQL_QUERIES

    good = [0.0] * 63 + [2.0]
    rows = [
        (0, good),                      # sane (norm 2.0)
        (1, [float("nan")] + [0.0] * 63),  # NaN (duckdb param binding
        #   stores this element as NULL — has_nan must still fire via
        #   the coalesce-to-NaN rule, same as a real parquet NaN)
        (2, [0.0] * 64),                # zero vector
        (3, [1.0] * 8),                 # wrong dim
        (4, None),                      # NULL embedding
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).createOrReplaceTempView("embeddings")
    got = (
        spark.sql(SQL_QUERIES["embedding_sanity"][0])
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    assert got.sane.tolist() == [True, False, False, False, False]
    assert got.loc[0, "norm"] == 2.0
    assert bool(got.loc[1, "has_nan"])
    assert got.loc[2, "norm"] == 0.0
    assert got.loc[3, "dim"] == 8
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    for i, e in rows:
        con.execute("INSERT INTO embeddings VALUES (?, ?)", [i, e])
    want = (
        con.sql(SQL_QUERIES["embedding_sanity"][1])
        .df()
        .set_index("vec_id")
        .sort_index()
    )
    assert want.sane.tolist() == got.sane.tolist()
    for v in (0, 2, 3):
        assert want.loc[v, "norm"] == got.loc[v, "norm"]
    assert (
        bool(want.loc[1, "has_nan"]) == bool(got.loc[1, "has_nan"])
    )


def test_lazy_paths_surface_a_release_handle(spark):
    """release_cache=False results carry lingua_release(): the persisted
    intermediates are function-local, so without the handle the 'caller
    owns the release' contract was unfulfillable short of a session-wide
    clearCache. Calling it drops the caches (and model_train_df's
    per-call temp view)."""
    from lingua_spark.ops.budget import token_budget_select
    from lingua_spark.ops.incremental import dedup_incremental_bloom
    from lingua_spark.ops.queries import jaccard_pairs_df, model_train_df

    sfd = "/root/testdata/sf0.001"
    jsc = spark.sparkContext._jsc

    def n_cached():
        return jsc.getPersistentRDDs().size()

    base = n_cached()
    lazies = [
        jaccard_pairs_df(spark, sfd, release_cache=False),
        token_budget_select(spark, sfd, release_cache=False),
        dedup_incremental_bloom(spark, sfd, release_cache=False),
        model_train_df(spark, sfd, release_cache=False),
    ]
    views_with_counts = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("__model_train_counts_")
    ]
    # exactly one NEW per-call view from THIS model_train_df call (other
    # tests in the session may have left their own — only count ours by
    # requiring the set to shrink back after release below)
    assert len(views_with_counts) >= 1
    n_views_before_release = len(views_with_counts)
    for df in lazies:
        df.count()  # full consumption registers every persisted subtree
    # releasing drops EXACTLY the five caches these calls created —
    # token_budget_select holds TWO (the tokenizing scan AND the
    # range-partitioned boundary bucket whose pids must stay frozen
    # between the offset collect and the window read-back; round 5).
    # persist registers the RDD on first execution, so measure the
    # delta around the release, not against the session base.
    before_release = n_cached()
    for df in lazies:
        df.lingua_release()
    assert n_cached() == before_release - 5
    assert n_cached() <= base + 1  # nothing of ours leaks (base may
    #   hold an unrelated localCheckpoint block from earlier tests)
    assert len([
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("__model_train_counts_")
    ]) == n_views_before_release - 1


def test_event_order_audit_measures_disorder(spark):
    """The out-of-order audit counts exactly the events whose timestamp
    precedes an already-seen one (arrival order = event_id) and reports
    the worst backwards jump — the number that sizes a streaming
    watermark. Hand stream with known disorder; DuckDB twin agrees."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    t0 = dt.datetime(2024, 1, 1)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # user 1: one late event (id 2 arrives 40s behind the running max)
        (0, ts(0), 1), (1, ts(60), 1), (2, ts(20), 1), (3, ts(90), 1),
        # user 2: strictly ordered
        (4, ts(0), 2), (5, ts(10), 2),
        # user 3: two late events, worst jump 120s
        (6, ts(200), 3), (7, ts(80), 3), (8, ts(210), 3), (9, ts(205), 3),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
    spark.createDataFrame(pdf).createOrReplaceTempView("events")
    got = (
        spark.sql(SQL_QUERIES["event_order_audit"][0])
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert got.loc[1].tolist() == [4, 1, 40_000]
    assert got.loc[2].tolist() == [2, 0, 0]
    assert got.loc[3].tolist() == [4, 2, 120_000]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT)"
    )
    for eid, t, u in rows:
        con.execute("INSERT INTO events VALUES (?, ?, ?)", [eid, t, u])
    want = (
        con.sql(SQL_QUERIES["event_order_audit"][1])
        .df()
        .set_index("user_id")
        .sort_index()
    )
    assert want.astype("int64").equals(got.astype("int64"))
    register_views(spark, "/root/testdata/sf0.001")  # restore real views


def test_conv_lang_consistency_hand_corpus(spark):
    """Language-consistency audit: a stitched bilingual conversation
    reports 2 languages with the right majority share, a monolingual one
    reports 1 at share 1.0, stopword-free turns abstain; DuckDB twin
    agrees row-for-row."""
    import duckdb

    from lingua_spark.ops.queries import SQL_QUERIES

    en = "the cat and the dog of the house"
    de = "und der hund ist die katze das"
    junk = "xyzzy plugh frobnicate"  # no stopword hit -> abstains
    rows = [
        # conv-0: 3 en turns + 1 de turn (stitched) -> majority en 0.75
        (0, en), (50, en), (100, de), (150, en),
        # conv-1: monolingual de + one abstaining turn
        (1, de), (51, de), (101, junk),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = (
        spark.sql(SQL_QUERIES["conv_lang_consistency"][0])
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    assert got.loc["conv-0"].tolist() == [2, "en", 4, 0.75]
    assert got.loc["conv-1"].tolist() == [1, "de", 2, 1.0]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in rows:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    want = (
        con.sql(SQL_QUERIES["conv_lang_consistency"][1])
        .df()
        .set_index("conv_id")
        .sort_index()
    )
    assert want.equals(got.astype(want.dtypes.to_dict()))


def test_gopher_repetition_brute_force(spark):
    """gopher_repetition vs a pure-Python reference on crafted docs
    covering every branch: all-one-token spam (top-gram gate fires),
    fully unique text (all-zero fractions), a twice-repeated 6-token
    phrase (dup-gram mass at n=5,6), a 2-token doc (only bigrams exist),
    a 1-token doc (zero fractions, gate passes) and an empty doc (no
    unigram -> emits no row at all)."""
    from collections import Counter

    from lingua_spark.ops.queries import SQL_QUERIES

    rows = [
        (1, "spam spam spam spam spam spam spam spam spam spam"),
        # unique text must be LONG to pass: even with every count == 1
        # the top n-gram covers ~n/n_tokens of the chars (same property
        # as the paper's count-top definition -- the gate targets long
        # web docs), so 40 unique tokens keeps top-4 at 0.10 <= 0.16
        (2, " ".join(f"w{i:02d}" for i in range(40))),
        (3, "one two three four five six pad one two three four five six"),
        (4, "a b"),
        (5, "solo"),
        (6, ""),
    ]

    def ref(text):
        t = [x for x in text.lower().strip().split(" ") if x]
        chars = sum(len(x) for x in t)
        masses = {}
        for n in range(2, 11):
            c = Counter(
                " ".join(t[i : i + n]) for i in range(len(t) - n + 1)
            )
            masses[f"t{n}"] = max(
                (k * (len(g) - n + 1) for g, k in c.items()), default=0
            )
            masses[f"d{n}"] = sum(
                (k - 1) * (len(g) - n + 1) for g, k in c.items() if k > 1
            )
        return chars, masses

    from lingua_spark.ops.queries import register_sql_udfs

    register_sql_udfs(spark)  # the Spark form runs the registered kernel
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "documents"
    )
    got = (
        spark.sql(SQL_QUERIES["gopher_repetition_sql"][0])
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    tops = {2: 20, 3: 18, 4: 16}
    dups = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}
    assert 6 not in got.index  # the empty doc has no unigram -> no row
    for doc_id, text in rows:
        chars, m = ref(text)
        if chars == 0:
            continue
        r = got.loc[doc_id]
        assert r.n_chars_tok == chars
        for n in tops:
            assert r[f"top_{n}gram_char_frac"] == round(
                m[f"t{n}"] / max(chars, 1), 4
            ), (doc_id, n)
        for n in dups:
            assert r[f"dup_{n}gram_char_frac"] == round(
                m[f"d{n}"] / max(chars, 1), 4
            ), (doc_id, n)
        want_keep = all(
            m[f"t{n}"] * 100 <= chars * t for n, t in tops.items()
        ) and all(m[f"d{n}"] * 100 <= chars * t for n, t in dups.items())
        assert bool(r.keep_repetition) == want_keep, doc_id
    # branch sanity: the spam doc fails the gate, unique text passes with
    # all-zero dup mass, the phrase doc carries dup mass at n=5 and n=6
    assert not got.loc[1, "keep_repetition"]
    assert got.loc[2, "keep_repetition"]
    assert got.loc[2, "dup_5gram_char_frac"] == 0.0
    assert got.loc[3, "dup_6gram_char_frac"] > 0
    assert got.loc[5, "keep_repetition"]  # 1-token doc: all-zero fractions


def test_gopher_repetition_plan_one_scan_no_join(spark):
    """Plan gate: folding the n=1 unigrams into the gram explode makes
    the whole metric family ONE corpus scan with no join back to a
    token base (the character denominator is the n=1 tot_mass) -- at
    100 TB the second text scan of the LEFT-JOIN shape is the cost."""
    from lingua_spark.ops.queries import SQL_QUERIES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    df = spark.sql(SQL_QUERIES["gopher_repetition_sql"][0])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_gopher_repetition_df_parity_and_plan(spark):
    """The canonical mapInPandas twin is value-identical to the SQL form
    (pandas equals at sf0.001) and its plan is the zero-shuffle shape:
    one scan, no Exchange, no Join -- the metric is doc-local, so ANY
    exchange would be waste at 100 TB."""
    from lingua_spark.ops.queries import (
        SQL_QUERIES,
        gopher_repetition_df,
        register_views,
    )

    register_views(spark, "/root/testdata/sf0.001")
    got = (
        gopher_repetition_df(spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        spark.sql(SQL_QUERIES["gopher_repetition_sql"][0])
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(want.astype(got.dtypes.to_dict()))
    plan = (
        gopher_repetition_df(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_gopher_rep_masses_pure_function():
    """The mass helper standalone: empty and zero-token docs emit no
    row; a doc of one repeated token has dup mass (c-1)*len at every n
    it can fill; masses are exact integers."""
    import pandas as pd

    from lingua_spark.ops.queries import _gopher_rep_masses

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["x x x x x", "", "a b c"]}
    )
    out = _gopher_rep_masses(pdf).set_index("doc_id")
    assert list(out.index) == [1, 3]
    # doc 1: five 'x' tokens, chars=5; bigrams "x x" x4 -> top=4*2=8,
    # dup=(4-1)*2=6; 5-grams: one occurrence -> top=5, dup=0
    assert out.loc[1, "chars"] == 5
    assert out.loc[1, "t2"] == 8
    assert out.loc[1, "d5"] == 0
    # doc 3: all unique -> top masses = gram char length, dup = 0
    assert out.loc[3, "t2"] == 2 and out.loc[3, "d5"] == 0


def test_oracle_sql_texts_frozen_r06():
    """OPTIMIZATION-round guard: the DuckDB oracle text of every query
    exposed at round-6 start must stay BYTE-identical — the driver
    fingerprints oracle texts and grades any drift as a regression.
    Spark-side texts are free to change (they are implementation); this
    pins only the oracle side. The snapshot was taken from the round-6
    start commit."""
    import json
    import re
    from pathlib import Path

    import __spark_entry__ as entry

    from lingua_spark.ops.queries import _FIXTURES_DIR

    frozen = json.loads(
        (Path(__file__).parent / "fixtures" / "oracle_r06_frozen.json")
        .read_text()
    )
    # the snapshot's fixture-backed oracles embed the absolute fixture
    # directory of the checkout it was taken in; map that one prefix to
    # this checkout's and compare every other byte exactly
    snap_dirs = {
        d
        for v in frozen.values()
        for d in re.findall(r"read_parquet\('([^']*)/expected_", v)
    }
    assert len(snap_dirs) == 1, snap_dirs
    (snap_dir,) = snap_dirs
    frozen = {
        k: v.replace(snap_dir, str(_FIXTURES_DIR)) for k, v in frozen.items()
    }
    cur = entry.oracle_sql()
    assert set(frozen) <= set(cur), sorted(set(frozen) - set(cur))
    drifted = [k for k in frozen if cur[k] != frozen[k]]
    assert not drifted, drifted

"""Model set-up: array packing equals the frozen per-n-gram packer bit for
bit, the UDF factories share one broadcast per SparkContext, and the quality
rollups equal in-process ``assess_batch`` on turns of many scripts."""

from __future__ import annotations

import numpy as np
import pandas as pd

import models_reference as ref
from lingua_spark import corpus
from lingua_spark.core.ngram import fnv1a
from lingua_spark.models import PackedModels, _hash_ngrams, train_models


def _assert_same_blocks(df: pd.DataFrame) -> None:
    want_keys, want_freqs = ref.pack_blocks(df)
    got = PackedModels.from_table(df)
    assert list(got.keys) == list(want_keys)  # same blocks, same order
    assert list(got.freqs) == list(want_freqs)
    for block, keys in want_keys.items():
        assert got.keys[block].dtype == keys.dtype
        assert got.keys[block].tobytes() == keys.tobytes(), block
        freqs = want_freqs[block]
        assert got.freqs[block].dtype == freqs.dtype
        assert got.freqs[block].shape == freqs.shape, block
        assert got.freqs[block].tobytes() == freqs.tobytes(), block


_TRAIN_CORPUS = {
    # astral letters: mathematical bold Latin
    "ENGLISH": ["the quick brown fox", "𝐛𝐨𝐥𝐝 𝐰𝐨𝐫𝐝𝐬 and plain words"],
    # combining marks next to letters, precomposed forms beside them
    "FRENCH": ["café èté noël", "café été noël déjà"],
    "RUSSIAN": ["съешь же ещё этих мягких булок", "да выпей чаю"],
    "UKRAINIAN": ["чуєш їх доцю га", "ґанок і їжак"],
    # HAN with astral extension-B ideographs
    "CHINESE": ["我们今天去学校", "𠀀𠀁𠀂 中文 𪚥𪚥"],
    "JAPANESE": ["ひらがなとカタカナと漢字", "ｶﾀｶﾅ カタカナ ひらがな"],
}


def test_packing_bit_identical_on_shipped_table():
    from lingua_spark.resources import model_table

    _assert_same_blocks(model_table())


def test_packing_bit_identical_on_trained_table():
    df = train_models(_TRAIN_CORPUS)
    assert {len(g) for g in df["ngram"]} == {1, 2, 3, 4, 5}
    assert any(ord(c) > 0xFFFF for g in df["ngram"] for c in g)
    _assert_same_blocks(df)


def test_packing_bit_identical_on_irregular_table():
    """A row whose n-gram length differs from its ``n``, a language
    outside ``langdata`` and one (n, group) block repeated eight times
    with other frequencies, so the frequency a duplicated (n-gram,
    language) cell ends up with depends on the row order in the block."""
    df = train_models(_TRAIN_CORPUS)
    i = int(np.flatnonzero(df["n"].to_numpy() == 2)[0])
    df.loc[i, "ngram"] = "𝐚bcd"  # length 4 at n=2
    block = df[df["lang"].isin(["RUSSIAN", "UKRAINIAN"]) & (df["n"] == 3)]
    copies = [
        block.assign(freq=block["freq"] * np.float32(0.5**k)).iloc[::(-1)**k]
        for k in range(1, 9)
    ]
    alien = df.head(3).assign(lang="KLINGON")
    df = pd.concat([copies[0], df, alien, *copies[1:]], ignore_index=True)
    assert df.duplicated(["lang", "n", "ngram"]).sum() > 200
    _assert_same_blocks(df)


def test_hash_ngrams_matches_scalar_fnv1a():
    grams = ["", "a", "ab", "𝐚", "é", "\ud800", "中文𠀀", "abcdefghij"]
    got = _hash_ngrams(np.array(grams, dtype=object))
    assert got.dtype == np.uint64
    assert got.tolist() == [fnv1a(g) for g in grams]


def _assess_rows(spark, udf, texts: list[str]) -> list[str]:
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(texts)), "text": texts})
    )
    rows = df.select("i", udf(F.col("text")).alias("q")).orderBy("i").collect()
    return [repr(r.q.asDict(recursive=True)) for r in rows]


def test_factories_share_one_broadcast_per_context(spark, tmp_path, monkeypatch):
    from lingua_spark.engine.pipeline import run_pipeline
    from lingua_spark.engine.udfs import (
        make_assess_udf,
        make_detect_udf,
        make_multilang_udf,
        unload_models,
    )

    unload_models(spark)  # start from a context without model broadcasts
    sc = spark.sparkContext
    payloads = []
    stock = sc.broadcast

    def counting_broadcast(value):
        payloads.append(value)
        return stock(value)

    monkeypatch.setattr(sc, "broadcast", counting_broadcast)

    turns = corpus.transcripts(
        40, languages=["ENGLISH", "RUSSIAN", "JAPANESE"], seed=5
    )
    texts = [t if isinstance(t, str) else "" for t in turns["text"]][:12]
    assess = make_assess_udf(spark)
    make_assess_udf(spark)
    make_detect_udf(spark)
    make_multilang_udf(spark)
    out = run_pipeline(
        spark, spark.createDataFrame(turns), tmp_path / "run",
        n_partitions=4, waves=2,
    )
    assert len(out["processed_partitions"]) == 4
    assert len(payloads) == 2
    assert isinstance(payloads[0], PackedModels)
    assert isinstance(payloads[1], np.ndarray)  # the ft weights
    before = _assess_rows(spark, assess, texts)

    assert unload_models(spark) == 2
    assert unload_models(spark) == 0
    # a UDF made before the unload still works
    assert _assess_rows(spark, assess, texts) == before
    again = make_assess_udf(spark)
    assert len(payloads) == 4  # re-broadcast after the unload
    assert _assess_rows(spark, again, texts) == before
    assert unload_models(spark) == 2


def _rollups(rows: list[dict]) -> tuple[pd.DataFrame, pd.DataFrame]:
    summary = (
        pd.DataFrame({
            "lang": [r["lang"] for r in rows],
            "kept": [int(r["keep"]) for r in rows],
            "scrubbed": [int(r["n_scrubbed"] > 0) for r in rows],
        })
        .groupby("lang")
        .agg(n_turns=("kept", "size"), kept=("kept", "sum"),
             scrubbed=("scrubbed", "sum"))
        .reset_index()
    )
    flags = (
        pd.Series([f for r in rows for f in (r["quality_flags"] or ["_clean"])],
                  name="flag")
        .value_counts()
        .rename_axis("flag")
        .reset_index(name="n_turns")
    )
    return summary, flags


def _sorted(df: pd.DataFrame, key: str) -> pd.DataFrame:
    return df.astype({c: "int64" for c in df.columns if c != key}).sort_values(
        key).reset_index(drop=True)


def test_quality_rollups_match_assess_batch_on_many_scripts(
    spark, tmp_path, packed_models, ft_model
):
    """``quality_pipeline_summary`` and ``quality_flag_counts`` over ~300
    seeded turns of several scripts (the sf fixtures grade one language
    and one outcome) equal the same rollups of in-process
    ``assess_batch``."""
    from lingua_spark.core.detector import Detector
    from lingua_spark.engine.udfs import _iso
    from lingua_spark.ops.queries import (
        quality_flag_counts,
        quality_pipeline_summary,
    )
    from lingua_spark.quality import QualityConfig, assess_batch

    turns = corpus.transcripts(
        300,
        languages=["ENGLISH", "GERMAN", "POLISH", "RUSSIAN", "GREEK",
                   "ARABIC", "HINDI", "CHINESE", "JAPANESE", "KOREAN"],
        seed=23,
    )
    texts = turns["text"].tolist()
    pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                  "text": texts}).to_parquet(
        tmp_path / "documents.parquet", index=False)

    cfg = QualityConfig()
    det = Detector(
        models=packed_models,
        languages=cfg.languages,
        minimum_relative_distance=cfg.minimum_relative_distance,
        low_accuracy=cfg.low_accuracy,
    )
    rows = assess_batch([t if isinstance(t, str) else "" for t in texts],
                        det, ft_model, cfg)
    for r in rows:
        r["lang"] = _iso(r["lang"])
    want_summary, want_flags = _rollups(rows)
    assert len(want_summary) >= 8  # many languages decided
    assert (want_summary["kept"] < want_summary["n_turns"]).any()
    assert len(want_flags) >= 3  # flags besides _clean

    sf_dir = str(tmp_path)
    got_summary = quality_pipeline_summary(spark, sf_dir).toPandas()
    got_flags = quality_flag_counts(spark, sf_dir).toPandas()
    pd.testing.assert_frame_equal(
        _sorted(got_summary[["lang", "n_turns", "kept", "scrubbed"]], "lang"),
        _sorted(want_summary, "lang"),
    )
    pd.testing.assert_frame_equal(
        _sorted(got_flags[["flag", "n_turns"]], "flag"),
        _sorted(want_flags, "flag"),
    )

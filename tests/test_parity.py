"""Engine vs oracle parity (the M1/M3 invariant of SURVEY.md §7) and
model round-trip (§5 layer 2 analog)."""

import numpy as np
import pandas as pd
import pytest

from lingua_spark import langdata as L
from lingua_spark.core.detector import Detector
from lingua_spark.core.ngram import fnv1a, prefix_hashes
from lingua_spark.corpus import accuracy_corpus, transcripts
from lingua_spark.oracle import OracleDetector


def test_fnv_scalar_matches_vector():
    words = ["hello", "ßtraße", "日本語", "a"]
    for w in words:
        codes = np.frombuffer(w.encode("utf-32-le"), dtype=np.uint32)
        h = prefix_hashes(codes[None, :])
        assert int(h[0, -1]) == fnv1a(w)
        # cumulative states are the prefix hashes
        for k in range(1, len(w) + 1):
            assert int(h[0, k - 1]) == fnv1a(w[:k])


def test_model_roundtrip(tmp_path):
    from lingua_spark.models import (
        PackedModels,
        read_model_table,
        train_models,
        write_model_table,
    )

    corpus = {"ENGLISH": ["the cat sat on the mat"], "GERMAN": ["der hund lief"]}
    df = train_models(corpus)
    p = tmp_path / "m.parquet"
    write_model_table(df, p)
    df2 = read_model_table(p)
    pd.testing.assert_frame_equal(
        df.reset_index(drop=True), df2.reset_index(drop=True)
    )
    pm = PackedModels.from_table(df2)
    # unigram 'e' frequency must survive pack+lookup bit-exactly
    row = df[(df.lang == "ENGLISH") & (df.n == 1) & (df.ngram == "e")]
    want = np.float32(row.freq.iloc[0])
    got = pm.lookup(1, np.array([fnv1a("e")], dtype=np.uint64))[0, L.ORDINAL["ENGLISH"]]
    assert got == want


def test_engine_oracle_exact_parity(packed_models, oracle_tables):
    det = Detector(models=packed_models)
    ora = OracleDetector(tables=oracle_tables)
    acc = accuracy_corpus(per_category=3)
    for iso, cat, i, text in acc.itertuples(index=False):
        a, b = det.detect(text), ora.detect(text)
        assert a == b, f"{iso}/{cat}: engine={a} oracle={b} text={text!r}"
        ca, cb = det.confidence_values(text), ora.confidence_values(text)
        assert ca == cb  # bit-exact confidences


def test_engine_oracle_parity_on_transcripts(packed_models, oracle_tables):
    det = Detector(models=packed_models)
    ora = OracleDetector(tables=oracle_tables)
    tdf = transcripts(n_turns=300)
    for text in tdf.text:
        assert det.detect(text) == ora.detect(text)


def test_long_text_uses_trigrams_only(packed_models):
    # HIGH_ACCURACY_MODE_MAX_TEXT_LENGTH=120 plan switch (op N3)
    from lingua_spark.core.detector import ngram_length_range

    assert ngram_length_range(119, False) == [1, 2, 3, 4, 5]
    assert ngram_length_range(120, False) == [3]
    assert ngram_length_range(2, False) == [1, 2]
    assert ngram_length_range(50, True) == [3]


def test_low_accuracy_short_text_gate(packed_models):
    det = Detector(models=packed_models, low_accuracy=True)
    assert det.confidence_values("en") == []


def test_minimum_relative_distance(packed_models):
    det0 = Detector(models=packed_models)
    text = "to be or not to be"
    confs = det0.confidence_values(text)
    if len(confs) >= 2 and confs[0][1] != confs[1][1]:
        gap = confs[0][1] - confs[1][1]
        det_hi = Detector(
            models=packed_models, minimum_relative_distance=min(0.99, gap + 0.001)
        )
        assert det_hi.detect(text) == "UNKNOWN"


def test_one_detector_class():
    """The batch engine's name is the same class: one scoring path."""
    from lingua_spark.engine.batch import BatchDetector

    assert Detector is BatchDetector


def test_batch_engine_exact_parity(packed_models, oracle_tables):
    """A multi-row batch must match each row on its own (a one-row batch)
    and the independent dict oracle bit-for-bit: same confidences, same
    decisions."""
    from lingua_spark.engine.batch import BatchDetector

    det = Detector(models=packed_models)
    bdet = BatchDetector(models=packed_models)
    ora = OracleDetector(tables=oracle_tables)
    acc = accuracy_corpus(per_category=3)
    # the last row has no 5-letter window: a trailing empty segment
    texts = acc.text.tolist() + ["", "3<856%)§", "びさ", "日本語です",
                                 "this is a short test", "ab cd ef gh"]
    batch = bdet.confidence_rows(texts)
    names = bdet.decide_rows(batch)
    for i, t in enumerate(texts):
        assert det.confidence_values(t) == batch[i], t
        assert ora.confidence_values(t) == batch[i], t
        assert det.detect(t) == names[i], t


def test_batch_trailing_empty_window_rows(packed_models, oracle_tables):
    """Regression (round 2): a chunk row whose cleaned text is long enough
    to request length-n scoring but has NO valid n-windows (all windows
    cross spaces) used to truncate the PREVIOUS row's segment sum by one
    window when it trailed the chunk — _seg_sums clamped its out-of-range
    start offset into the last row's segment. A multi-row batch must match
    each row on its own and the dict oracle with such rows in every
    position."""
    from lingua_spark.engine.batch import BatchDetector

    det = Detector(models=packed_models)
    bdet = BatchDetector(models=packed_models)
    ora = OracleDetector(tables=oracle_tables)
    rich = "по як би і ло на митузу і би веґдуєца що річка не"
    # 'ab cd ef' has length >= 5 but no 5-letter window
    empty5 = "ab cd ef gh"
    for texts in (
        [rich, empty5],
        [empty5, rich],
        [rich, empty5, rich],
        [empty5, rich, empty5],
    ):
        batch = bdet.confidence_rows(texts)
        for i, t in enumerate(texts):
            assert det.confidence_values(t) == batch[i], (texts, t)
            assert ora.confidence_values(t) == batch[i], (texts, t)


def test_batch_parity_at_scale_sf01(packed_models):
    """Chunk-level parity on REAL driver data at sf0.1 (5000 documents):
    the batch engine chunks rows 512 at a time, and chunk-composition
    bugs (e.g. the round-2 _seg_sums trailing-empty-row truncation) only
    surface with many heterogeneous rows. Decisions must match each
    document detected on its own (a one-row batch)."""
    import pandas as pd

    from lingua_spark.engine.batch import BatchDetector

    texts = pd.read_parquet(
        "/root/testdata/sf0.1/documents.parquet"
    ).text.tolist()
    det = Detector(models=packed_models)
    bdet = BatchDetector(models=packed_models)
    batch_names = bdet.detect_rows(texts)
    mismatches = [
        (i, t)
        for i, (t, b) in enumerate(zip(texts, batch_names))
        if det.detect(t) != b
    ]
    assert not mismatches, mismatches[:3]


def test_batch_engine_subset_and_low_accuracy(packed_models):
    from lingua_spark.engine.batch import BatchDetector

    det = Detector(models=packed_models, languages=("ENGLISH", "GERMAN"))
    bdet = BatchDetector(models=packed_models, languages=("ENGLISH", "GERMAN"))
    texts = ["проарплап", "der große fluss", "the people of the year"]
    assert bdet.detect_rows(texts) == [det.detect(t) for t in texts]
    det_la = Detector(models=packed_models, low_accuracy=True)
    bdet_la = BatchDetector(models=packed_models, low_accuracy=True)
    texts2 = ["en", "a longer english sentence about people and time"]
    assert bdet_la.detect_rows(texts2) == [det_la.detect(t) for t in texts2]

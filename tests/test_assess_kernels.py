"""Differential tests: the cross-row assess kernels (clean-up, text stats,
perplexity, the ft cross-check) against their frozen per-row references
in ``tests/assess_reference.py``, row by row and bit for bit, whatever a
row's neighbours in the batch."""

import numpy as np
from hypothesis import given, settings, strategies as st

import assess_reference as ref
from lingua_spark import langdata as L
from lingua_spark.core.detector import decide_confidences
from lingua_spark.core.text import CHUNK_ROWS, clean_up, clean_up_batch
from lingua_spark.ftlangid import _row_buckets
from lingua_spark.quality import (
    text_stats,
    text_stats_batch,
    trigram_perplexity,
    trigram_perplexity_batch,
)

# real words, so that perplexity windows hit the models at every depth
# and each row's log-probabilities differ (a summation-order change then
# shows in the bits)
_WORDS = (
    "the people of year would have time und der die das ist nicht mit "
    "une les des pour dans est что это как для 日本語 です 中文 한국어 "
    "σοφός ΟΔΟΣ Σ ς İstanbul straße café naïve"
).split()
_ALPHABETS = (
    st.characters(min_codepoint=0x61, max_codepoint=0x7A),  # a-z
    st.characters(min_codepoint=0x41, max_codepoint=0x5A),  # A-Z
    st.sampled_from("0123456789.,;:!?-()'\"%§"),  # N and P
    st.sampled_from(" \t\n\x0b\f\r\x00\xa0　"),  # whitespace, NUL
    st.sampled_from("ΣσςΟΔαβİıß"),  # final sigma, dotted I
    st.characters(min_codepoint=0x300, max_codepoint=0x36F),  # combining
    st.characters(min_codepoint=0x4E00, max_codepoint=0x4E40),  # HAN
    st.characters(min_codepoint=0x3041, max_codepoint=0x3096),  # hiragana
    st.characters(min_codepoint=0x30A1, max_codepoint=0x30FA),  # katakana
    st.characters(min_codepoint=0xAC00, max_codepoint=0xAC40),  # Hangul
    st.characters(min_codepoint=0x1F300, max_codepoint=0x1F5FF),  # emoji
    st.characters(min_codepoint=0x20000, max_codepoint=0x2A6DF),  # Han ext B
    st.characters(min_codepoint=0x30000, max_codepoint=0x10FFFF),
)
_PIECE = st.one_of(
    st.sampled_from(_WORDS),
    st.text(st.one_of(*_ALPHABETS), min_size=1, max_size=6),
)
_ROW = st.one_of(
    st.sampled_from(["", " ", "  \t\n ", "123 4", "!?.", "a", "ab", "abc"]),
    st.text(st.one_of(*_ALPHABETS), max_size=4),
    st.builds(
        lambda lead, pieces, sep, trail: lead + sep.join(pieces) + trail,
        st.sampled_from(["", " ", "\t", ". ", "\n\n"]),
        st.lists(_PIECE, max_size=12),
        st.sampled_from([" ", "  ", "\t", " \n", ", "]),
        st.sampled_from(["", " ", " .", "\t\n", "Σ"]),
    ),
)
# ordinals perplexity is scored under; -1 is "no decided language"
_ORDS = [L.ORDINAL[n] for n in ("ENGLISH", "GERMAN", "GREEK", "JAPANESE",
                                "CHINESE", "RUSSIAN", "TURKISH")] + [-1]

_EDGE_ROWS = [
    "", " ", "\t\n", "123 456", "!!! ???", "a", "ab", "abc",
    "ends with a", "a starts with a", "xa", "aab",  # runs at row edges
    "ab .", ". cd", "ab\t", ",\t\tcd  ef",  # whitespace runs at row edges
    "ΟΔΟΣ ΣΟΦΟΣ", "Σ", "Σa", "ΑΣ", "Ab",  # final sigma next to cased rows
    "İstanbul İİİ", "a\x00b\x00cde fgh",
    "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 text 𝟘𝟙", "\U00030001\U00030002 abc \U0010FFFF",
    "e\u0301te cafe\u0301 \u0301\u0301",  # combining marks
    "日本語とEnglishの混合テキスト 한국어 text",
    "  tabs\tand\nnewlines  ", "aaaa", "aaaa bbbb aaaa", "x.  , y",
]


def _cleaned_ref(rows):
    return [ref.clean_up(r) for r in rows]


def _same_float(a, b) -> bool:
    return np.float64(a).tobytes() == np.float64(b).tobytes()


def _check_clean_up(rows, want):
    got, lettered = clean_up_batch(rows)
    assert got == want
    assert lettered.tolist() == [ref.has_letter(c) for c in want]


def _check_text_stats(rows):
    for r, got in zip(rows, text_stats_batch(rows)):
        assert repr(got) == repr(ref.text_stats(r)), r


def _check_perplexity(cleaned, ords, models, want):
    got = trigram_perplexity_batch(cleaned, ords, models)
    for c, g, w in zip(cleaned, got, want):
        assert _same_float(g, w), (c, g, w)


def _check_ft(ft, cleaned):
    scores, has = ft._scores(cleaned)
    ords = ft.predict_ords(cleaned)
    stream, offsets = _row_buckets(cleaned)
    for i, c in enumerate(cleaned):
        seg = stream[offsets[i] : offsets[i + 1]]
        assert np.array_equal(seg, ref.buckets(c).astype(np.int64)), c
        want = ref.ft_scores(ft.weights, c)
        assert has[i] == (want is not None), c
        if want is not None:
            assert scores[i].tobytes() == want.tobytes(), c
        assert ords[i] == ref.ft_predict_ord(ft.weights, c), c


def _check_all(rows, ords, models, ft):
    cleaned = _cleaned_ref(rows)
    want_ppl = [
        ref.trigram_perplexity(c, o, models) if o >= 0 else float("inf")
        for c, o in zip(cleaned, ords)
    ]
    _check_clean_up(rows, cleaned)
    _check_text_stats(rows)
    _check_perplexity(cleaned, ords, models, want_ppl)
    _check_ft(ft, cleaned)
    return cleaned, want_ppl


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(_ROW, min_size=1, max_size=8),
    data=st.data(),
)
def test_assess_kernels_match_frozen_references(
    rows, data, packed_models, ft_model
):
    """Every kernel equals its reference row by row, whatever the row's
    neighbours: shuffled, split at random points, one row per batch; the
    one-row wrappers agree too."""
    ords = data.draw(st.lists(st.sampled_from(_ORDS), min_size=len(rows),
                              max_size=len(rows)))
    cleaned, want_ppl = _check_all(rows, ords, packed_models, ft_model)

    perm = data.draw(st.permutations(range(len(rows))))
    _check_all([rows[p] for p in perm], [ords[p] for p in perm],
               packed_models, ft_model)
    cuts = sorted(data.draw(st.lists(st.integers(0, len(rows)), max_size=3)))
    for a, b in zip([0, *cuts], [*cuts, len(rows)]):
        _check_all(rows[a:b], ords[a:b], packed_models, ft_model)
    for i, r in enumerate(rows):
        _check_all([r], [ords[i]], packed_models, ft_model)
        assert clean_up(r) == cleaned[i]
        assert repr(text_stats(r)) == repr(ref.text_stats(r))
        if ords[i] >= 0:
            assert _same_float(
                trigram_perplexity(cleaned[i], ords[i], packed_models),
                want_ppl[i],
            )
        assert ft_model.predict_ord_cleaned(cleaned[i]) == (
            ref.ft_predict_ord(ft_model.weights, cleaned[i])
        )


def test_assess_kernels_match_frozen_references_on_edge_rows(
    packed_models, ft_model
):
    ords = [_ORDS[i % len(_ORDS)] for i in range(len(_EDGE_ROWS))]
    _check_all(_EDGE_ROWS, ords, packed_models, ft_model)
    for r, o in zip(_EDGE_ROWS, ords):
        _check_all([r], [o], packed_models, ft_model)


def test_assess_kernels_match_frozen_references_on_transcripts(
    packed_models, ft_model
):
    """Generated chat turns across more than one CHUNK_ROWS chunk and many
    ft weight gathers, plus one row whose buckets fill more than a gather
    on their own, each scored under its detected language."""
    from lingua_spark import corpus
    from lingua_spark.core.detector import Detector

    rows = list(corpus.transcripts(CHUNK_ROWS + 200, seed=5)["text"])
    rows.append(" ".join(rows[:200]))
    det = Detector(models=packed_models)
    ords = [L.ORDINAL.get(det.detect(r), -1) for r in rows]
    _check_all(rows, ords, packed_models, ft_model)


def test_decide_confidences_top_two():
    assert decide_confidences([], 0.0) == (L.UNKNOWN, 0.0)
    assert decide_confidences([("GERMAN", 1.0)], 0.5) == ("GERMAN", 1.0)
    two = [("GERMAN", 1.0), ("ENGLISH", 0.75)]
    assert decide_confidences(two, 0.0) == ("GERMAN", 1.0)
    assert decide_confidences(two, 0.25) == ("GERMAN", 1.0)
    assert decide_confidences(two, 0.3) == (L.UNKNOWN, 0.0)
    tie = [("GERMAN", 1.0), ("ENGLISH", 1.0)]
    assert decide_confidences(tie, 0.0) == (L.UNKNOWN, 0.0)

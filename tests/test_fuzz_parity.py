"""Property-based parity: for ARBITRARY unicode text, the detector (one
row at a time and many rows per batch) and the dict oracle must agree
bit-for-bit, and the quality assessment must be total (no exceptions,
keep/drop defined) — the fuzz extension of the fixed-corpus parity suite
(SURVEY.md §5)."""

import numpy as np
from hypothesis import given, settings, strategies as st

# mixed alphabets + punctuation + digits + whitespace + astral chars
_TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),      # ASCII
        st.characters(min_codepoint=0xC0, max_codepoint=0x24F),     # Latin ext
        st.characters(min_codepoint=0x400, max_codepoint=0x4FF),    # Cyrillic
        st.characters(min_codepoint=0x370, max_codepoint=0x3FF),    # Greek
        st.characters(min_codepoint=0x4E00, max_codepoint=0x4FFF),  # Han
        st.characters(min_codepoint=0x3040, max_codepoint=0x30FF),  # Kana
        st.characters(min_codepoint=0x600, max_codepoint=0x6FF),    # Arabic
        st.characters(min_codepoint=0x900, max_codepoint=0x97F),    # Devanagari
        st.characters(min_codepoint=0x1F300, max_codepoint=0x1F5FF),  # emoji
        st.sampled_from(" \t\n.,;:!?'\"-–—()[]0123456789"),
    ),
    max_size=60,
)


@settings(max_examples=120, deadline=None)
@given(texts=st.lists(_TEXT, min_size=1, max_size=6))
def test_three_way_confidence_parity(packed_models, oracle_tables, texts):
    from lingua_spark.core.detector import Detector
    from lingua_spark.engine.batch import BatchDetector
    from lingua_spark.oracle import OracleDetector

    det = Detector(models=packed_models)
    bdet = BatchDetector(models=packed_models)
    ora = OracleDetector(tables=oracle_tables)
    batch = bdet.confidence_rows(texts)
    for i, t in enumerate(texts):
        per_row = det.confidence_values(t)
        assert per_row == batch[i], repr(t)
        assert per_row == ora.confidence_values(t), repr(t)
        assert det.detect(t) == bdet.decide_rows([batch[i]])[0] == ora.detect(t)


@settings(max_examples=60, deadline=None)
@given(text=_TEXT)
def test_assessment_total_and_consistent(packed_models, ft_model, text):
    """assess_text never raises on arbitrary input, produces a defined
    keep/drop, a scrubbed text, and per-row == batch output."""
    from lingua_spark.core.detector import Detector
    from lingua_spark.engine.batch import BatchDetector
    from lingua_spark.quality import QualityConfig, assess_batch, assess_text

    cfg = QualityConfig()
    det = Detector(models=packed_models)
    row = assess_text(text, det, ft_model, cfg)
    assert isinstance(row["keep"], bool)
    assert isinstance(row["scrubbed_text"], str)
    batch = assess_batch([text], BatchDetector(models=packed_models), ft_model, cfg)
    assert batch[0] == row


@settings(max_examples=60, deadline=None)
@given(text=_TEXT)
def test_multilang_sections_invariants(packed_models, text):
    """detect_multi_language is total and structurally sound on fuzz."""
    from lingua_spark.core.detector import Detector
    from lingua_spark.core.multilang import detect_multi_language
    from lingua_spark.uniscript import CAT_LETTER, cat_ids, codes_of

    det = Detector(models=packed_models)
    secs = detect_multi_language(text, det)
    total_letters = int((cat_ids(codes_of(text)) == CAT_LETTER).sum())
    covered = 0
    prev_end = 0
    for s in secs:
        assert 0 <= s["start"] < s["end"] <= len(text)
        assert s["start"] >= prev_end
        prev_end = s["end"]
        covered += s["letters_count"]
    assert covered == total_letters


# W2 corpora: words of many scripts (HAN/kana next to Latin, astral Han and
# math letters, emoji), 1-2 letter words for sections under 3 letters, and
# the boundary characters of W1 (quotes, colons, apostrophes, line breaks)
_WORD = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x61, max_codepoint=0x7A),      # Latin
        st.sampled_from("äöüßéèçñøåłś"),
        st.characters(min_codepoint=0x430, max_codepoint=0x44F),    # Cyrillic
        st.characters(min_codepoint=0x3B1, max_codepoint=0x3C9),    # Greek
        st.characters(min_codepoint=0x4E00, max_codepoint=0x4E80),  # Han
        st.characters(min_codepoint=0x3041, max_codepoint=0x30FA),  # kana
        st.characters(min_codepoint=0x627, max_codepoint=0x64A),    # Arabic
        st.characters(min_codepoint=0x905, max_codepoint=0x939),    # Devanagari
        st.characters(min_codepoint=0x20000, max_codepoint=0x2004F),  # astral Han
        st.characters(min_codepoint=0x1D400, max_codepoint=0x1D44F),  # math letters
        st.characters(min_codepoint=0x1F600, max_codepoint=0x1F64F),  # emoji
    ),
    min_size=1,
    max_size=7,
)
_SEP = st.sampled_from(
    [" ", "  ", '"', ":", ": ", "'", "’", "\n", "\r\n", "«", "»", "“", "”",
     "「", "」", ", ", ". ", "-", "7"]
)
_SECTIONED = st.lists(st.one_of(_WORD, _SEP), max_size=18).map("".join)
_W2_LANGUAGES = (
    None,  # all languages
    ("ENGLISH", "GERMAN", "RUSSIAN", "JAPANESE", "CHINESE", "GREEK"),
)


def _w2_per_section(text: str, languages: tuple[str, ...]):
    """W2 as a loop over the potential sections, each through the one-row
    rule functions on its own code points."""
    from lingua_spark import langdata as L
    from lingua_spark.core.multilang import split_potential_sections
    from lingua_spark.core.rules import (
        detect_language_with_rules,
        filter_languages_by_rules,
    )
    from lingua_spark.core.text import word_spans
    from lingua_spark.uniscript import codes_of

    out = []
    for section in split_potential_sections(text):
        codes = codes_of(section.text())
        spans = word_spans(codes)
        lang = detect_language_with_rules(codes, spans, languages)
        langs = (
            {lang}
            if lang != L.UNKNOWN
            else set(filter_languages_by_rules(codes, spans, languages))
        )
        prev = out[-1] if out else None
        if (
            len(langs) == 1
            and prev is not None
            and len(prev.rule_languages) == 1
            and prev.rule_languages == langs
        ):
            prev.merge_with(section)
        else:
            section.rule_languages = langs
            out.append(section)
    return out


@settings(max_examples=150, deadline=None)
@given(text=_SECTIONED, which=st.sampled_from(range(len(_W2_LANGUAGES))))
def test_w2_rule_languages_match_per_section_loop(packed_models, text, which):
    """W2's one ``rules_batch`` call per text gives the same sections
    (spans, letter counts, rule-language sets) as the per-section loop."""
    from lingua_spark.core.detector import Detector
    from lingua_spark.core.multilang import _sections_with_rule_languages

    langs = _W2_LANGUAGES[which]
    det = (
        Detector(models=packed_models)
        if langs is None
        else Detector(models=packed_models, languages=langs)
    )

    def view(sections):
        return [
            (s.start, s.end, s.letters_count, s.rule_languages)
            for s in sections
        ]

    assert view(_sections_with_rule_languages(text, det)) == view(
        _w2_per_section(text, det.languages)
    ), repr(text)

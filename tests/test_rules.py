"""Model-free rule tests ported from the reference
(`src/test/kotlin/.../api/LanguageDetectorTest.kt:102-563`)."""

import pytest
from hypothesis import given, settings, strategies as st

from lingua_spark import langdata as L
from lingua_spark.core.rules import (
    detect_language_with_rules,
    filter_languages_by_rules,
)
from lingua_spark.core.text import clean_up, word_list, word_spans
from lingua_spark.uniscript import codes_of


def _detect(word: str) -> str:
    codes = codes_of(word)
    return detect_language_with_rules(codes, word_spans(codes))


def _filter(word: str) -> set[str]:
    codes = codes_of(word)
    return set(filter_languages_by_rules(codes, word_spans(codes)))


def test_cleanup_golden():
    # LanguageDetectorTest.kt:102-118
    text = (
        "Weltweit    gibt es ungefähr 6.000 Sprachen,\n"
        "wobei laut Schätzungen zufolge ungefähr 90  Prozent davon\n"
        "am Ende dieses Jahrhunderts verdrängt sein werden."
    )
    assert clean_up(text) == (
        "weltweit gibt es ungefähr sprachen wobei laut schätzungen zufolge "
        "ungefähr prozent davon am ende dieses jahrhunderts verdrängt sein werden"
    )


# LanguageDetectorTest.kt:122-226 (unique characters)
UNIQUE_CHAR_CASES = [
    ("məhərrəm", "AZERBAIJANI"), ("substituïts", "CATALAN"),
    ("rozdělit", "CZECH"), ("tvořen", "CZECH"), ("subjektů", "CZECH"),
    ("nesufiĉecon", "ESPERANTO"), ("intermiksiĝis", "ESPERANTO"),
    ("monaĥinoj", "ESPERANTO"), ("kreitaĵoj", "ESPERANTO"),
    ("ŝpinante", "ESPERANTO"), ("apenaŭ", "ESPERANTO"),
    ("groß", "GERMAN"), ("σχέδια", "GREEK"),
    ("fekvő", "HUNGARIAN"), ("meggyűrűzni", "HUNGARIAN"),
    ("ヴェダイヤモンド", "JAPANESE"),
    ("әлем", "KAZAKH"), ("шаруашылығы", "KAZAKH"), ("ақын", "KAZAKH"),
    ("оның", "KAZAKH"), ("шұрайлы", "KAZAKH"),
    ("teoloģiska", "LATVIAN"), ("blaķene", "LATVIAN"),
    ("ceļojumiem", "LATVIAN"), ("numuriņu", "LATVIAN"),
    ("mergelės", "LITHUANIAN"), ("įrengus", "LITHUANIAN"),
    ("slegiamų", "LITHUANIAN"),
    ("припаѓа", "MACEDONIAN"), ("ѕидови", "MACEDONIAN"),
    ("ќерка", "MACEDONIAN"), ("џамиите", "MACEDONIAN"),
    ("मिळते", "MARATHI"),
    ("үндсэн", "MONGOLIAN"), ("дөхөж", "MONGOLIAN"),
    ("zmieniły", "POLISH"), ("państwowych", "POLISH"),
    ("mniejszości", "POLISH"), ("groźne", "POLISH"),
    ("ialomiţa", "ROMANIAN"),
    ("наслеђивања", "SERBIAN"), ("неисквареношћу", "SERBIAN"),
    ("podĺa", "SLOVAK"), ("pohľade", "SLOVAK"), ("mŕtvych", "SLOVAK"),
    ("ґрунтовому", "UKRAINIAN"), ("пропонує", "UKRAINIAN"),
    ("пристрої", "UKRAINIAN"),
    ("cằm", "VIETNAMESE"), ("thần", "VIETNAMESE"), ("chẳng", "VIETNAMESE"),
    ("quẩy", "VIETNAMESE"), ("sẵn", "VIETNAMESE"), ("nhẫn", "VIETNAMESE"),
    ("dắt", "VIETNAMESE"), ("chất", "VIETNAMESE"), ("đạp", "VIETNAMESE"),
    ("mặn", "VIETNAMESE"), ("hậu", "VIETNAMESE"), ("hiền", "VIETNAMESE"),
    ("lẻn", "VIETNAMESE"), ("biểu", "VIETNAMESE"), ("kẽm", "VIETNAMESE"),
    ("diễm", "VIETNAMESE"), ("phế", "VIETNAMESE"), ("việc", "VIETNAMESE"),
    ("chỉnh", "VIETNAMESE"), ("trĩ", "VIETNAMESE"), ("ravị", "VIETNAMESE"),
    ("thơ", "VIETNAMESE"), ("nguồn", "VIETNAMESE"), ("thờ", "VIETNAMESE"),
    ("sỏi", "VIETNAMESE"), ("tổng", "VIETNAMESE"), ("nhở", "VIETNAMESE"),
    ("mỗi", "VIETNAMESE"), ("bỡi", "VIETNAMESE"), ("tốt", "VIETNAMESE"),
    ("giới", "VIETNAMESE"), ("một", "VIETNAMESE"), ("hợp", "VIETNAMESE"),
    ("hưng", "VIETNAMESE"), ("từng", "VIETNAMESE"), ("của", "VIETNAMESE"),
    ("sử", "VIETNAMESE"), ("cũng", "VIETNAMESE"), ("những", "VIETNAMESE"),
    ("chức", "VIETNAMESE"), ("dụng", "VIETNAMESE"), ("thực", "VIETNAMESE"),
    ("kỳ", "VIETNAMESE"), ("kỷ", "VIETNAMESE"), ("mỹ", "VIETNAMESE"),
    ("mỵ", "VIETNAMESE"),
    ("aṣiwèrè", "YORUBA"), ("ṣaaju", "YORUBA"),
    ("والموضوع", "UNKNOWN"), ("сопротивление", "UNKNOWN"),
    ("house", "UNKNOWN"),
]


@pytest.mark.parametrize("word,expected", UNIQUE_CHAR_CASES)
def test_rule_detection_unique_chars(word, expected):
    assert _detect(word) == expected


# LanguageDetectorTest.kt:229-265 (unique alphabets)
UNIQUE_ALPHABET_CASES = [
    ("ունենա", "ARMENIAN"), ("জানাতে", "BENGALI"), ("გარეუბან", "GEORGIAN"),
    ("σταμάτησε", "GREEK"), ("ઉપકરણોની", "GUJARATI"), ("בתחרויות", "HEBREW"),
    ("びさ", "JAPANESE"), ("대결구도가", "KOREAN"),
    ("ਮੋਟਰਸਾਈਕਲਾਂ", "PUNJABI"), ("துன்பங்களை", "TAMIL"),
    ("కృష్ణదేవరాయలు", "TELUGU"), ("ในทางหลวงหมายเลข", "THAI"),
]


@pytest.mark.parametrize("word,expected", UNIQUE_ALPHABET_CASES)
def test_rule_detection_unique_alphabet(word, expected):
    assert _detect(word) == expected


# LanguageDetectorTest.kt:269-535 (candidate filtering)
FILTER_CASES = [
    ("والموضوع", {"ARABIC", "PERSIAN", "URDU"}),
    ("сопротивление", {"BELARUSIAN", "BULGARIAN", "KAZAKH", "MACEDONIAN",
                       "MONGOLIAN", "RUSSIAN", "SERBIAN", "UKRAINIAN"}),
    ("раскрывае", {"BELARUSIAN", "KAZAKH", "MONGOLIAN", "RUSSIAN"}),
    ("этот", {"BELARUSIAN", "KAZAKH", "MONGOLIAN", "RUSSIAN"}),
    ("огнём", {"BELARUSIAN", "KAZAKH", "MONGOLIAN", "RUSSIAN"}),
    ("плаваща", {"BULGARIAN", "KAZAKH", "MONGOLIAN", "RUSSIAN", "UKRAINIAN"}),
    ("довършат", {"BULGARIAN", "KAZAKH", "MONGOLIAN", "RUSSIAN"}),
    ("павінен", {"BELARUSIAN", "KAZAKH", "UKRAINIAN"}),
    ("затоплување", {"MACEDONIAN", "SERBIAN"}),
    ("ректасцензија", {"MACEDONIAN", "SERBIAN"}),
    ("набљудувач", {"MACEDONIAN", "SERBIAN"}),
    ("aizklātā", {"LATVIAN", "MAORI", "YORUBA"}),
    ("sistēmas", {"LATVIAN", "MAORI", "YORUBA"}),
    ("palīdzi", {"LATVIAN", "MAORI", "YORUBA"}),
    ("nhẹn", {"VIETNAMESE", "YORUBA"}),
    ("chọn", {"VIETNAMESE", "YORUBA"}),
    ("prihvaćanju", {"BOSNIAN", "CROATIAN", "POLISH"}),
    ("nađete", {"BOSNIAN", "CROATIAN", "VIETNAMESE"}),
    ("visão", {"PORTUGUESE", "VIETNAMESE"}),
    ("wystąpią", {"LITHUANIAN", "POLISH"}),
    ("budowę", {"LITHUANIAN", "POLISH"}),
    ("nebūsime", {"LATVIAN", "LITHUANIAN", "MAORI", "YORUBA"}),
    ("afişate", {"AZERBAIJANI", "ROMANIAN", "TURKISH"}),
    ("kradzieżami", {"POLISH", "ROMANIAN"}),
    ("înviat", {"FRENCH", "ROMANIAN"}),
    ("venerdì", {"ITALIAN", "VIETNAMESE", "YORUBA"}),
    ("años", {"BASQUE", "SPANISH"}),
    ("rozohňuje", {"CZECH", "SLOVAK"}),
    ("rtuť", {"CZECH", "SLOVAK"}),
    ("pregătire", {"ROMANIAN", "VIETNAMESE"}),
    ("jeďte", {"CZECH", "ROMANIAN", "SLOVAK"}),
    ("minjaverðir", {"ICELANDIC", "TURKISH"}),
    ("þagnarskyldu", {"ICELANDIC", "TURKISH"}),
    ("nebûtu", {"FRENCH", "HUNGARIAN"}),
    ("hashemidëve", {"AFRIKAANS", "ALBANIAN", "DUTCH", "FRENCH"}),
    ("forêt", {"AFRIKAANS", "FRENCH", "PORTUGUESE", "VIETNAMESE"}),
    ("succèdent", {"FRENCH", "ITALIAN", "VIETNAMESE", "YORUBA"}),
    ("où", {"FRENCH", "ITALIAN", "VIETNAMESE", "YORUBA"}),
    ("tõeliseks", {"ESTONIAN", "HUNGARIAN", "PORTUGUESE", "VIETNAMESE"}),
    ("viòiem", {"CATALAN", "ITALIAN", "VIETNAMESE", "YORUBA"}),
    ("contrôle", {"FRENCH", "PORTUGUESE", "SLOVAK", "VIETNAMESE"}),
    ("direktør", {"BOKMAL", "DANISH", "NYNORSK"}),
    ("vývoj", {"CZECH", "ICELANDIC", "SLOVAK", "TURKISH", "VIETNAMESE"}),
    ("päralt", {"ESTONIAN", "FINNISH", "GERMAN", "SLOVAK", "SWEDISH"}),
    ("labâk", {"FRENCH", "PORTUGUESE", "ROMANIAN", "TURKISH", "VIETNAMESE"}),
    ("pràctiques", {"CATALAN", "FRENCH", "ITALIAN", "PORTUGUESE",
                    "VIETNAMESE"}),
    ("überrascht", {"AZERBAIJANI", "CATALAN", "ESTONIAN", "GERMAN",
                    "HUNGARIAN", "SPANISH", "TURKISH"}),
    ("indebærer", {"BOKMAL", "DANISH", "ICELANDIC", "NYNORSK"}),
    ("måned", {"BOKMAL", "DANISH", "NYNORSK", "SWEDISH"}),
    ("zaručen", {"BOSNIAN", "CZECH", "CROATIAN", "LATVIAN", "LITHUANIAN",
                 "SLOVAK", "SLOVENE"}),
    ("zkouškou", {"BOSNIAN", "CZECH", "CROATIAN", "LATVIAN", "LITHUANIAN",
                  "SLOVAK", "SLOVENE"}),
    ("navržen", {"BOSNIAN", "CZECH", "CROATIAN", "LATVIAN", "LITHUANIAN",
                 "SLOVAK", "SLOVENE"}),
    ("façonnage", {"ALBANIAN", "AZERBAIJANI", "BASQUE", "CATALAN", "FRENCH",
                   "PORTUGUESE", "TURKISH"}),
    ("höher", {"AZERBAIJANI", "ESTONIAN", "FINNISH", "GERMAN", "HUNGARIAN",
               "ICELANDIC", "SWEDISH", "TURKISH"}),
    ("catedráticos", {"CATALAN", "CZECH", "ICELANDIC", "IRISH", "HUNGARIAN",
                      "PORTUGUESE", "SLOVAK", "SPANISH", "VIETNAMESE",
                      "YORUBA"}),
    ("política", {"CATALAN", "CZECH", "ICELANDIC", "IRISH", "HUNGARIAN",
                  "PORTUGUESE", "SLOVAK", "SPANISH", "VIETNAMESE", "YORUBA"}),
    ("música", {"CATALAN", "CZECH", "ICELANDIC", "IRISH", "HUNGARIAN",
                "PORTUGUESE", "SLOVAK", "SPANISH", "VIETNAMESE", "YORUBA"}),
    ("contradicció", {"CATALAN", "HUNGARIAN", "ICELANDIC", "IRISH", "POLISH",
                      "PORTUGUESE", "SLOVAK", "SPANISH", "VIETNAMESE",
                      "YORUBA"}),
    ("només", {"CATALAN", "CZECH", "FRENCH", "HUNGARIAN", "ICELANDIC",
               "IRISH", "ITALIAN", "PORTUGUESE", "SLOVAK", "SPANISH",
               "VIETNAMESE", "YORUBA"}),
]


@pytest.mark.parametrize("word,expected", FILTER_CASES)
def test_rule_filtering(word, expected):
    assert _filter(word) == expected


def test_rule_filtering_plain_latin_word_keeps_all_latin_languages():
    # "house" case (LanguageDetectorTest.kt:507-535): all Latin-script langs.
    latin = {l.name for l in L.LANGUAGES if "LATIN" in l.scripts}
    assert _filter("house") == latin


def test_word_list():
    # WordListTest.kt behavior: split at single spaces + logograms
    assert word_list("this is a sentence") == ["this", "is", "a", "sentence"]
    assert word_list("sentence  with  multiple  spaces") == [
        "sentence", "with", "multiple", "spaces",
    ]
    assert word_list("日本語です") == ["日", "本", "語", "で", "す"]
    assert word_list("mixed 日本 words") == ["mixed", "日", "本", "words"]


NO_LETTER_STRINGS = ["", " \n  \t;", "3<856%)§"]


@pytest.mark.parametrize("s", NO_LETTER_STRINGS)
def test_no_letters_returns_unknown(s, packed_models):
    from lingua_spark.core.detector import Detector

    det = Detector(models=packed_models)
    assert det.detect(s) == "UNKNOWN"
    assert det.confidence_values(s) == []


def test_no_ngram_probabilities_returns_unknown(packed_models):
    # LanguageDetectorTest.kt:539-563: Cyrillic word, en/de-only detector
    from lingua_spark.core.detector import Detector

    det = Detector(models=packed_models, languages=("ENGLISH", "GERMAN"))
    assert det.detect("проарплап") == "UNKNOWN"
    assert det.confidence_values("проарплап") == []


def test_builder_validation(packed_models):
    from lingua_spark.core.detector import Detector
    from lingua_spark.engine.batch import BatchDetector

    for cls in (Detector, BatchDetector):
        with pytest.raises(ValueError):
            cls(models=packed_models, minimum_relative_distance=1.5)
        with pytest.raises(ValueError):
            cls(models=packed_models, languages=())


def test_detection_is_deterministic(packed_models):
    # LanguageDetectorTest.kt:579-604
    from lingua_spark.core.detector import Detector

    det = Detector(models=packed_models)
    results = {det.detect("das ist ein deutscher satz") for _ in range(25)}
    assert len(results) == 1


def test_filter_chars_to_languages_vectorized_matches_reference_loop():
    """The vectorized (word, group) expansion in filter_languages_mask must
    equal the reference's per-word loop (LanguageDetector.kt:518-535: each
    language at most once per word, only filtered candidates count) on
    texts dense in mapped characters."""
    import numpy as np

    from lingua_spark.core import rules as R
    from lingua_spark.core.text import word_spans

    mapped = sorted(L.CHARS_TO_LANGUAGES)
    rng = np.random.default_rng(7)

    def reference_counts(codes, spans, filtered_mask):
        c2l_table, c2l_groups = R._chars_to_languages_table()
        gids_all = c2l_table[np.minimum(codes, R._MAX_CP - 1)]
        has_gid = gids_all >= 0
        lang_counts = np.zeros(L.N_LANGUAGES, dtype=np.int64)
        for s, e in spans:
            w = gids_all[s:e]
            w = w[has_gid[s:e]]
            if w.size == 0:
                continue
            seen = np.zeros(L.N_LANGUAGES, dtype=bool)
            for gid in w:
                ords = c2l_groups[gid]
                sel = ords[filtered_mask[ords] & ~seen[ords]]
                seen[sel] = True
            lang_counts[seen] += 1
        return lang_counts

    for trial in range(50):
        words = []
        for _ in range(int(rng.integers(1, 8))):
            chars = [
                "abcdefgh"[int(rng.integers(0, 8))]
                if rng.random() < 0.5
                else mapped[int(rng.integers(0, len(mapped)))]
                for _ in range(int(rng.integers(1, 7)))
            ]
            words.append("".join(chars))
        text = " ".join(words)
        codes = codes_of(text)
        spans = word_spans(codes)
        got = R.filter_languages_mask(codes, spans)
        # recompute what the mask would be with the reference loop's counts
        det_mask, script_langs = R._lang_masks(
            frozenset(n for n in (l.name for l in L.LANGUAGES))
        )
        # reproduce phase 1 to get filtered_mask + adjusted word count
        sids_all = R.script_ids(codes)
        starts, ends = spans[:, 0], spans[:, 1]
        mark = np.zeros(codes.size + 1, dtype=np.int8)
        mark[starts] += 1
        mark[ends] -= 1
        pos = np.flatnonzero(np.cumsum(mark[:-1]) > 0)
        wid = np.searchsorted(starts, pos, side="right") - 1
        packed = sids_all[pos]
        offsets = np.searchsorted(wid, np.arange(spans.shape[0] + 1))
        wmin = np.minimum.reduceat(packed, offsets[:-1])
        wmax = np.maximum.reduceat(packed, offsets[:-1])
        sid0 = packed[offsets[:-1]]
        const = (wmin == wmax) & (sid0 != R._OTHER)
        word_value = np.full(spans.shape[0], L.FULL_WORD_VALUE)
        votes = np.zeros(R.N_SCRIPTS, dtype=np.float64)
        np.add.at(votes, sid0[const], word_value[const])
        adjusted = float(np.cumsum(word_value)[-1])
        if not votes.any():
            # mixed-script words cast no alphabet vote -> early det_mask copy
            assert (got == det_mask).all(), f"trial {trial}: {text!r}"
            continue
        frequent = (votes > 0) & (votes / votes.max() >= L.CLOSE_ALPHABET_RATIO)
        filtered_mask = det_mask & script_langs[frequent].any(axis=0)
        counts = reference_counts(codes, spans, filtered_mask)
        subset = filtered_mask & (counts >= adjusted / 2.0)
        want = subset if subset.any() else filtered_mask
        assert (got == want).all(), f"trial {trial}: {text!r}"


def test_filter_adjusted_word_count_sums_in_word_order():
    """65 words of HAN (0.7) and Latin (1.0): a pairwise sum reads 56.0,
    the word-order sum 56.000000000000014, so the 28 words with 'ä' fall
    short of half and the mask keeps every Latin candidate."""
    pattern = "HHHLLLHLLHHHHHLHLLLLLHLHLHHLHHHHHLLHLHHLHLLLHLLHHLLLLLLHHLLHLLLHL"
    words, n_latin = [], 0
    for c in pattern:
        if c == "H":
            words.append("中")
        else:
            words.append("bär" if n_latin < 28 else "bar")
            n_latin += 1
    got = _filter(" ".join(words))
    assert got == {l.name for l in L.LANGUAGES if "LATIN" in l.scripts}


@pytest.mark.parametrize(
    "pattern,expected",
    [
        # word-order sum 37.5: UNKNOWN (15 words) is not cut and stays
        # within 0.8 of CHINESE; a pairwise sum reads 37.50000000000001
        ("BHHHBHBHBGBHHHHBBHHBHBHBHHBHBBHGHHHHGHBBHGHGH", "UNKNOWN"),
        # word-order sum 45.000000000000036 cuts UNKNOWN (18 words); a
        # pairwise sum reads 45.0 and would keep it
        (
            "BBHHBHHHHBHHHGGBHGHHHBGHHBHBHBHGHBHHHHBHHHHGHHBBBHBBBB",
            "CHINESE",
        ),
    ],
)
def test_detect_adjusted_word_count_sums_in_word_order(pattern, expected):
    """F1 seeds its adjusted word count with the non-voting words ('bar')
    and adds the voting ones (HAN 0.7, 'groß' 1.0) in word order; the
    UNKNOWN cut sits exactly at 0.4 of it in real arithmetic."""
    words = {"H": "中", "G": "groß", "B": "bar"}
    assert _detect(" ".join(words[c] for c in pattern)) == expected


# --- cross-row kernel vs the frozen per-row references -------------------

_UNIQUE_CHARS = sorted(
    {c for l in L.LANGUAGES_WITH_UNIQUE_CHARS for c in l.unique_chars}
)
_C2L_CHARS = sorted(L.CHARS_TO_LANGUAGES)
_ALPHABETS = (
    st.sampled_from("abcdefghijklmnopqrstuvwxyz"),
    st.sampled_from(_UNIQUE_CHARS),
    st.sampled_from(_C2L_CHARS),
    st.characters(min_codepoint=0x4E00, max_codepoint=0x4FFF),  # Han
    st.characters(min_codepoint=0x3040, max_codepoint=0x30FF),  # kana
    st.characters(min_codepoint=0xAC00, max_codepoint=0xAD00),  # Hangul
    st.characters(min_codepoint=0x400, max_codepoint=0x4FF),  # Cyrillic
    st.characters(min_codepoint=0x900, max_codepoint=0x97F),  # Devanagari
    st.characters(min_codepoint=0x370, max_codepoint=0x3FF),  # Greek
    st.characters(min_codepoint=0x600, max_codepoint=0x6FF),  # Arabic
    st.characters(min_codepoint=0x300, max_codepoint=0x36F),  # combining
    st.characters(min_codepoint=0x1F300, max_codepoint=0x1F5FF),  # emoji
    st.characters(min_codepoint=0x20000, max_codepoint=0x2A6DF),  # Han ext B
    st.characters(min_codepoint=0x30000, max_codepoint=0x10FFFF),
    st.sampled_from("\t\n\xa0\u3000.,0"),  # in-word: only U+0020 splits
)
# words of mixed alphabets, or of one alphabet so that rows often carry
# decisive F1 votes and close alphabet counts
_WORD = st.one_of(
    st.text(st.one_of(*_ALPHABETS), min_size=1, max_size=8),
    *(st.text(a, min_size=1, max_size=8) for a in _ALPHABETS),
)
_ROW = st.one_of(
    st.sampled_from(["", " ", "   ", "\t", " \n\t "]),
    st.builds(
        lambda lead, words, sep, trail: lead + sep.join(words) + trail,
        st.sampled_from(["", " "]),
        st.lists(_WORD, max_size=14),
        st.sampled_from([" ", "  "]),
        st.sampled_from(["", " ", "\n"]),
    ),
)
_SUBSET = ("ENGLISH", "GERMAN", "CHINESE", "JAPANESE")


def _reference_rows(rows, languages):
    import rules_reference as ref

    out = []
    for row in rows:
        codes = codes_of(row)
        spans = word_spans(codes)
        out.append(
            (
                ref.detect_language_with_rules(codes, spans, languages),
                ref.filter_languages_mask(codes, spans, languages),
            )
        )
    return out


def _names(rule_ords):
    from lingua_spark.core.rules import UNKNOWN_ORD

    return [
        L.UNKNOWN if o == UNKNOWN_ORD else L.LANGUAGES[o].name
        for o in rule_ords
    ]


def _assert_batch_equals(rows, languages, want):
    import numpy as np

    from lingua_spark.core.rules import rules_batch

    rule_ords, masks = rules_batch(rows, languages)
    assert masks.shape == (len(rows), L.N_LANGUAGES)
    got_names = _names(rule_ords)
    for i, (lang, mask) in enumerate(want):
        assert got_names[i] == lang, (i, rows[i])
        assert np.array_equal(masks[i], mask), (i, rows[i])


@pytest.mark.parametrize(
    "languages", [tuple(l.name for l in L.LANGUAGES), _SUBSET]
)
@settings(max_examples=120, deadline=None)
@given(rows=st.lists(_ROW, min_size=1, max_size=8), data=st.data())
def test_rules_batch_matches_frozen_reference(languages, rows, data):
    """Row by row, rules_batch equals the frozen per-word loop, whatever
    the row's neighbours: shuffled, split at random points, one row per
    batch; the one-row wrappers agree too."""
    from lingua_spark.core.rules import (
        detect_language_with_rules as f1,
        filter_languages_mask as f2,
    )

    want = _reference_rows(rows, languages)
    _assert_batch_equals(rows, languages, want)

    perm = data.draw(st.permutations(range(len(rows))))
    _assert_batch_equals(
        [rows[p] for p in perm], languages, [want[p] for p in perm]
    )
    cuts = sorted(
        data.draw(st.lists(st.integers(0, len(rows)), max_size=3))
    )
    for a, b in zip([0, *cuts], [*cuts, len(rows)]):
        _assert_batch_equals(rows[a:b], languages, want[a:b])
    for i, row in enumerate(rows):
        _assert_batch_equals([row], languages, [want[i]])
        codes = codes_of(row)
        spans = word_spans(codes)
        assert f1(codes, spans, languages) == want[i][0]
        assert (f2(codes, spans, languages) == want[i][1]).all()


_EDGE_ROWS = [
    "groźß",  # ß votes GERMAN, ź only languages outside _SUBSET
    "straße żółw",
    "",
    "   ",
    "a\tb\nc ß",
    "中 ß",
    "日本語です 中文",
    "한국어 abc",
    "ńż\tß",
    "\U00030000ß \U00030001",
    "e\u0301te caf\u00e9",
    "ѓ ѕ џ ђ",
]


@pytest.mark.parametrize(
    "languages", [tuple(l.name for l in L.LANGUAGES), _SUBSET]
)
def test_rules_batch_matches_frozen_reference_on_edge_rows(languages):
    want = _reference_rows(_EDGE_ROWS, languages)
    _assert_batch_equals(_EDGE_ROWS, languages, want)
    for row, w in zip(_EDGE_ROWS, want):
        _assert_batch_equals([row], languages, [w])


def test_rules_batch_drops_votes_for_excluded_languages():
    """A unique-char vote for a language outside the detector's set is
    dropped before the word's winner is chosen: 'groźß' is GERMAN for
    _SUBSET (ź votes only excluded languages) but a tie, hence UNKNOWN,
    with every language."""
    from lingua_spark.core.rules import rules_batch

    assert _names(rules_batch(["groźß"], _SUBSET)[0]) == ["GERMAN"]
    assert _names(rules_batch(["groźß"])[0]) == ["UNKNOWN"]


@pytest.mark.parametrize(
    "languages", [tuple(l.name for l in L.LANGUAGES), _SUBSET]
)
def test_rules_batch_matches_frozen_reference_on_transcripts(languages):
    """The same comparison over generated multilingual chat turns, in
    CHUNK_ROWS-sized batches as BatchDetector runs them."""
    from lingua_spark import corpus
    from lingua_spark.engine.batch import CHUNK_ROWS

    rows = list(corpus.transcripts(600, seed=5)["text"])
    want = _reference_rows(rows, languages)
    for c0 in range(0, len(rows), CHUNK_ROWS):
        _assert_batch_equals(
            rows[c0 : c0 + CHUNK_ROWS], languages, want[c0 : c0 + CHUNK_ROWS]
        )

"""Rule-based detection and candidate filtering, one kernel for many rows.

Re-expresses `api/LanguageDetector.kt:376-473` (``detect_language_with_rules``,
rule F1) and `:475-543` (``filter_languages_by_rules``, rule F2) over
codepoint arrays with precomputed vote tables. All magic constants live in
``langdata``.

Blob layout. ``rules_batch`` joins its rows into ONE code-point blob with
U+0020 between rows. U+0020 always ends a word, so ``word_spans`` over the
blob yields every row's words in row order, and no word crosses a row.
Everything per character (script ids, logogram flags, vote tables) is one
gather over the blob; everything per word is a flat array over the blob's
words (``spans`` (W, 2), ``word_row`` (W,)); the in-word characters are
(``pos``, ``wid``) pairs in word order. Votes are flat (word, ordinal)
pairs counted with ``np.unique``; per-row results come from (R, NL+1)
totals and (R, N_SCRIPTS) alphabet-vote matrices. The one-row functions
``detect_language_with_rules`` / ``filter_languages_mask`` run the same
kernel on a one-row blob with the caller's spans.

Summation contract. Word values are 1.0 or ``LOGOGRAM_WORD_VALUE`` (0.7,
not dyadic), so the float totals depend on the order of the additions.
Every float total is a word-order sum, the order in which the reference
loop adds: F1's per-language totals and adjusted word count are
``np.add.at`` over ``row*(NL+1)+dest`` in word order, seeded (UNKNOWN slot
and adjusted count) with the row's number of words that cast no vote,
exactly as the reference bulk-adds them first; F2's alphabet votes and
adjusted word count are ``np.add.at`` in word order. ``np.add.at`` is
unbuffered and applies its indices in order, so each row's result is
independent of the other rows in its batch. Never use ``np.sum`` /
``add.reduce`` here: their pairwise order differs.
"""

from __future__ import annotations

from functools import cached_property, lru_cache

import numpy as np

from .. import langdata as L
from ..uniscript import N_SCRIPTS, SCRIPT_ID, script_ids
from .text import is_logogram_char, row_word_spans

_LATIN = SCRIPT_ID["LATIN"]
_CYRILLIC = SCRIPT_ID["CYRILLIC"]
_DEVANAGARI = SCRIPT_ID["DEVANAGARI"]
_HAN = SCRIPT_ID["HAN"]
_HIRAGANA = SCRIPT_ID["HIRAGANA"]
_KATAKANA = SCRIPT_ID["KATAKANA"]
_OTHER = 0
_NL = L.N_LANGUAGES
# script id -> its chars may cast a unique-char vote
_UC_BY_SID = np.zeros(N_SCRIPTS, dtype=bool)
_UC_BY_SID[[_LATIN, _CYRILLIC, _DEVANAGARI]] = True

UNKNOWN_ORD = L.N_LANGUAGES  # sentinel ordinal for UNKNOWN in vote vectors

# codepoint -> unique-char group id (-1 = none); group -> ordinals voting
_MAX_CP = 0x30000


@lru_cache(maxsize=1)
def _unique_char_table() -> tuple[np.ndarray, list[np.ndarray]]:
    groups: dict[tuple[int, ...], int] = {}
    table = np.full(_MAX_CP, -1, dtype=np.int16)
    group_list: list[np.ndarray] = []
    per_char: dict[int, list[int]] = {}
    for lang in L.LANGUAGES_WITH_UNIQUE_CHARS:
        for ch in lang.unique_chars:
            per_char.setdefault(ord(ch), []).append(lang.ordinal)
    for cp, ords in per_char.items():
        key = tuple(ords)
        gid = groups.get(key)
        if gid is None:
            gid = len(group_list)
            groups[key] = gid
            group_list.append(np.array(ords, dtype=np.int64))
        if cp < _MAX_CP:
            table[cp] = gid
    return table, group_list


@lru_cache(maxsize=1)
def _chars_to_languages_table() -> tuple[np.ndarray, list[np.ndarray]]:
    """codepoint -> group id into CHARS_TO_LANGUAGES ordinal arrays."""
    table = np.full(_MAX_CP, -1, dtype=np.int16)
    group_list: list[np.ndarray] = []
    seen: dict[tuple[str, ...], int] = {}
    for ch, langs in L.CHARS_TO_LANGUAGES.items():
        gid = seen.get(langs)
        if gid is None:
            gid = len(group_list)
            seen[langs] = gid
            group_list.append(
                np.array([L.ORDINAL[n] for n in langs], dtype=np.int64)
            )
        cp = ord(ch)
        if cp < _MAX_CP:
            table[cp] = gid
    return table, group_list


@lru_cache(maxsize=8)
def _primary_vote_table(languages: frozenset[str]) -> np.ndarray:
    """script id -> voted ordinal (or -1).

    Covers the reference's branch ladder (LanguageDetector.kt:387-400):
    unique-alphabet languages (restricted to the detector's set), then
    HAN -> CHINESE, then Japanese scripts -> JAPANESE.
    """
    table = np.full(N_SCRIPTS, -1, dtype=np.int64)
    for script, lang in L.SCRIPTS_SUPPORTING_EXACTLY_ONE_LANGUAGE.items():
        if lang in languages:
            table[SCRIPT_ID[script]] = L.ORDINAL[lang]
    table[_HAN] = L.ORDINAL["CHINESE"]
    # Hiragana/Katakana vote JAPANESE either via the unique-alphabet map or
    # the isJapaneseScript fallthrough — same target either way.
    table[_HIRAGANA] = L.ORDINAL["JAPANESE"]
    table[_KATAKANA] = L.ORDINAL["JAPANESE"]
    return table


_ALL_LANG_NAMES = tuple(l.name for l in L.LANGUAGES)


@lru_cache(maxsize=8)
def _rules_setup(languages: tuple[str, ...]):
    """(in_detector mask, primary-vote table, uniq-lang mask) for a
    languages tuple — rebuilt per ROW before this cache existed (three
    79-iteration Python loops per call, measured in the profile)."""
    lang_set = frozenset(languages)
    in_detector = np.zeros(L.N_LANGUAGES, dtype=bool)
    for name in languages:
        in_detector[L.ORDINAL[name]] = True
    primary = _primary_vote_table(lang_set)
    uniq_lang_ok = np.zeros(L.N_LANGUAGES, dtype=bool)
    for lang in L.LANGUAGES_WITH_UNIQUE_CHARS:
        if lang.name in lang_set:
            uniq_lang_ok[lang.ordinal] = True
    return in_detector, primary, uniq_lang_ok


def _flat_groups(
    groups: list[np.ndarray],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Ordinal groups flattened for vectorized expansion:
    (flat ordinals, per-group start offsets (G+1,), per-group lengths)."""
    lens = np.array([g.size for g in groups], dtype=np.int64)
    offsets = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = np.concatenate(groups) if groups else np.empty(0, dtype=np.int64)
    return flat, offsets, lens


@lru_cache(maxsize=1)
def _uniq_flat() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return _flat_groups(_unique_char_table()[1])


@lru_cache(maxsize=1)
def _c2l_flat() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return _flat_groups(_chars_to_languages_table()[1])


def _expand(
    words: np.ndarray,
    gids: np.ndarray,
    flat: tuple[np.ndarray, np.ndarray, np.ndarray],
) -> tuple[np.ndarray, np.ndarray]:
    """Expand (word, group) pairs into (word, ordinal) pairs, in pair order
    and, within a pair, in the group's ordinal order."""
    ords, offsets, lens = flat
    plens = lens[gids]
    pstart = np.cumsum(plens) - plens
    idx = np.repeat(offsets[gids] - pstart, plens) + np.arange(
        int(plens.sum()), dtype=np.int64
    )
    return np.repeat(words, plens), ords[idx]


@lru_cache(maxsize=8)
def _lang_masks(languages: frozenset[str]) -> tuple[np.ndarray, np.ndarray]:
    """(detector mask (NL,), script->langs matrix (N_SCRIPTS, NL))."""
    det_mask = np.zeros(L.N_LANGUAGES, dtype=bool)
    for name in languages:
        det_mask[L.ORDINAL[name]] = True
    script_langs = np.zeros((N_SCRIPTS, L.N_LANGUAGES), dtype=bool)
    for lang in L.LANGUAGES:
        for s in lang.scripts:
            script_langs[SCRIPT_ID[s], lang.ordinal] = True
    return det_mask, script_langs


class _Blob:
    """R rows as one code-point array plus flat word arrays (see module
    docstring). ``spans`` are non-empty [start, end) words in word order,
    as ``word_spans`` returns them; ``word_row`` is each word's row."""

    def __init__(
        self,
        codes: np.ndarray,
        spans: np.ndarray,
        word_row: np.ndarray,
        n_rows: int,
    ) -> None:
        self.codes = codes
        self.spans = spans
        self.word_row = word_row
        self.n_rows = n_rows
        self.sids = script_ids(codes)
        self.word_len = spans[:, 1] - spans[:, 0]

    @cached_property
    def word_chars(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(pos, wid, first): blob position and word id of every in-word
        char in word order, and each word's first index into them."""
        lens = self.word_len
        first = np.cumsum(lens) - lens
        wid = np.repeat(np.arange(lens.size, dtype=np.int64), lens)
        pos = np.arange(wid.size, dtype=np.int64) + np.repeat(
            self.spans[:, 0] - first, lens
        )
        return pos, wid, first

    @cached_property
    def single_logogram(self) -> np.ndarray:
        """(W,) the word is one logogram char."""
        return (self.word_len == 1) & is_logogram_char(
            self.codes[self.spans[:, 0]]
        )


def _f1_rows(b: _Blob, languages: tuple[str, ...]) -> np.ndarray:
    """Rule F1 for every row: the ruled language's ordinal or UNKNOWN_ORD."""
    R, W = b.n_rows, b.spans.shape[0]
    out = np.full(R, UNKNOWN_ORD, dtype=np.int64)
    in_detector, primary, uniq_lang_ok = _rules_setup(languages)
    uniq_table, _ = _unique_char_table()
    prim_all = primary[b.sids]
    uc_all = np.where(
        _UC_BY_SID[b.sids], uniq_table[np.minimum(b.codes, _MAX_CP - 1)], -1
    )
    vote_all = (prim_all >= 0) | (uc_all >= 0)
    # Exact shortcut: a row none of whose chars votes has only UNKNOWN
    # words, so its UNKNOWN fraction is 100% and its result is UNKNOWN.
    if not vote_all.any():
        return out

    pos, wid, _ = b.word_chars
    vc = vote_all[pos]
    vpos, vwid = pos[vc], wid[vc]
    # a word "votes" iff it holds a voting char, even when every unique-char
    # vote it casts is for a language outside ``languages``
    has_vote = np.zeros(W, dtype=bool)
    has_vote[vwid] = True

    # flat (word, ordinal) votes: primary-script hits + unique-char groups
    pv = prim_all[vpos]
    ph = pv >= 0
    gv = uc_all[vpos]
    gh = gv >= 0
    uw, uo = _expand(vwid[gh], gv[gh].astype(np.int64), _uniq_flat())
    ok = uniq_lang_ok[uo]
    key, cnt = np.unique(
        np.concatenate((vwid[ph] * _NL + pv[ph], uw[ok] * _NL + uo[ok])),
        return_counts=True,
    )
    # per word with >= 1 vote (key is sorted by word, then ordinal): the
    # winner is the unique maximum; ties go to the lowest ordinal and are
    # then voided by the uniqueness test, as in the reference's lexsort
    kw, ko = key // _NL, key % _NL
    gstart = np.flatnonzero(np.diff(kw, prepend=-1))
    n_nz = np.diff(np.append(gstart, key.size))
    top = np.maximum.reduceat(cnt, gstart)
    at_top = np.flatnonzero(cnt == np.repeat(top, n_nz))
    lead = np.diff(kw[at_top], prepend=-1) != 0
    winner = ko[at_top[lead]]
    n_top = np.diff(np.append(np.flatnonzero(lead), at_top.size))
    won = (n_top == 1) & in_detector[winner]
    words = kw[gstart]

    dest = np.full(W, UNKNOWN_ORD, dtype=np.int64)
    dest[words[won]] = winner[won]
    value = np.full(W, L.FULL_WORD_VALUE)
    single = words[won & (n_nz == 1)]
    value[single[b.single_logogram[single]]] = L.LOGOGRAM_WORD_VALUE

    # per-row totals, word order; [:, UNKNOWN_ORD] = UNKNOWN
    n_novote = np.bincount(b.word_row[~has_vote], minlength=R).astype(
        np.float64
    )
    totals = np.zeros((R, _NL + 1), dtype=np.float64)
    totals[:, UNKNOWN_ORD] = L.FULL_WORD_VALUE * n_novote
    adjusted = L.FULL_WORD_VALUE * n_novote
    vw = np.flatnonzero(has_vote)
    vrow = b.word_row[vw]
    np.add.at(totals.reshape(-1), vrow * (_NL + 1) + dest[vw], value[vw])
    np.add.at(adjusted, vrow, value[vw])

    cut = totals[:, UNKNOWN_ORD] < L.UNKNOWN_WORD_FRACTION_CUT * adjusted
    totals[cut, UNKNOWN_ORD] = 0.0

    # per-row decision over the nonzero totals
    zh, ja = L.ORDINAL["CHINESE"], L.ORDINAL["JAPANESE"]
    n_lang = np.count_nonzero(totals, axis=1)
    zh_ja = (n_lang == 2) & (totals[:, zh] != 0.0) & (totals[:, ja] != 0.0)
    rows = np.arange(R)
    first = totals.argmax(axis=1)  # ties -> lowest ordinal
    best = totals[rows, first]
    totals[rows, first] = 0.0
    second = totals.max(axis=1)
    has = n_lang > 0
    close = np.zeros(R, dtype=bool)
    close[has] = second[has] / best[has] > L.CLOSE_WORD_COUNT_RATIO
    out[has & ~close] = first[has & ~close]
    out[zh_ja] = ja
    return out


def _f2_rows(b: _Blob, languages: tuple[str, ...]) -> np.ndarray:
    """Rule F2 for every row: (R, NL) candidate-language masks."""
    R, W = b.n_rows, b.spans.shape[0]
    det_mask, script_langs = _lang_masks(frozenset(languages))
    out = np.repeat(det_mask[None, :], R, axis=0)
    if W == 0:
        return out

    # alphabet votes: a word votes its script iff all its chars share one
    # non-OTHER script; a single-logogram word weighs LOGOGRAM_WORD_VALUE
    pos, wid, first = b.word_chars
    packed = b.sids[pos]
    wmin = np.minimum.reduceat(packed, first)
    wmax = np.maximum.reduceat(packed, first)
    sid0 = packed[first]
    const = (wmin == wmax) & (sid0 != _OTHER)
    word_value = np.where(
        const & b.single_logogram, L.LOGOGRAM_WORD_VALUE, L.FULL_WORD_VALUE
    )
    votes = np.zeros((R, N_SCRIPTS), dtype=np.float64)
    np.add.at(
        votes.reshape(-1),
        b.word_row[const] * N_SCRIPTS + sid0[const],
        word_value[const],
    )
    adjusted = np.zeros(R, dtype=np.float64)
    np.add.at(adjusted, b.word_row, word_value)

    voted = votes.any(axis=1)
    max_vote = np.where(voted, votes.max(axis=1), 1.0)
    frequent = (votes > 0) & (
        votes / max_vote[:, None] >= L.CLOSE_ALPHABET_RATIO
    )
    filtered = det_mask & (
        frequent.astype(np.uint8) @ script_langs.astype(np.uint8) > 0
    )

    # CHARS_TO_LANGUAGES counting (LanguageDetector.kt:518-535): a word adds
    # 1 to each filtered language of ANY of its mapped chars' groups, at most
    # once per word; words without mapped chars add nothing
    c2l_table, _ = _chars_to_languages_table()
    cgid = c2l_table[np.minimum(b.codes[pos], _MAX_CP - 1)]
    hit = cgid >= 0
    counts = np.zeros((R, _NL), dtype=np.int64)
    if hit.any():
        n_groups = _c2l_flat()[2].size
        pair = np.unique(wid[hit] * n_groups + cgid[hit])
        words, ords = _expand(pair // n_groups, pair % n_groups, _c2l_flat())
        rows = b.word_row[words]
        keep = filtered[rows, ords]
        wo = np.unique(words[keep] * _NL + ords[keep])
        counts = np.bincount(
            b.word_row[wo // _NL] * _NL + wo % _NL, minlength=R * _NL
        ).reshape(R, _NL)

    subset = filtered & (counts >= adjusted[:, None] / 2.0)
    out[voted] = np.where(
        subset.any(axis=1)[:, None], subset, filtered
    )[voted]
    return out


def rules_batch(
    texts: list[str],
    languages: tuple[str, ...] = _ALL_LANG_NAMES,
) -> tuple[np.ndarray, np.ndarray]:
    """Rules F1 and F2 for R rows in one pass over their joined blob.

    Returns ``(rule_ords (R,), cand_masks (R, NL))``: row i's F1 ordinal
    (UNKNOWN_ORD when no rule decides) and its F2 candidate mask, equal to
    ``detect_language_with_rules`` / ``filter_languages_mask`` on the row
    alone with ``word_spans`` of its code points."""
    codes, spans, word_row = row_word_spans(texts)
    b = _Blob(codes, spans, word_row, len(texts))
    return _f1_rows(b, languages), _f2_rows(b, languages)


def _one_row(codes: np.ndarray, spans: np.ndarray) -> _Blob:
    return _Blob(codes, spans, np.zeros(spans.shape[0], dtype=np.int64), 1)


def detect_language_with_rules(
    codes: np.ndarray,
    spans: np.ndarray,
    languages: tuple[str, ...] = _ALL_LANG_NAMES,
) -> str:
    """Rule F1 for one row; returns a language name or 'UNKNOWN'."""
    o = int(_f1_rows(_one_row(codes, spans), languages)[0])
    return L.UNKNOWN if o == UNKNOWN_ORD else L.LANGUAGES[o].name


def filter_languages_mask(
    codes: np.ndarray,
    spans: np.ndarray,
    languages: tuple[str, ...] = _ALL_LANG_NAMES,
) -> np.ndarray:
    """Rule F2 for one row; returns a (N_LANGUAGES,) boolean mask."""
    return _f2_rows(_one_row(codes, spans), languages)[0]


def filter_languages_by_rules(
    codes: np.ndarray,
    spans: np.ndarray,
    languages: tuple[str, ...] = _ALL_LANG_NAMES,
) -> tuple[str, ...]:
    """Candidate-language pruning; returns names in ordinal order."""
    mask = filter_languages_mask(codes, spans, languages)
    return tuple(L.LANGUAGES[o].name for o in np.flatnonzero(mask))

"""Frozen per-row references for rules F1/F2 — test data, not library code.

``detect_language_with_rules`` is the per-word voting loop and
``filter_languages_mask`` the per-row candidate filter that
``lingua_spark.core.rules`` ran before its cross-row kernel. They are kept
here verbatim (with F2's adjusted word count summed in word order) so the
kernel can be checked against them on generated corpora. They share only
the lookup tables with the package; do not "fix" them to track the kernel.
"""

from __future__ import annotations

import numpy as np

from lingua_spark import langdata as L
from lingua_spark.core import rules as R
from lingua_spark.core.text import is_logogram_char
from lingua_spark.uniscript import N_SCRIPTS, SCRIPT_ID, script_ids

_LATIN = SCRIPT_ID["LATIN"]
_CYRILLIC = SCRIPT_ID["CYRILLIC"]
_DEVANAGARI = SCRIPT_ID["DEVANAGARI"]
_OTHER = 0
UNKNOWN_ORD = L.N_LANGUAGES
ALL_LANGS = tuple(l.name for l in L.LANGUAGES)


def detect_language_with_rules(
    codes: np.ndarray,
    spans: np.ndarray,
    languages: tuple[str, ...] = ALL_LANGS,
) -> str:
    """Per-word rule voting; returns a language name or 'UNKNOWN'."""
    in_detector, primary, uniq_lang_ok = R._rules_setup(languages)
    uniq_table, uniq_groups = R._unique_char_table()

    sids_all = script_ids(codes)
    logo_all = is_logogram_char(codes)
    prim_all = primary[sids_all]
    ucd_all = (
        (sids_all == _LATIN) | (sids_all == _CYRILLIC) | (sids_all == _DEVANAGARI)
    )
    gids_all = uniq_table[np.minimum(codes, R._MAX_CP - 1)]
    uc_hit_all = ucd_all & (gids_all >= 0)

    if not (uc_hit_all.any() or (prim_all >= 0).any()):
        return L.UNKNOWN

    totals = np.zeros(L.N_LANGUAGES + 1, dtype=np.float64)  # [-1] = UNKNOWN
    adjusted_word_count = 0.0

    vote_all = uc_hit_all | (prim_all >= 0)
    cs = np.concatenate(([0], np.cumsum(vote_all)))
    has_vote = (cs[spans[:, 1]] - cs[spans[:, 0]]) > 0
    n_novote = int((~has_vote).sum())
    totals[UNKNOWN_ORD] += L.FULL_WORD_VALUE * n_novote
    adjusted_word_count += L.FULL_WORD_VALUE * n_novote

    for s, e in spans[has_vote]:
        prim_hits = prim_all[s:e]
        prim_hits = prim_hits[prim_hits >= 0]
        uc = np.flatnonzero(uc_hit_all[s:e])
        votes = np.zeros(L.N_LANGUAGES, dtype=np.int64)
        if prim_hits.size:
            np.add.at(votes, prim_hits, 1)
        for gid in gids_all[s + uc]:
            ords = uniq_groups[gid]
            sel = ords[uniq_lang_ok[ords]]
            votes[sel] += 1

        word_value = L.FULL_WORD_VALUE
        nz = np.flatnonzero(votes)
        if nz.size == 0:
            totals[UNKNOWN_ORD] += word_value
        elif nz.size == 1:
            o = nz[0]
            if in_detector[o]:
                if e - s == 1 and logo_all[s]:
                    word_value = L.LOGOGRAM_WORD_VALUE
                totals[o] += word_value
            else:
                totals[UNKNOWN_ORD] += word_value
        else:
            counts = votes[nz]
            order = np.lexsort((nz, -counts))  # count desc, ordinal asc
            first, second = nz[order[0]], nz[order[1]]
            if votes[first] > votes[second] and in_detector[first]:
                totals[first] += word_value
            else:
                totals[UNKNOWN_ORD] += word_value
        adjusted_word_count += word_value

    if totals[UNKNOWN_ORD] < L.UNKNOWN_WORD_FRACTION_CUT * adjusted_word_count:
        totals[UNKNOWN_ORD] = 0.0

    nz = np.flatnonzero(totals)
    if nz.size == 0:
        return L.UNKNOWN
    if nz.size == 1:
        o = nz[0]
        return L.UNKNOWN if o == UNKNOWN_ORD else L.LANGUAGES[o].name
    zh, ja = L.ORDINAL["CHINESE"], L.ORDINAL["JAPANESE"]
    if nz.size == 2 and totals[zh] != 0.0 and totals[ja] != 0.0:
        return "JAPANESE"
    counts = totals[nz]
    order = np.lexsort((nz, -counts))
    first, second = nz[order[0]], nz[order[1]]
    if totals[second] / totals[first] > L.CLOSE_WORD_COUNT_RATIO:
        return L.UNKNOWN
    return L.UNKNOWN if first == UNKNOWN_ORD else L.LANGUAGES[first].name


def filter_languages_mask(
    codes: np.ndarray,
    spans: np.ndarray,
    languages: tuple[str, ...] = ALL_LANGS,
) -> np.ndarray:
    """Candidate-language pruning; returns a (N_LANGUAGES,) boolean mask."""
    det_mask, script_langs = R._lang_masks(frozenset(languages))
    sids_all = script_ids(codes)
    logo_all = is_logogram_char(codes)

    n_words = spans.shape[0]
    alphabet_votes = np.zeros(N_SCRIPTS, dtype=np.float64)
    adjusted_word_count = 0.0
    if n_words:
        starts = spans[:, 0]
        ends = spans[:, 1]
        mark = np.zeros(codes.size + 1, dtype=np.int8)
        mark[starts] += 1
        mark[ends] -= 1
        pos = np.flatnonzero(np.cumsum(mark[:-1]) > 0)
        wid = np.searchsorted(starts, pos, side="right") - 1
        packed = sids_all[pos]
        offsets = np.searchsorted(wid, np.arange(n_words + 1))
        wmin = np.minimum.reduceat(packed, offsets[:-1])
        wmax = np.maximum.reduceat(packed, offsets[:-1])
        sid0 = packed[offsets[:-1]]
        const = (wmin == wmax) & (sid0 != _OTHER)
        logoword = ((ends - starts) == 1) & logo_all[starts]
        word_value = np.where(
            const & logoword, L.LOGOGRAM_WORD_VALUE, L.FULL_WORD_VALUE
        )
        np.add.at(alphabet_votes, sid0[const], word_value[const])
        adjusted_word_count = float(np.cumsum(word_value)[-1])

    if not alphabet_votes.any():
        return det_mask.copy()

    max_vote = alphabet_votes.max()
    frequent = (alphabet_votes > 0) & (
        alphabet_votes / max_vote >= L.CLOSE_ALPHABET_RATIO
    )
    filtered_mask = det_mask & script_langs[frequent].any(axis=0)

    # each language at most once per word; words without mapped chars skip
    c2l_table, c2l_groups = R._chars_to_languages_table()
    gids_all = c2l_table[np.minimum(codes, R._MAX_CP - 1)]
    lang_counts = np.zeros(L.N_LANGUAGES, dtype=np.int64)
    for s, e in spans:
        w = gids_all[s:e]
        w = w[w >= 0]
        if w.size == 0:
            continue
        seen = np.zeros(L.N_LANGUAGES, dtype=bool)
        for gid in w:
            ords = c2l_groups[gid]
            seen[ords[filtered_mask[ords]]] = True
        lang_counts[seen] += 1

    subset_mask = filtered_mask & (lang_counts >= adjusted_word_count / 2.0)
    return subset_mask if subset_mask.any() else filtered_mask

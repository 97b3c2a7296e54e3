"""Single-string detector: the full pipeline of `api/LanguageDetector.kt:215-295`.

This is the engine's per-row math (vectorized NumPy inner ops over packed
hash tables); the Spark pandas UDF applies it per Arrow batch row. The
independent dict-based oracle in ``lingua_spark.oracle`` must agree
bit-for-bit (tests assert it).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .. import langdata as L
from ..models import PackedModels
from ..uniscript import CAT_LETTER, cat_ids, codes_of
from .ngram import extract_ngram_prefix_hashes
from .rules import detect_language_with_rules, filter_languages_by_rules
from .text import clean_up_batch, word_spans

_ALL = tuple(l.name for l in L.LANGUAGES)
_IS_LOGO_LANG = np.zeros(L.N_LANGUAGES, dtype=bool)
for _n in L.LANGUAGES_SUPPORTING_LOGOGRAMS:
    _IS_LOGO_LANG[L.ORDINAL[_n]] = True


def ngram_length_range(cleaned_len: int, low_accuracy: bool) -> list[int]:
    """Plan selection (LanguageDetector.kt:250-257)."""
    if cleaned_len >= L.HIGH_ACCURACY_MODE_MAX_TEXT_LENGTH or low_accuracy:
        lengths = [3]
    else:
        lengths = [1, 2, 3, 4, 5]
    return [n for n in lengths if cleaned_len >= n]


def decide_confidences(
    confs: list[tuple[str, float]], min_rel_distance: float
) -> tuple[str, float]:
    """Top-2 decision (LanguageDetector.kt:121-135): the one helper behind
    ``Detector.detect``, ``BatchDetector.decide_rows``, multi-language
    sections and quality assessment. UNKNOWN when there is no confidence,
    when the top two tie, or when their gap is below
    ``min_rel_distance``."""
    if not confs:
        return L.UNKNOWN, 0.0
    if len(confs) == 1:
        return confs[0]
    first, second = confs[0][1], confs[1][1]
    if first == second or (first - second) < min_rel_distance:
        return L.UNKNOWN, 0.0
    return confs[0]


def score_candidates(
    cleaned: str,
    cand_ords: np.ndarray,
    models: PackedModels,
    low_accuracy: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """ln-sum naive-Bayes scoring with prefix backoff (ops J1-J3, A1-A4).

    Returns (totals, unigram_counts) over cand_ords. totals already include
    the logogram boost and unigram normalization; 0.0 = no evidence.
    """
    codes = codes_of(cleaned)
    letters = cat_ids(codes) == CAT_LETTER
    ncand = len(cand_ords)
    lengths = ngram_length_range(len(cleaned), low_accuracy)

    per_length_sums: list[np.ndarray] = []
    unigram_counts = np.zeros(ncand, dtype=np.int64)
    sums1: np.ndarray | None = None
    unigram_hits: np.ndarray | None = None

    for n in lengths:
        h = extract_ngram_prefix_hashes(codes, letters, n)
        k = h.shape[0]
        if k == 0:
            per_length_sums.append(np.zeros(ncand, dtype=np.float64))
            continue
        logf = np.zeros((k, ncand), dtype=np.float64)
        remaining = np.ones((k, ncand), dtype=bool)
        direct_hit: np.ndarray | None = None
        for depth in range(n, 0, -1):
            if depth == n:
                f = models.lookup(
                    depth, np.ascontiguousarray(h[:, depth - 1]), cand_ords
                )
                direct_hit = f > 0
                hit = remaining & direct_hit
                if hit.any():
                    logf[hit] = np.log(f[hit].astype(np.float64))
                remaining &= ~hit
            else:
                # backoff only for rows with any unresolved (row, lang) cell;
                # gather/scatter pays off only when few rows remain
                rows_left = remaining.any(axis=1)
                n_left = int(rows_left.sum())
                if n_left == 0:
                    break
                if n_left < k // 2:
                    act = np.flatnonzero(rows_left)
                    f = models.lookup(
                        depth, np.ascontiguousarray(h[act, depth - 1]), cand_ords
                    )
                    sub_rem = remaining[act]
                    hit = sub_rem & (f > 0)
                    if hit.any():
                        sub_logf = logf[act]
                        sub_logf[hit] = np.log(f[hit].astype(np.float64))
                        logf[act] = sub_logf
                        sub_rem &= ~hit
                        remaining[act] = sub_rem
                else:
                    f = models.lookup(
                        depth, np.ascontiguousarray(h[:, depth - 1]), cand_ords
                    )
                    hit = remaining & (f > 0)
                    if hit.any():
                        logf[hit] = np.log(f[hit].astype(np.float64))
                    remaining &= ~hit
        # Canonical summation: np.add.reduceat over ascending-hash n-grams —
        # its associativity is layout-independent, so this is bit-identical
        # to the batch engine's segment sums and the oracle's 1-D reduceat.
        sums = np.add.reduceat(logf, [0], axis=0)[0]
        # Logogram boost (LanguageDetector.kt:577-587): negative sums of
        # CHINESE/JAPANESE/KOREAN multiplied by 0.85, applied per length.
        boost = _IS_LOGO_LANG[cand_ords] & (sums < 0.0)
        sums = np.where(boost, sums * L.LOGOGRAM_PROBABILITY_BOOST, sums)
        per_length_sums.append(sums)
        if n == 1:
            sums1 = sums
            unigram_hits = direct_hit

    if sums1 is not None and unigram_hits is not None:
        # Unigram-hit counting (LanguageDetector.kt:262-277,334-351):
        # restrict to candidates with non-zero length-1 probability if any.
        nonzero = sums1 != 0.0
        eligible = nonzero if nonzero.any() else np.ones(len(cand_ords), bool)
        counts = unigram_hits.sum(axis=0)
        unigram_counts = np.where(eligible, counts, 0)

    totals = np.zeros(ncand, dtype=np.float64)
    for sums in per_length_sums:
        totals = totals + sums
    div = unigram_counts > 0
    totals = np.where(div, totals / np.maximum(unigram_counts, 1), totals)
    return totals, unigram_counts


def confidence_from_totals(
    cand_ords: np.ndarray, totals: np.ndarray
) -> list[tuple[str, float]]:
    """max/total normalization + (value desc, ordinal asc) ordering
    (LanguageDetector.kt:288-293, EnumDoubleMap.kt:97-128)."""
    nz = totals != 0.0
    if not nz.any():
        return []
    highest = totals[nz].max()
    confs = np.zeros(len(cand_ords), dtype=np.float64)
    confs[nz] = highest / totals[nz]
    order = np.lexsort((cand_ords[nz], -confs[nz]))
    sel_ords = cand_ords[nz][order]
    sel_confs = confs[nz][order]
    return [(L.LANGUAGES[o].name, float(c)) for o, c in zip(sel_ords, sel_confs)]


@dataclass
class Detector:
    """Config dataclass analog of `api/LanguageDetectorBuilder.kt:39-144`."""

    models: PackedModels
    languages: tuple[str, ...] = _ALL
    minimum_relative_distance: float = 0.0
    low_accuracy: bool = False
    _lang_ords: np.ndarray = field(init=False, repr=False)

    def __post_init__(self) -> None:
        if not (0.0 <= self.minimum_relative_distance <= 0.99):
            raise ValueError("minimum relative distance must be in 0.0..0.99")
        if len(self.languages) < 1:
            raise ValueError("detector needs at least one language")
        ords = sorted(L.ORDINAL[n] for n in self.languages)
        self._lang_ords = np.array(ords, dtype=np.int64)
        self.languages = tuple(L.LANGUAGES[o].name for o in ords)

    def confidence_values(self, text: str) -> list[tuple[str, float]]:
        (cleaned,), (lettered,) = clean_up_batch([text])
        if not lettered:
            return []
        orig_codes = codes_of(text)
        spans = word_spans(orig_codes)
        rule_lang = detect_language_with_rules(orig_codes, spans, self.languages)
        if rule_lang != L.UNKNOWN:
            return [(rule_lang, 1.0)]
        filtered = filter_languages_by_rules(orig_codes, spans, self.languages)
        if len(filtered) == 1:
            return [(filtered[0], 1.0)]
        if self.low_accuracy and len(cleaned) < 3:
            return []
        cand_ords = np.array([L.ORDINAL[n] for n in filtered], dtype=np.int64)
        totals, _ = score_candidates(
            cleaned, cand_ords, self.models, self.low_accuracy
        )
        return confidence_from_totals(cand_ords, totals)

    def detect(self, text: str) -> str:
        """detectLanguageOf + top-2 decision (LanguageDetector.kt:121-135)."""
        return decide_confidences(
            self.confidence_values(text), self.minimum_relative_distance
        )[0]

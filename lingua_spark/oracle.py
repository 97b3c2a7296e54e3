"""Pure-Python dict-based oracle detector (M1 in SURVEY.md §7).

Independent re-implementation of the scoring path used to cross-check the
NumPy engine: string-keyed dict lookups with explicit per-ngram prefix
backoff (`api/LanguageDetector.kt:593-659`), instead of packed hash tables
and masked cascades. Cleanup/wordlist/rule stages are shared with the
engine (their behavior is pinned by unit tests ported from the reference's
model-free test suite, `src/test/.../api/LanguageDetectorTest.kt`).

Summation order is the engine's defined order: distinct n-grams ascending
by FNV-1a hash, summed left to right by one ``np.add.reduceat(vec, [0])``
per language — the sequential order of the engine's per-row segment sums
(``core.detector._seg_sums``), so the two agree bit for bit.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import langdata as L
from .core.detector import ngram_length_range
from .core.ngram import fnv1a
from .core.rules import detect_language_with_rules, filter_languages_by_rules
from .core.text import clean_up, word_spans
from .uniscript import CAT_LETTER, cat_ids, codes_of, is_letter


def extract_distinct_ngrams(cleaned: str, n: int) -> list[str]:
    """Distinct letter-only n-grams, ascending FNV-1a hash order."""
    seen: dict[int, str] = {}
    letters = [is_letter(c) for c in cleaned]
    for i in range(len(cleaned) - n + 1):
        if all(letters[i : i + n]):
            gram = cleaned[i : i + n]
            seen.setdefault(fnv1a(gram), gram)
    return [seen[h] for h in sorted(seen)]


def backoff_log_freq(
    gram: str, table: dict[int, dict[str, float]]
) -> float:
    """ln(freq) after prefix backoff 5->4->3->2->1; 0.0 on total miss."""
    g = gram
    while g:
        f = table.get(len(g), {}).get(g, 0.0)
        if f > 0:
            return float(np.log(np.float64(np.float32(f))))
        g = g[:-1]
    return 0.0


@dataclass
class OracleDetector:
    tables: dict[str, dict[int, dict[str, float]]]  # lang -> n -> gram -> f32
    languages: tuple[str, ...] = tuple(l.name for l in L.LANGUAGES)
    minimum_relative_distance: float = 0.0
    low_accuracy: bool = False

    def confidence_values(self, text: str) -> list[tuple[str, float]]:
        cleaned = clean_up(text)
        if cleaned == "" or not (cat_ids(codes_of(cleaned)) == CAT_LETTER).any():
            return []
        orig = codes_of(text)
        spans = word_spans(orig)
        rule_lang = detect_language_with_rules(orig, spans, self.languages)
        if rule_lang != L.UNKNOWN:
            return [(rule_lang, 1.0)]
        filtered = filter_languages_by_rules(orig, spans, self.languages)
        if len(filtered) == 1:
            return [(filtered[0], 1.0)]
        if self.low_accuracy and len(cleaned) < 3:
            return []

        lengths = ngram_length_range(len(cleaned), self.low_accuracy)
        totals: dict[str, float] = {lang: 0.0 for lang in filtered}
        unigram_counts: dict[str, int] = {lang: 0 for lang in filtered}

        sums_by_lang_n: dict[str, list[float]] = {lang: [] for lang in filtered}
        sums1: dict[str, float] = {}
        for n in lengths:
            grams = extract_distinct_ngrams(cleaned, n)
            for lang in filtered:
                table = self.tables.get(lang, {})
                vec = np.array(
                    [backoff_log_freq(g, table) for g in grams], dtype=np.float64
                )
                # strict left-to-right sum (canonical order, see engine)
                s = float(np.add.reduceat(vec, [0])[0]) if vec.size else 0.0
                if s < 0.0 and lang in L.LANGUAGES_SUPPORTING_LOGOGRAMS:
                    s *= L.LOGOGRAM_PROBABILITY_BOOST
                sums_by_lang_n[lang].append(s)
                if n == 1:
                    sums1[lang] = s
            if n == 1:
                nonzero = {lang for lang, s in sums1.items() if s != 0.0}
                eligible = nonzero if nonzero else set(filtered)
                for lang in eligible:
                    uni = self.tables.get(lang, {}).get(1, {})
                    unigram_counts[lang] = sum(
                        1 for g in grams if uni.get(g, 0.0) > 0
                    )

        for lang in filtered:
            t = 0.0
            for s in sums_by_lang_n[lang]:
                t = t + s
            if unigram_counts[lang] > 0:
                t = t / unigram_counts[lang]
            totals[lang] = t

        nonzero_totals = {lang: t for lang, t in totals.items() if t != 0.0}
        if not nonzero_totals:
            return []
        highest = max(nonzero_totals.values())
        confs = [(lang, highest / t) for lang, t in nonzero_totals.items()]
        confs.sort(key=lambda kv: (-kv[1], L.ORDINAL[kv[0]]))
        return confs

    def detect(self, text: str) -> str:
        confs = self.confidence_values(text)
        if not confs:
            return L.UNKNOWN
        if len(confs) == 1:
            return confs[0][0]
        first, second = confs[0][1], confs[1][1]
        if first == second or (first - second) < self.minimum_relative_distance:
            return L.UNKNOWN
        return confs[0][0]

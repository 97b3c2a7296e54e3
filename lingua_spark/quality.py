"""Per-turn quality assessment: scrub + heuristics + perplexity + keep/drop.

North-rule extras (BASELINE.json), not present in the reference; the
reference contributes the language-ID core they fuse with. All thresholds
live in one config dataclass (the U4 builder analog, SURVEY.md §2). The
same functions run in the pure-Python oracle and inside the Spark pandas
UDF, so per-turn parity (keep/drop + scrubbed text) is by construction and
asserted by tests.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np

from . import langdata as L
from .core.detector import Detector, decide_confidences
from .core.ngram import _NP_OFFSET, _NP_PRIME
from .core.text import CHUNK_ROWS, clean_up_batch
from .ftlangid import FastTextish
from .models import PackedModels
from .uniscript import (
    CAT_LETTER,
    CAT_NUMBER,
    CAT_SPACE,
    cat_ids,
    codes_of,
)

# --- PII / toxicity scrub -------------------------------------------------
# Order matters (URL-with-creds before email; card before phone).
SCRUB_RULES: list[tuple[str, re.Pattern[str], str]] = [
    ("url_cred", re.compile(r"\bhttps?://[^\s/@]+:[^\s/@]+@[^\s]+"), "[URL_CRED]"),
    ("email", re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b"), "[EMAIL]"),
    ("card", re.compile(r"\b\d(?:[ -]?\d){12,15}\b"), "[CARD]"),
    ("ssn", re.compile(r"\b\d{3}-\d{2}-\d{4}\b"), "[SSN]"),
    ("phone", re.compile(r"\b(?:\+?\d{1,3}[ -]?)?(?:\(\d{3}\)|\d{3})[ -]\d{3}[ -]\d{4}\b"), "[PHONE]"),
    ("ip", re.compile(r"\b(?:\d{1,3}\.){3}\d{1,3}\b"), "[IP]"),
]
# Placeholder toxicity lexicon (synthetic; a real deployment swaps the list).
TOXICITY_WORDS = ("badslur1", "badslur2", "badslur3")
_TOX_RE = re.compile(
    r"\b(?:" + "|".join(map(re.escape, TOXICITY_WORDS)) + r")\b", re.IGNORECASE
)


def scrub_text(text: str) -> tuple[str, int]:
    """Apply PII + toxicity replacements; returns (scrubbed, n_replacements)."""
    n_total = 0
    for _, pat, repl in SCRUB_RULES:
        text, n = pat.subn(repl, text)
        n_total += n
    text, n = _TOX_RE.subn("[TOX]", text)
    return text, n_total + n


# --- heuristic quality signals ---------------------------------------------


_EMPTY_STATS = {
    "n_chars": 0, "letter_ratio": 0.0, "symbol_ratio": 0.0,
    "digit_ratio": 0.0, "max_run_ratio": 0.0, "word_repetition": 0.0,
    "n_words": 0,
}


def text_stats_batch(texts: list[str]) -> list[dict[str, float]]:
    """Heuristic signals of every row, one ``CHUNK_ROWS`` chunk at a time.

    The chunk's rows are joined with no separator into one code-point
    blob with a row id per code point. Category counts are one
    ``np.bincount(row * 5 + cat)``; the ratios are int / int, so exact.
    The longest identical-character run breaks at every change and at
    every row start. ``str.split`` stays per row."""
    out: list[dict[str, float]] = []
    for c0 in range(0, len(texts), CHUNK_ROWS):
        rows = texts[c0 : c0 + CHUNK_ROWS]
        R = len(rows)
        lens = np.fromiter(map(len, rows), dtype=np.int64, count=R)
        codes = codes_of("".join(rows))
        row = np.repeat(np.arange(R), lens)
        cats = np.bincount(row * 5 + cat_ids(codes), minlength=R * 5)
        cats = cats.reshape(R, 5).tolist()
        run_start = np.ones(codes.size, dtype=bool)
        run_start[1:] = (codes[1:] != codes[:-1]) | (row[1:] != row[:-1])
        starts = np.flatnonzero(run_start)
        run_len = np.diff(starts, append=codes.size)
        # runs are in row order: each nonempty row's runs are one segment
        full = np.flatnonzero(lens)
        max_run = np.zeros(R, dtype=np.int64)
        if full.size:
            first = np.searchsorted(row[starts], full)
            max_run[full] = np.maximum.reduceat(run_len, first)
        for t, n, c, m in zip(rows, lens.tolist(), cats, max_run.tolist()):
            if n == 0:
                out.append(dict(_EMPTY_STATS))
                continue
            letters, digits, spaces = c[CAT_LETTER], c[CAT_NUMBER], c[CAT_SPACE]
            symbols = n - letters - digits - spaces
            words = t.split()
            n_words = len(words)
            distinct = len(set(words)) if words else 0
            out.append({
                "n_chars": n,
                "letter_ratio": letters / n,
                "symbol_ratio": symbols / n,
                "digit_ratio": digits / n,
                "max_run_ratio": m / n,
                "word_repetition": 1.0 - (distinct / n_words) if n_words else 0.0,
                "n_words": n_words,
            })
    return out


def text_stats(text: str) -> dict[str, float]:
    """``text_stats_batch`` of one row."""
    return text_stats_batch([text])[0]


# --- perplexity -------------------------------------------------------------

MISS_LOG_PROB = float(np.log(np.float64(1e-9)))


def trigram_perplexity_batch(
    cleaned_list: list[str],
    lang_ords: list[int],
    models: PackedModels,
) -> np.ndarray:
    """Per-row perplexity: exp(mean negative trigram log-likelihood) under
    the row's language (``lang_ords[i] < 0`` -> inf), with the detector's
    prefix backoff; misses get a fixed floor. Rows with no all-letter
    trigram are inf. Reuses the A1 scoring machinery (SURVEY.md §2).

    One ``CHUNK_ROWS`` chunk at a time, the rows with a language and at
    least 3 code points are joined with U+0000 between them. U+0000 is not
    a letter, so no all-letter window crosses a row. One cumulative FNV
    pass yields h1/h2/h3 at every position (the same op sequence as
    ``prefix_hashes`` over window views); each depth of the backoff is one
    ``models.lookup`` per distinct language. A row's windows are one
    contiguous slice of the log-probabilities, and its value is
    ``np.exp(-logp[s:e].mean())``: numpy's pairwise sum depends only on
    the slice length, so this is the per-row mean bit for bit. Never
    ``np.add.reduceat`` here: it sums sequentially, a different float
    order."""
    out = np.full(len(cleaned_list), np.inf, dtype=np.float64)
    todo = [
        i for i, (c, o) in enumerate(zip(cleaned_list, lang_ords))
        if o >= 0 and len(c) >= 3
    ]
    for c0 in range(0, len(todo), CHUNK_ROWS):
        idx = todo[c0 : c0 + CHUNK_ROWS]
        rows = [cleaned_list[i] for i in idx]
        lens = np.fromiter(map(len, rows), dtype=np.int64, count=len(rows))
        codes = codes_of("\x00".join(rows))
        B = codes.size
        letters = cat_ids(codes) == CAT_LETTER
        cu = codes.astype(np.uint64)
        with np.errstate(over="ignore"):
            h1 = (np.uint64(_NP_OFFSET) ^ cu) * np.uint64(_NP_PRIME)
            h2 = (h1[: B - 1] ^ cu[1:]) * np.uint64(_NP_PRIME)
            h3 = (h2[: B - 2] ^ cu[2:]) * np.uint64(_NP_PRIME)
        pos = np.flatnonzero(letters[: B - 2] & letters[1 : B - 1] & letters[2:])
        # row of each window: rows start at cumsum(lens + 1) - (lens + 1)
        win_row = np.searchsorted(np.cumsum(lens + 1), pos, side="right")
        win_ord = np.asarray([lang_ords[i] for i in idx], dtype=np.int64)[win_row]
        h = (h1[pos], h2[pos], h3[pos])
        logp = np.full(pos.size, MISS_LOG_PROB, dtype=np.float64)
        for o in np.unique(win_ord):
            w = np.flatnonzero(win_ord == o)
            remaining = np.ones(w.size, dtype=bool)
            col = np.array([o], dtype=np.int64)
            for depth in (3, 2, 1):
                if not remaining.any():  # every window resolved: the
                    break                # lookups left contribute nothing
                f = models.lookup(depth, h[depth - 1][w], col)[:, 0]
                hit = remaining & (f > 0)
                if hit.any():
                    logp[w[hit]] = np.log(f[hit].astype(np.float64))
                remaining &= ~hit
        ends = np.cumsum(np.bincount(win_row, minlength=len(idx))).tolist()
        for i, s, e in zip(idx, [0] + ends[:-1], ends):
            if e > s:
                out[i] = float(np.exp(-logp[s:e].mean()))
    return out


def trigram_perplexity(cleaned: str, lang_ord: int, models: PackedModels) -> float:
    """``trigram_perplexity_batch`` of one row."""
    return float(trigram_perplexity_batch([cleaned], [lang_ord], models)[0])


# --- fused assessment -------------------------------------------------------


@dataclass
class QualityConfig:
    """Analog of the reference's builder config (LanguageDetectorBuilder.kt)."""

    min_chars: int = 8
    min_words: int = 2
    max_symbol_ratio: float = 0.30
    max_digit_ratio: float = 0.50
    min_letter_ratio: float = 0.30
    max_run_ratio: float = 0.50
    max_word_repetition: float = 0.80
    max_perplexity: float = 5e6
    require_langid_agreement: bool = False  # advisory flag by default
    minimum_relative_distance: float = 0.0
    low_accuracy: bool = False
    languages: tuple[str, ...] = field(
        default_factory=lambda: tuple(l.name for l in L.LANGUAGES)
    )


# language name -> ISO 639-1, resolved once (hot in _finish_assessment)
_ISO1 = {l.name: l.iso1 for l in L.LANGUAGES}

RESULT_FIELDS = [
    "lang", "confidence", "confidences", "perplexity", "ft_lang",
    "langid_agree", "quality_flags", "keep", "scrubbed_text", "n_scrubbed",
]


def _finish_assessment(
    text: str,
    confs: list[tuple[str, float]],
    decision: tuple[str, float],
    ft_ord: int,
    ppl: float,
    stats: dict[str, float],
    config: QualityConfig,
) -> dict:
    """One row's result from its batch-kernel values: ``decision`` is
    ``decide_confidences(confs, ...)``, ``ft_ord`` / ``ppl`` / ``stats``
    the row's ft cross-check ordinal, perplexity and text stats. Adds the
    flags and the scrub, the only stages that run per row."""
    lang, confidence = decision
    ft_lang = L.UNKNOWN if ft_ord < 0 else L.LANGUAGES[ft_ord].name
    agree = lang != L.UNKNOWN and ft_lang == lang

    flags: list[str] = []
    if stats["n_chars"] < config.min_chars:
        flags.append("too_short")
    if stats["n_words"] < config.min_words:
        flags.append("too_few_words")
    if stats["symbol_ratio"] > config.max_symbol_ratio:
        flags.append("symbol_ratio")
    if stats["digit_ratio"] > config.max_digit_ratio:
        flags.append("digit_ratio")
    if stats["letter_ratio"] < config.min_letter_ratio:
        flags.append("letter_ratio")
    if stats["max_run_ratio"] > config.max_run_ratio and stats["n_chars"] >= 4:
        flags.append("char_run")
    if stats["word_repetition"] > config.max_word_repetition:
        flags.append("word_repetition")
    if lang == L.UNKNOWN:
        flags.append("no_language")
    elif ppl > config.max_perplexity:
        flags.append("perplexity")
    if config.require_langid_agreement and not agree:
        flags.append("langid_disagree")

    scrubbed, n_scrubbed = scrub_text(text)
    return {
        "lang": lang,
        "confidence": float(confidence),
        "confidences": {_ISO1[k]: v for k, v in confs} if confs else {},
        "perplexity": ppl,
        "ft_lang": ft_lang,
        "langid_agree": bool(agree),
        "quality_flags": flags,
        "keep": not flags,
        "scrubbed_text": scrubbed,
        "n_scrubbed": int(n_scrubbed),
    }


def assess_confidences(
    texts: list[str],
    conf_rows: list[list[tuple[str, float]]],
    cleaned: list[str],
    min_rel_distance: float,
    models: PackedModels,
    ft: FastTextish,
    config: QualityConfig,
) -> list[dict]:
    """Everything after detection, for rows whose confidences are given
    (``cleaned`` is ``clean_up_batch(texts)[0]``): the decision, then the
    fastText cross-check, perplexity and text stats as one cross-row
    kernel each, then ``_finish_assessment`` per row."""
    decisions = [decide_confidences(c, min_rel_distance) for c in conf_rows]
    lang_ords = [
        L.ORDINAL[lang] if lang != L.UNKNOWN else -1 for lang, _ in decisions
    ]
    ft_ords = ft.predict_ords(cleaned).tolist()
    ppls = trigram_perplexity_batch(cleaned, lang_ords, models).tolist()
    stats = text_stats_batch(texts)
    return [
        _finish_assessment(t, confs, d, fo, p, st, config)
        for t, confs, d, fo, p, st in zip(
            texts, conf_rows, decisions, ft_ords, ppls, stats
        )
    ]


def assess_batch(
    texts: list[str],
    detector: Detector,
    ft: FastTextish,
    config: QualityConfig,
) -> list[dict]:
    """Assessment of every row, what the Spark UDF runs. Every stage is one
    cross-row kernel over the batch: clean-up (whose "has a letter" flags
    detection reuses), detection, the fastText cross-check, perplexity and
    text stats. Only the flags and the scrub run per row. Each kernel is
    bit-identical to its per-row reference (tests/assess_reference.py)."""
    cleaned, lettered = clean_up_batch(texts)
    conf_rows = detector.confidence_rows(texts, cleaned=(cleaned, lettered))
    return assess_confidences(
        texts, conf_rows, cleaned, detector.minimum_relative_distance,
        detector.models, ft, config,
    )


def assess_text(
    text: str,
    detector: Detector,
    ft: FastTextish,
    config: QualityConfig,
) -> dict:
    """``assess_batch`` of one text."""
    return assess_batch([text], detector, ft, config)[0]

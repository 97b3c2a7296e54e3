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
from .core.detector import Detector
from .core.ngram import extract_ngram_prefix_hashes
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


def text_stats(text: str) -> dict[str, float]:
    codes = codes_of(text)
    n = len(codes)
    if n == 0:
        return {
            "n_chars": 0, "letter_ratio": 0.0, "symbol_ratio": 0.0,
            "digit_ratio": 0.0, "max_run_ratio": 0.0, "word_repetition": 0.0,
            "n_words": 0,
        }
    cats = cat_ids(codes)
    letters = int((cats == CAT_LETTER).sum())
    digits = int((cats == CAT_NUMBER).sum())
    spaces = int((cats == CAT_SPACE).sum())
    symbols = n - letters - digits - spaces
    # longest identical-char run
    if n > 1:
        changes = np.flatnonzero(np.diff(codes) != 0)
        run_bounds = np.concatenate(([-1], changes, [n - 1]))
        max_run = int(np.diff(run_bounds).max())
    else:
        max_run = 1
    words = text.split()
    n_words = len(words)
    distinct = len(set(words)) if words else 0
    return {
        "n_chars": n,
        "letter_ratio": letters / n,
        "symbol_ratio": symbols / n,
        "digit_ratio": digits / n,
        "max_run_ratio": max_run / n,
        "word_repetition": 1.0 - (distinct / n_words) if n_words else 0.0,
        "n_words": n_words,
    }


# --- perplexity -------------------------------------------------------------

MISS_LOG_PROB = float(np.log(np.float64(1e-9)))


def trigram_perplexity_batch(
    cleaned_list: list[str],
    lang_ords: list[int],
    models: PackedModels,
) -> np.ndarray:
    """Per-row perplexity for a batch; ``lang_ords[i] < 0`` -> inf.

    Deliberately a plain loop over trigram_perplexity, so every value is
    bit-identical to the per-row path. A grouped blob variant (rows of
    one language concatenated, one lookup per depth, per-row means via
    ``np.add.reduceat``) was measured in-process on 3,000
    ``corpus.transcripts`` turns, single core, at 38-47 ms/krow against
    66-80 for this loop. It was deleted because its segment sums run in a
    different float order and so only match to tolerance. A bit-identical
    grouped form (per-row ``.mean()`` over slices of one blob) is an open
    lead; see BENCH/BASELINE.md."""
    out = np.full(len(cleaned_list), np.inf, dtype=np.float64)
    for i, (c, o) in enumerate(zip(cleaned_list, lang_ords)):
        if o >= 0:
            out[i] = trigram_perplexity(c, o, models)
    return out


def trigram_perplexity(cleaned: str, lang_ord: int, models: PackedModels) -> float:
    """exp(mean negative trigram log-likelihood) under the detected
    language's model, with the detector's prefix backoff; misses get a
    fixed floor. Reuses the A1 scoring machinery (SURVEY.md §2)."""
    codes = codes_of(cleaned)
    letters = cat_ids(codes) == CAT_LETTER
    if len(codes) < 3:
        return float("inf")
    from .core.ngram import _NP_OFFSET, _NP_PRIME

    # one cumulative FNV pass yields h1/h2/h3 at every start position —
    # bit-identical to prefix_hashes over window views (same op sequence)
    n = len(codes)
    cu = codes.astype(np.uint64)
    with np.errstate(over="ignore"):
        h1 = (np.uint64(_NP_OFFSET) ^ cu) * np.uint64(_NP_PRIME)
        h2 = (h1[: n - 1] ^ cu[1:]) * np.uint64(_NP_PRIME)
        h3 = (h2[: n - 2] ^ cu[2:]) * np.uint64(_NP_PRIME)
    valid = letters[: n - 2] & letters[1 : n - 1] & letters[2:]
    if not valid.any():
        return float("inf")
    h = np.column_stack((h1[: n - 2][valid], h2[: n - 2][valid], h3[valid]))
    logp = np.full(h.shape[0], MISS_LOG_PROB, dtype=np.float64)
    remaining = np.ones(h.shape[0], dtype=bool)
    col = np.array([lang_ord], dtype=np.int64)
    for depth in (3, 2, 1):
        if not remaining.any():  # all windows already resolved: skip
            break                # remaining lookups (they contribute 0)
        f = models.lookup(
            depth, np.ascontiguousarray(h[:, depth - 1]), col
        )[:, 0]
        hit = remaining & (f > 0)
        if hit.any():
            logp[hit] = np.log(f[hit].astype(np.float64))
        remaining &= ~hit
    return float(np.exp(-logp.mean()))


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


def decide_confidences(
    confs: list[tuple[str, float]], min_rel_distance: float
) -> tuple[str, float]:
    """Top-2 decision (LanguageDetector.kt:121-135): the shared helper for
    every assessment path, so the batch path's precomputed perplexity is
    keyed by exactly the decision _finish_assessment would make."""
    if not confs:
        return L.UNKNOWN, 0.0
    if len(confs) == 1:
        return confs[0]
    first, second = confs[0][1], confs[1][1]
    if first == second or (first - second) < min_rel_distance:
        return L.UNKNOWN, 0.0
    return confs[0]


def _finish_assessment(
    text: str,
    confs: list[tuple[str, float]],
    min_rel_distance: float,
    models: PackedModels,
    ft: FastTextish,
    config: QualityConfig,
    *,
    cleaned: str | None = None,
    ft_ord: int | None = None,
    ppl: float | None = None,
) -> dict:
    """Everything after detection: decision, cross-check, perplexity,
    heuristics, scrub. Shared by the per-row and batch assessment paths so
    their outputs are identical by construction. The keyword arguments
    accept batch-precomputed values (assess_batch); when omitted the
    per-row equivalents are computed here — both paths are bit-identical
    (pinned by tests/test_quality.py)."""
    from .core.text import clean_up

    lang, confidence = decide_confidences(confs, min_rel_distance)

    if ft_ord is None:
        ft_ord = ft.predict_ord(text)
    ft_lang = L.UNKNOWN if ft_ord < 0 else L.LANGUAGES[ft_ord].name
    agree = lang != L.UNKNOWN and ft_lang == lang

    if cleaned is None:
        cleaned = clean_up(text)
    if ppl is None:
        ppl = (
            trigram_perplexity(cleaned, L.ORDINAL[lang], models)
            if lang != L.UNKNOWN
            else float("inf")
        )

    stats = text_stats(text)
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


def assess_batch(
    texts: list[str],
    batch_detector,
    ft: FastTextish,
    config: QualityConfig,
) -> list[dict]:
    """Batch assessment: vectorized detection (engine.batch) plus batched
    cleanup / fastText cross-check / perplexity (each bit-identical to its
    per-row equivalent — round 1 cleaned every text 3x and ran the ft and
    perplexity stages row-at-a-time, ~50% of pipeline CPU). Output matches
    assess_text row for row."""
    from .core.text import clean_up

    cleaned = [clean_up(t) for t in texts]
    conf_rows = batch_detector.confidence_rows(texts, cleaned_list=cleaned)
    mrd = batch_detector.minimum_relative_distance
    langs = [decide_confidences(c, mrd)[0] for c in conf_rows]
    ft_ords = ft.predict_ords(cleaned)
    lang_ords = [
        L.ORDINAL[lang] if lang != L.UNKNOWN else -1 for lang in langs
    ]
    ppls = trigram_perplexity_batch(cleaned, lang_ords, batch_detector.models)
    return [
        _finish_assessment(
            t, confs, mrd, batch_detector.models, ft, config,
            cleaned=cl, ft_ord=int(fo), ppl=float(p),
        )
        for t, confs, cl, fo, p in zip(
            texts, conf_rows, cleaned, ft_ords, ppls
        )
    ]


def assess_text(
    text: str,
    detector: Detector,
    ft: FastTextish,
    config: QualityConfig,
) -> dict:
    """Full per-turn assessment (per-row reference path; the Spark UDF uses
    assess_batch, which must match this row for row)."""
    confs = detector.confidence_values(text)
    return _finish_assessment(
        text, confs, detector.minimum_relative_distance,
        detector.models, ft, config,
    )

"""Frozen per-row references for the assess stages — test data, not library code.

``clean_up``, ``has_letter``, ``text_stats``, ``trigram_perplexity``,
``buckets`` and ``ft_scores`` are the per-row bodies that
``lingua_spark.core.text``, ``lingua_spark.quality`` and
``lingua_spark.ftlangid`` ran before their cross-row kernels. They are
kept here verbatim so the kernels can be checked against them on
generated corpora. They share only lookup tables and hash constants with
the package; do not "fix" them to track the kernels.
"""

from __future__ import annotations

import re

import numpy as np

from lingua_spark.core.ngram import _NP_OFFSET, _NP_PRIME
from lingua_spark.ftlangid import N_BUCKETS, NGRAM_SIZES
from lingua_spark.models import PackedModels
from lingua_spark.quality import MISS_LOG_PROB
from lingua_spark.uniscript import (
    CAT_LETTER,
    CAT_NUMBER,
    CAT_PUNCT,
    CAT_SPACE,
    cat_ids,
    codes_of,
)

_TRIM_RE = re.compile(r"^[\x00-\x20]+|[\x00-\x20]+$")
_ASCII_WS = frozenset(map(ord, " \t\n\x0b\f\r"))
_WS_LUT = np.zeros(0x21, dtype=bool)
_WS_LUT[sorted(_ASCII_WS)] = True


def clean_up(text: str) -> str:
    """trim -> lowercase -> drop \\p{N}|\\p{P} -> collapse ASCII \\s+ to ' '."""
    t = _TRIM_RE.sub("", text).lower()
    if not t:
        return ""
    codes = codes_of(t)
    cat = cat_ids(codes)
    keep = (cat != CAT_NUMBER) & (cat != CAT_PUNCT)
    codes = codes[keep]
    if codes.size == 0:
        return ""
    is_ws = _WS_LUT[np.minimum(codes, np.uint32(0x20))] & (codes <= 0x20)
    # collapse runs of ASCII whitespace to a single ' '
    codes = np.where(is_ws, np.uint32(0x20), codes)
    prev_ws = np.concatenate(([False], is_ws[:-1]))
    codes = codes[~(is_ws & prev_ws)]
    return codes.astype("<u4").tobytes().decode("utf-32-le")


def has_letter(cleaned: str) -> bool:
    """The per-row "has a letter" test ``confidence_rows`` ran."""
    return cleaned != "" and bool(
        (cat_ids(codes_of(cleaned)) == CAT_LETTER).any()
    )


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


def trigram_perplexity(cleaned: str, lang_ord: int, models: PackedModels) -> float:
    """exp(mean negative trigram log-likelihood) under the detected
    language's model, with the detector's prefix backoff; misses get a
    fixed floor."""
    codes = codes_of(cleaned)
    letters = cat_ids(codes) == CAT_LETTER
    if len(codes) < 3:
        return float("inf")
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


def buckets(cleaned: str) -> np.ndarray:
    """Hashed char n-gram buckets: all 2-grams in position order, then
    the 3-grams, then the 4-grams."""
    codes = codes_of(cleaned)
    length = len(codes)
    if length < NGRAM_SIZES[0]:
        return np.empty(0, dtype=np.uint64)
    by_n: dict[int, np.ndarray] = {}
    h = np.full(length, _NP_OFFSET, dtype=np.uint64)
    cu = codes.astype(np.uint64)
    with np.errstate(over="ignore"):
        for j in range(max(NGRAM_SIZES)):
            if length - j <= 0:
                break
            h = (h[: length - j] ^ cu[j:]) * _NP_PRIME
            if j + 1 in NGRAM_SIZES:
                by_n[j + 1] = h
    out = [by_n[n] % np.uint64(N_BUCKETS) for n in NGRAM_SIZES if n in by_n]
    if not out:
        return np.empty(0, dtype=np.uint64)
    return np.concatenate(out)


def ft_scores(weights: np.ndarray, cleaned: str) -> np.ndarray | None:
    """float64 per-language scores of one cleaned row, or None for no
    evidence (``predict_ord_cleaned`` returned -1)."""
    b = buckets(cleaned)
    if b.size == 0:
        return None
    g = np.take(weights, b.astype(np.int64), axis=0)
    return g.sum(axis=0, dtype=np.float64)


def ft_predict_ord(weights: np.ndarray, cleaned: str) -> int:
    scores = ft_scores(weights, cleaned)
    if scores is None:
        return -1
    return int(np.argmax(scores))  # argmax ties -> lowest ordinal

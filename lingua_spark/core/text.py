"""Text cleanup and word splitting.

Re-expresses the reference's scalar string stages:
- ``clean_up_batch``: `api/LanguageDetector.kt:319-327` — trim, lowercase,
  strip numbers+punctuation (Unicode N*|P*), collapse ASCII whitespace runs
  to a single space. The reference fuses the two regex passes
  (`internal/util/extension/CharSequenceExtensions.kt:31-55`); we do one
  vectorized pass over codepoint category tables, for a whole chunk of
  rows at once. ``clean_up`` is the one-row call into it.
- ``word_list``: `internal/util/WordList.kt:18-80` — split at U+0020 and at
  logograms (each logogram is its own 1-char word); logogram =
  non-whitespace char whose script is HAN/HIRAGANA/KATAKANA/HANGUL
  (`internal/util/extension/CharExtensions.kt:25-39`).

Divergence (documented, see SURVEY.md §7): we use code-point semantics and
Python ``str.lower``; the reference operates on UTF-16 code units and
Kotlin ``lowercase()``. Our oracle is the parity target.
"""

from __future__ import annotations

import numpy as np

from ..langdata import SCRIPTS_WITH_LOGOGRAMS
from ..uniscript import (
    CAT_LETTER,
    CAT_NUMBER,
    CAT_PUNCT,
    SCRIPT_ID,
    cat_ids,
    codes_of,
    script_ids,
)

# Java String.trim strips chars <= U+0020 (LanguageDetector.kt:320).
_TRIM_CHARS = "".join(map(chr, range(0x21)))
# Java default \s is ASCII-only: [ \t\n\x0B\f\r] (Constant.kt:162).
_ASCII_WS = frozenset(map(ord, " \t\n\x0b\f\r"))
# codepoint<=0x20 -> is-ASCII-whitespace LUT (hot path: one gather beats
# np.isin's per-call sort; codes above 0x20 are clamped to 0x20 and then
# masked back out by the <=0x20 test)
_WS_LUT = np.zeros(0x21, dtype=bool)
_WS_LUT[sorted(_ASCII_WS)] = True

# rows per chunk of every cross-row kernel (clean-up, rules, scoring,
# the ft cross-check, perplexity, text stats): bounds the per-chunk blob
# temporaries so they stay cache-resident (512 rows ≈ 25k distinct windows
# x ~50 candidate columns in scoring; measured faster than 2048-row chunks).
CHUNK_ROWS = 512

LOGO_SCRIPT_IDS = np.array(
    sorted(SCRIPT_ID[s] for s in SCRIPTS_WITH_LOGOGRAMS), dtype=np.uint8
)
# script id -> is-logogram boolean (faster than np.isin in the hot path)
_LOGO_BY_SID = np.zeros(max(SCRIPT_ID.values()) + 1, dtype=bool)
_LOGO_BY_SID[LOGO_SCRIPT_IDS] = True


def clean_up_batch(texts: list[str]) -> tuple[list[str], np.ndarray]:
    """trim -> lowercase -> drop \\p{N}|\\p{P} -> collapse ASCII \\s+ to ' ',
    for every row, plus each cleaned row's "has a letter" flag (R,).

    Trim and ``str.lower`` stay per row: ``lower`` is context-sensitive
    (Greek final sigma), so it must never see the joined string. The
    lowered rows of one ``CHUNK_ROWS`` chunk are joined with no separator,
    keeping a row id per code point; N/P code points are dropped, ASCII
    whitespace maps to U+0020, and a space is dropped only when the kept
    code point before it is a space of the same row, so no whitespace run
    collapses across a row boundary. The cleaned blob is decoded once and
    sliced back into rows by their new lengths."""
    cleaned: list[str] = []
    lettered = np.zeros(len(texts), dtype=bool)
    for c0 in range(0, len(texts), CHUNK_ROWS):
        rows = [t.strip(_TRIM_CHARS).lower() for t in texts[c0 : c0 + CHUNK_ROWS]]
        R = len(rows)
        lens = np.fromiter(map(len, rows), dtype=np.int64, count=R)
        codes = codes_of("".join(rows))
        row = np.repeat(np.arange(R), lens)
        cat = cat_ids(codes)
        keep = (cat != CAT_NUMBER) & (cat != CAT_PUNCT)
        codes, row, cat = codes[keep], row[keep], cat[keep]
        is_ws = _WS_LUT[np.minimum(codes, np.uint32(0x20))] & (codes <= 0x20)
        codes = np.where(is_ws, np.uint32(0x20), codes)
        # a space is dropped after a space of the same row only
        keep = np.ones(codes.size, dtype=bool)
        keep[1:] = ~(is_ws[1:] & is_ws[:-1] & (row[1:] == row[:-1]))
        codes, row, cat = codes[keep], row[keep], cat[keep]
        lettered[c0 : c0 + R] = (
            np.bincount(row[cat == CAT_LETTER], minlength=R) > 0
        )
        blob = codes.astype("<u4").tobytes().decode("utf-32-le")
        ends = np.cumsum(np.bincount(row, minlength=R)).tolist()
        cleaned.extend(blob[s:e] for s, e in zip([0] + ends[:-1], ends))
    return cleaned, lettered


def clean_up(text: str) -> str:
    """``clean_up_batch`` of one row."""
    return clean_up_batch([text])[0][0]


def is_logogram_char(codes: np.ndarray) -> np.ndarray:
    """Boolean mask: char is a logogram (CharExtensions.kt:32-39)."""
    return _LOGO_BY_SID[script_ids(codes)]


def word_spans(codes: np.ndarray) -> np.ndarray:
    """(k, 2) [start, end) spans of words in codepoint space."""
    if codes.size == 0:
        return np.empty((0, 2), dtype=np.int64)
    logo = is_logogram_char(codes)
    wc = ~((codes == 0x20) | logo)
    d = np.diff(np.concatenate(([0], wc.view(np.int8), [0])))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    if not logo.any():  # common case: no logograms -> starts are already
        return np.stack([starts, ends], axis=1)  # ascending, nothing to merge
    logos = np.flatnonzero(logo)
    spans = np.concatenate(
        [
            np.stack([starts, ends], axis=1),
            np.stack([logos, logos + 1], axis=1),
        ]
    )
    return spans[np.argsort(spans[:, 0], kind="stable")]


def row_word_spans(
    texts: list[str],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``word_spans`` of rows joined into one blob by U+0020.

    Returns (blob code points, (W, 2) spans in blob positions, (W,) row of
    each word). U+0020 always ends a word, so no span crosses a row, and
    row i's spans are ``word_spans`` of row i shifted by its blob offset.
    """
    codes = codes_of(" ".join(texts))
    spans = word_spans(codes)
    lens = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts)) + 1
    row_start = np.cumsum(lens) - lens
    word_row = np.searchsorted(row_start, spans[:, 0], side="right") - 1
    return codes, spans, word_row


def word_list(text: str) -> list[str]:
    """Split at U+0020 and logograms; logograms become 1-char words."""
    spans = word_spans(codes_of(text))
    return [text[s:e] for s, e in spans]

"""Batch-vectorized detection: the M3 re-architecture (SURVEY.md §7).

Replaces the per-row scoring loop with cross-row NumPy:
- all rows' cleaned codepoints are concatenated into one blob with a 0
  separator (0 is not a letter, so windows crossing row boundaries are
  excluded by the letter-mask rule automatically — the same rule that
  skips non-letter windows, TestDataLanguageModel.kt:52-61);
- one sliding-window pass + one cumulative FNV-1a pass per n-gram length
  produces every row's windows at once;
- per-row dedup = lexsort on (row, hash) + neighbor-unique, which also
  yields each row's defined ascending-hash order;
- one searchsorted per (length, depth) serves every row; backoff is the
  same masked cascade over prefix-hash columns;
- per-(row, language) sums use np.add.reduceat on a transposed contiguous
  matrix. Bit-parity across the three implementations relies on reduceat's
  SEQUENTIAL (left-to-right) summation over each segment, which is
  layout-independent; all three implementations (this module, the per-row
  engine, oracle.py) must therefore sum via np.add.reduceat — never via
  np.sum or add.reduce, whose pairwise summation orders differ.

Rules F1/F2 run cross-row too: ``core.rules.rules_batch`` takes one
CHUNK_ROWS chunk of lettered rows at a time, joins them into one
code-point blob and returns every row's rule result and dense
(N_LANGUAGES,) candidate mask, so scoring never branches per language. Its
float sums follow the word-order contract in ``core.rules``, which the
per-row engine and oracle.py reach through the same kernel.
"""

from __future__ import annotations

import numpy as np

from .. import langdata as L
from ..core.detector import (
    _IS_LOGO_LANG,
    decide_confidences,
    ngram_length_range,
)
from ..core.rules import UNKNOWN_ORD, rules_batch
from ..core.text import CHUNK_ROWS, clean_up_batch
from ..models import PackedModels
from ..uniscript import CAT_LETTER, cat_ids, codes_of

_ALL = tuple(l.name for l in L.LANGUAGES)
_NL = L.N_LANGUAGES


def _batch_windows(
    blobs: list[np.ndarray], letters: list[np.ndarray], n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate rows, extract valid n-windows, return (prefix-hash
    matrix (K, n), row_id (K,)) deduped per row, ascending hash per row."""
    if not blobs:
        return np.empty((0, n), dtype=np.uint64), np.empty(0, dtype=np.int64)
    sep = np.zeros(1, dtype=np.uint32)
    sepl = np.zeros(1, dtype=bool)
    cat = np.concatenate([x for b in blobs for x in (b, sep)])[:-1]
    let = np.concatenate([x for m in letters for x in (m, sepl)])[:-1]
    if len(cat) < n:
        return np.empty((0, n), dtype=np.uint64), np.empty(0, dtype=np.int64)
    from numpy.lib.stride_tricks import sliding_window_view

    valid = sliding_window_view(let, n).all(axis=1)
    # map window start position -> row id via row start offsets
    lens = np.fromiter((len(b) + 1 for b in blobs), dtype=np.int64, count=len(blobs))
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    pos = np.flatnonzero(valid)
    if pos.size == 0:
        return np.empty((0, n), dtype=np.uint64), np.empty(0, dtype=np.int64)
    row_id = np.searchsorted(starts, pos, side="right") - 1
    # One cumulative FNV pass over the blob yields the d-gram hash at
    # every start position for every depth d <= n (the state after d
    # chars IS the d-prefix hash) — bit-identical to prefix_hashes over
    # materialized (K, n) windows, without building/copying them.
    from ..core.ngram import _NP_OFFSET, _NP_PRIME

    B = len(cat)
    cu = cat.astype(np.uint64)
    h = np.empty((pos.size, n), dtype=np.uint64)
    state = np.full(B, _NP_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for d in range(n):
            state = (state[: B - d] ^ cu[d:]) * _NP_PRIME
            h[:, d] = state[pos]
    # per-row dedup on the full-ngram hash, keep ascending order per row
    order = np.lexsort((h[:, -1], row_id))
    row_s = row_id[order]
    h_s = h[order]
    keep = np.ones(order.size, dtype=bool)
    keep[1:] = (row_s[1:] != row_s[:-1]) | (h_s[1:, -1] != h_s[:-1, -1])
    return h_s[keep], row_s[keep]


def _row_offsets(row_id: np.ndarray, n_rows: int) -> np.ndarray:
    """Start offset of each row's segment in a row-sorted array (n_rows+1,)."""
    return np.searchsorted(row_id, np.arange(n_rows + 1))


def _seg_sums(values: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """(K, C) values, (R+1,) row offsets -> (R, C) per-segment column sums.

    np.add.reduceat's associativity is layout-independent (verified: axis-0
    strided, axis-1 contiguous, and 1-D reduceat agree bit-for-bit), so this
    matches the per-row engine's and the oracle's reduceat sums exactly.
    """
    n_rows = offsets.size - 1
    out = np.zeros((n_rows, values.shape[1]), dtype=np.float64)
    if values.shape[0] == 0:
        return out
    starts = offsets[:-1]
    nonempty = starts < offsets[1:]
    if not nonempty.any():
        return out
    # Reduceat ONLY over nonempty segment starts: they are strictly
    # increasing and all < len(values), and each nonempty segment's true
    # end equals the next nonempty start (empty rows in between contribute
    # no indices), so every reduceat slice is exactly one row's windows.
    # (The previous implementation clamped out-of-range starts of TRAILING
    # empty rows to len-1, which silently truncated the last nonempty
    # row's segment by one window — a latent parity bug vs the per-row
    # engine, exposed by the round-2 model regen.)
    ne_idx = np.flatnonzero(nonempty)
    out[ne_idx] = np.add.reduceat(values, starts[ne_idx], axis=0)
    return out


def score_rows_batch(
    cleaned_list: list[str],
    cand_masks: np.ndarray,  # (R, NL) bool
    models: PackedModels,
    low_accuracy: bool = False,
) -> np.ndarray:
    """Vectorized A1-A5 scoring for R rows at once. Returns (R, NL) float64
    totals (0.0 = no evidence), with logogram boost and unigram
    normalization applied; non-candidate cells are zeroed."""
    R = len(cleaned_list)
    totals = np.zeros((R, _NL), dtype=np.float64)
    if R == 0:
        return totals
    codes_list = [codes_of(c) for c in cleaned_list]
    letters_list = [cat_ids(c) == CAT_LETTER for c in codes_list]
    lengths_per_row = [
        ngram_length_range(len(c), low_accuracy) for c in cleaned_list
    ]

    unigram_counts = np.zeros((R, _NL), dtype=np.int64)
    sums_by_n: dict[int, np.ndarray] = {}
    # union of candidate languages across the chunk: scoring only ever
    # touches these columns (per-row pruning happens via cand_masks at end)
    active_cols = np.flatnonzero(cand_masks.any(axis=0))

    for n in (1, 2, 3, 4, 5):
        rows_n = np.fromiter(
            (i for i in range(R) if n in lengths_per_row[i]), dtype=np.int64
        )
        if rows_n.size == 0:
            continue
        h, row_id_local = _batch_windows(
            [codes_list[i] for i in rows_n], [letters_list[i] for i in rows_n], n
        )
        K = h.shape[0]
        sums_n = np.zeros((R, _NL), dtype=np.float64)
        if K:
            # Dedup windows ACROSS rows: common n-grams repeat heavily, so
            # the expensive cascade + float64 log run once per distinct
            # window; rows then gather their logf slice by inverse index.
            uniq_hash, uidx, inv = np.unique(
                h[:, -1], return_index=True, return_inverse=True
            )
            hu = h[uidx]  # (U, n) prefix hashes of distinct windows
            cols = active_cols  # chunk-union candidate ordinals
            f = models.lookup(n, np.ascontiguousarray(hu[:, n - 1]), cols)
            if n == 1:
                direct_hits_1 = f > 0
            for depth in range(n - 1, 0, -1):
                # (a column-restricted variant — lookup only cols with
                # remaining misses — was measured slightly SLOWER: the
                # np.ix_ scatter/gather costs more than the saved width)
                need_rows = np.flatnonzero((f <= 0).any(axis=1))
                if need_rows.size == 0:
                    break
                f2 = models.lookup(
                    depth, np.ascontiguousarray(hu[need_rows, depth - 1]), cols
                )
                sub = f[need_rows]
                f[need_rows] = np.where(sub > 0, sub, f2)
            # log(1)=0 encodes "miss contributes nothing" (A1 semantics)
            logf_u = np.log(np.where(f > 0, f.astype(np.float64), 1.0))
            offsets = _row_offsets(row_id_local, rows_n.size)
            seg = _seg_sums(logf_u[inv], offsets)  # (len(rows_n), C)
            sums_n[np.ix_(rows_n, cols)] = seg
            if n == 1:
                cnt = _seg_sums(
                    direct_hits_1[inv].astype(np.float64), offsets
                )
                unigram_counts[np.ix_(rows_n, cols)] = cnt.astype(np.int64)
        # logogram boost per length (LanguageDetector.kt:577-587)
        boost = _IS_LOGO_LANG[None, :] & (sums_n < 0.0)
        sums_n = np.where(boost, sums_n * L.LOGOGRAM_PROBABILITY_BOOST, sums_n)
        sums_by_n[n] = sums_n
        if n == 1:
            # unigram count restriction (LanguageDetector.kt:262-277):
            # per row, count only CANDIDATE languages with nonzero n=1
            # probability (if any candidate has one). Must be restricted to
            # the row's own candidate mask: sums for chunk-union columns
            # outside this row's candidates are populated too, and letting
            # them into the any()/eligible logic diverges from the per-row
            # engine (found by test_batch_engine_exact_parity after the
            # round-2 model regen).
            nonzero1 = (sums_n != 0.0) & cand_masks
            any_nz = nonzero1.any(axis=1)
            eligible = np.where(any_nz[:, None], nonzero1, cand_masks)
            unigram_counts = np.where(eligible, unigram_counts, 0)

    for n in sorted(sums_by_n):
        totals = totals + sums_by_n[n]
    div = unigram_counts > 0
    totals = np.where(div, totals / np.maximum(unigram_counts, 1), totals)
    totals = np.where(cand_masks, totals, 0.0)
    return totals


class BatchDetector:
    """Batch analog of core.detector.Detector; identical per-row results."""

    def __init__(
        self,
        models: PackedModels,
        languages: tuple[str, ...] = _ALL,
        minimum_relative_distance: float = 0.0,
        low_accuracy: bool = False,
    ) -> None:
        if not (0.0 <= minimum_relative_distance <= 0.99):
            raise ValueError("minimum relative distance must be in 0.0..0.99")
        self.models = models
        self.languages = tuple(
            L.LANGUAGES[o].name
            for o in sorted(L.ORDINAL[n] for n in languages)
        )
        self.minimum_relative_distance = minimum_relative_distance
        self.low_accuracy = low_accuracy

    def confidence_rows(
        self,
        texts: list[str],
        cleaned: tuple[list[str], np.ndarray] | None = None,
    ) -> list[list[tuple[str, float]]]:
        """Confidence values of every row. ``cleaned`` is
        ``clean_up_batch(texts)`` (cleaned rows and their "has a letter"
        flags), passed by assess_batch so one clean-up pass serves
        detection, the ft cross-check and perplexity; without it the rows
        are cleaned here by the same kernel."""
        R = len(texts)
        results: list[list[tuple[str, float]]] = [[] for _ in range(R)]
        cleaned_list, has_letter = (
            clean_up_batch(texts) if cleaned is None else cleaned
        )
        lettered = np.flatnonzero(has_letter).tolist()
        to_score_idx: list[int] = []
        cand_masks: list[np.ndarray] = []
        for c0 in range(0, len(lettered), CHUNK_ROWS):
            idx = lettered[c0 : c0 + CHUNK_ROWS]
            rule_ords, masks = rules_batch(
                [texts[i] for i in idx], self.languages
            )
            n_cand = masks.sum(axis=1)
            for j, i in enumerate(idx):
                if rule_ords[j] != UNKNOWN_ORD:
                    results[i] = [(L.LANGUAGES[rule_ords[j]].name, 1.0)]
                elif n_cand[j] == 1:
                    results[i] = [
                        (L.LANGUAGES[int(np.argmax(masks[j]))].name, 1.0)
                    ]
                elif not (self.low_accuracy and len(cleaned_list[i]) < 3):
                    to_score_idx.append(i)
                    cand_masks.append(masks[j])

        for c0 in range(0, len(to_score_idx), CHUNK_ROWS):
            idx = to_score_idx[c0 : c0 + CHUNK_ROWS]
            cleaned_chunk = [cleaned_list[i] for i in idx]
            masks = np.stack(cand_masks[c0 : c0 + CHUNK_ROWS])
            totals = score_rows_batch(
                cleaned_chunk, masks, self.models, self.low_accuracy
            )
            for j, i in enumerate(idx):
                t = totals[j]
                nz = np.flatnonzero(t)
                if nz.size == 0:
                    continue
                highest = t[nz].max()
                confs = highest / t[nz]
                order = np.lexsort((nz, -confs))
                results[i] = [
                    (L.LANGUAGES[o].name, float(c))
                    for o, c in zip(nz[order], confs[order])
                ]
        return results

    def decide_rows(
        self, conf_rows: list[list[tuple[str, float]]]
    ) -> list[str]:
        """Top-2 decision (LanguageDetector.kt:121-135) per precomputed row."""
        mrd = self.minimum_relative_distance
        return [decide_confidences(confs, mrd)[0] for confs in conf_rows]

    def detect_rows(self, texts: list[str]) -> list[str]:
        return self.decide_rows(self.confidence_rows(texts))

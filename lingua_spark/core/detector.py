"""The detector: the full pipeline of `api/LanguageDetector.kt:215-295`
for many rows at once (the M3 re-architecture, SURVEY.md §7).

One class, ``Detector`` (also exported as ``engine.batch.BatchDetector``),
serves every caller. The Spark UDFs and ``quality.assess_batch`` pass it a
whole Arrow batch; the per-text calls ``confidence_values`` / ``detect``
are one-row batches through the same kernels. The independent dict-based
oracle in ``lingua_spark.oracle`` must agree bit-for-bit (tests assert it).

Scoring (``score_rows_batch``) is cross-row NumPy:
- a chunk's cleaned rows are encoded once, as one code-point blob with a
  0 separator (0 is not a letter, so windows crossing row boundaries are
  excluded by the letter-mask rule automatically — the same rule that
  skips non-letter windows, TestDataLanguageModel.kt:52-61);
- one cumulative FNV-1a pass per depth gives the prefix hashes of every
  window of every length, and one sliding-window letter test per n-gram
  length selects every row's windows at once;
- per-row dedup = lexsort on (row, hash) + neighbor-unique, which also
  yields each row's defined ascending-hash order;
- one searchsorted per (length, depth) serves every row; backoff is a
  masked cascade over prefix-hash columns;
- per-(row, language) sums use np.add.reduceat. Bit-parity with oracle.py
  relies on reduceat's SEQUENTIAL (left-to-right) summation over each
  segment, which is layout-independent; both implementations must
  therefore sum via np.add.reduceat — never via np.sum or add.reduce,
  whose pairwise summation orders differ.

Rules F1/F2 run cross-row too: ``core.rules.rules_batch`` takes one
CHUNK_ROWS chunk of lettered rows at a time, joins them into one
code-point blob and returns every row's rule result and dense
(N_LANGUAGES,) candidate mask, so scoring never branches per language. Its
float sums follow the word-order contract in ``core.rules``, which
oracle.py reaches through the same kernel.
"""

from __future__ import annotations

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

from .. import langdata as L
from ..models import PackedModels
from ..uniscript import CAT_LETTER, cat_ids, codes_of
from .ngram import _NP_OFFSET, _NP_PRIME
from .rules import UNKNOWN_ORD, rules_batch
from .text import CHUNK_ROWS, clean_up_batch

_ALL = tuple(l.name for l in L.LANGUAGES)
_NL = L.N_LANGUAGES
_IS_LOGO_LANG = np.zeros(_NL, dtype=bool)
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
    ``Detector.decide_rows``, multi-language sections and quality
    assessment. UNKNOWN when there is no confidence, when the top two
    tie, or when their gap is below ``min_rel_distance``."""
    if not confs:
        return L.UNKNOWN, 0.0
    if len(confs) == 1:
        return confs[0]
    first, second = confs[0][1], confs[1][1]
    if first == second or (first - second) < min_rel_distance:
        return L.UNKNOWN, 0.0
    return confs[0]


def _row_offsets(row_id: np.ndarray, n_rows: int) -> np.ndarray:
    """Start offset of each row's segment in a row-sorted array (n_rows+1,)."""
    return np.searchsorted(row_id, np.arange(n_rows + 1))


def _seg_sums(values: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """(K, C) values, (R+1,) row offsets -> (R, C) per-segment column sums.

    np.add.reduceat's associativity is layout-independent (verified: axis-0
    strided, axis-1 contiguous, and 1-D reduceat agree bit-for-bit), so a
    row's sums do not depend on the other rows of its chunk and match the
    oracle's 1-D reduceat sums exactly.
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
    # row's segment by one window — a latent parity bug vs the oracle,
    # exposed by the round-2 model regen.)
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
    plans = [ngram_length_range(len(c), low_accuracy) for c in cleaned_list]
    max_n = max((max(p) for p in plans if p), default=0)
    # One code-point blob per chunk, rows joined by U+0000: it is not a
    # letter, so no letter-only window crosses a row.
    lens = np.fromiter(map(len, cleaned_list), dtype=np.int64, count=R)
    codes = codes_of("\x00".join(cleaned_list))
    letters = cat_ids(codes) == CAT_LETTER
    row_of = np.repeat(np.arange(R), lens + 1)[:-1]
    # states[d - 1][p]: FNV-1a of codes[p : p + d], the d-prefix hash of
    # every window starting at p (the state after d chars IS that hash)
    B = codes.size
    cu = codes.astype(np.uint64)
    states = []
    state = np.full(B, _NP_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for d in range(max_n):
            state = (state[: B - d] ^ cu[d:]) * _NP_PRIME
            states.append(state)

    unigram_counts = np.zeros((R, _NL), dtype=np.int64)
    sums_by_n: dict[int, np.ndarray] = {}
    # union of candidate languages across the chunk: scoring only ever
    # touches these columns (per-row pruning happens via cand_masks at end)
    cols = np.flatnonzero(cand_masks.any(axis=0))

    for n in range(1, max_n + 1):
        uses_n = np.fromiter((n in p for p in plans), dtype=bool, count=R)
        if not uses_n.any():
            continue
        # letter-only windows of the rows whose plan includes n
        pos = np.flatnonzero(sliding_window_view(letters, n).all(axis=1))
        pos = pos[uses_n[row_of[pos]]]
        sums_n = np.zeros((R, _NL), dtype=np.float64)
        if pos.size:
            # per-row dedup on the full-ngram hash, ascending hash per row
            row_id, full = row_of[pos], states[n - 1][pos]
            order = np.lexsort((full, row_id))
            pos, row_id, full = pos[order], row_id[order], full[order]
            keep = np.ones(pos.size, dtype=bool)
            keep[1:] = (row_id[1:] != row_id[:-1]) | (full[1:] != full[:-1])
            pos, row_id, full = pos[keep], row_id[keep], full[keep]
            # Dedup windows ACROSS rows: common n-grams repeat heavily, so
            # the expensive cascade + float64 log run once per distinct
            # window; rows then gather their logf slice by inverse index.
            _, uidx, inv = np.unique(full, return_index=True, return_inverse=True)
            pos_u = pos[uidx]  # one start position per distinct window
            f = models.lookup(n, states[n - 1][pos_u], cols)
            if n == 1:
                direct_hits_1 = f > 0
            for depth in range(n - 1, 0, -1):
                # (a column-restricted variant — lookup only cols with
                # remaining misses — was measured slightly SLOWER: the
                # np.ix_ scatter/gather costs more than the saved width)
                need_rows = np.flatnonzero((f <= 0).any(axis=1))
                if need_rows.size == 0:
                    break
                f2 = models.lookup(depth, states[depth - 1][pos_u[need_rows]], cols)
                sub = f[need_rows]
                f[need_rows] = np.where(sub > 0, sub, f2)
            # log(1)=0 encodes "miss contributes nothing" (A1 semantics)
            logf_u = np.log(np.where(f > 0, f.astype(np.float64), 1.0))
            offsets = _row_offsets(row_id, R)
            sums_n[:, cols] = _seg_sums(logf_u[inv], offsets)
            if n == 1:
                cnt = _seg_sums(direct_hits_1[inv].astype(np.float64), offsets)
                unigram_counts[:, cols] = cnt.astype(np.int64)
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
            # them into the any()/eligible logic diverges from the row on
            # its own (found by test_batch_engine_exact_parity after the
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


class Detector:
    """The language detector (`api/LanguageDetectorBuilder.kt:39-144`
    config analog). Every method runs the batch kernels; a single text is
    a one-row batch."""

    def __init__(
        self,
        models: PackedModels,
        languages: tuple[str, ...] = _ALL,
        minimum_relative_distance: float = 0.0,
        low_accuracy: bool = False,
    ) -> None:
        if not (0.0 <= minimum_relative_distance <= 0.99):
            raise ValueError("minimum relative distance must be in 0.0..0.99")
        if len(languages) < 1:
            raise ValueError("detector needs at least one language")
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
            # max/total normalization + (value desc, ordinal asc) ordering
            # (LanguageDetector.kt:288-293, EnumDoubleMap.kt:97-128)
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

    def confidence_values(self, text: str) -> list[tuple[str, float]]:
        """``confidence_rows`` of one text."""
        return self.confidence_rows([text])[0]

    def detect(self, text: str) -> str:
        """detectLanguageOf: ``detect_rows`` of one text."""
        return self.detect_rows([text])[0]

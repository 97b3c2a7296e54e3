"""fastText-style secondary language identifier (north-rule cross-check).

A hashed character-n-gram multinomial Naive-Bayes linear model — the same
shape as fastText's langid (hashed n-gram features -> linear scores) but
trained deterministically from our corpus. Shares the broadcast pattern of
the primary detector: one float32 weight matrix (N_BUCKETS, N_LANGUAGES)
shipped to executors once.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import langdata as L
from .core.ngram import _NP_OFFSET, _NP_PRIME
from .core.text import CHUNK_ROWS, clean_up, clean_up_batch
from .uniscript import codes_of

N_BUCKETS = 1 << 15
NGRAM_SIZES = (2, 3, 4)
# buckets per weight gather: a (2048, N_LANGUAGES) float32 gather is
# ~0.65 MB, so it and its reduceat stay in a core's L2 and reuse warm
# allocator pages gather after gather (BENCH/BASELINE.md "Environment
# finding"). 1-2k measured fastest, 16k ~1.7x slower. A row with more
# buckets is gathered alone.
_GATHER_BUCKETS = 1 << 11


def _row_buckets(cleaned_list: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Hashed char n-gram buckets (spaces included, fastText-style) of
    every row: the (K,) int64 bucket stream and its (R+1,) row offsets.

    Each row's segment holds its 2-grams in position order, then its
    3-grams, then its 4-grams. The rows are joined with no separator and
    one cumulative FNV pass runs over the blob: the state after j+1 chars
    from position p IS the hash of the (j+1)-gram at p, so every 2/3/4-gram
    hash comes out of one pass. A window is kept only if it ends inside
    its row, and lands in its row's slot for its n."""
    R = len(cleaned_list)
    lens = np.fromiter(map(len, cleaned_list), dtype=np.int64, count=R)
    counts = {n: np.maximum(lens - n + 1, 0) for n in NGRAM_SIZES}
    offsets = np.zeros(R + 1, dtype=np.int64)
    np.cumsum(sum(counts.values()), out=offsets[1:])
    out = np.empty(offsets[-1], dtype=np.int64)
    cu = codes_of("".join(cleaned_list)).astype(np.uint64)
    B = cu.size
    row = np.repeat(np.arange(R), lens)
    at = np.arange(B) - np.repeat(np.cumsum(lens) - lens, lens)  # in-row pos
    left = np.repeat(lens, lens) - at  # chars from each position to row end
    base = offsets[:-1].copy()
    h = np.full(B, _NP_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(max(NGRAM_SIZES)):
            h = (h[: B - j] ^ cu[j:]) * _NP_PRIME
            if j + 1 in NGRAM_SIZES:
                p = np.flatnonzero(left[: B - j] > j)
                out[base[row[p]] + at[p]] = h[p] % np.uint64(N_BUCKETS)
                base += counts[j + 1]
    return out, offsets


@dataclass
class FastTextish:
    weights: np.ndarray  # float32 (N_BUCKETS, N_LANGUAGES) log-probs

    @classmethod
    def train(cls, corpus: dict[str, list[str]], alpha: float = 1.0) -> "FastTextish":
        counts = np.zeros((N_BUCKETS, L.N_LANGUAGES), dtype=np.float64)
        for lang, lines in sorted(corpus.items()):
            col = L.ORDINAL[lang]
            for c0 in range(0, len(lines), CHUNK_ROWS):
                cleaned, _ = clean_up_batch(lines[c0 : c0 + CHUNK_ROWS])
                b, _ = _row_buckets(cleaned)
                counts[:, col] += np.bincount(b, minlength=N_BUCKETS)
        totals = counts.sum(axis=0)
        w = np.log((counts + alpha) / (totals + alpha * N_BUCKETS))
        return cls(weights=w.astype(np.float32))

    def predict_ord(self, text: str) -> int:
        """Ordinal of the predicted language, or -1 for no evidence."""
        return self.predict_ord_cleaned(clean_up(text))

    def predict_ord_cleaned(self, cleaned: str) -> int:
        """``predict_ords`` of one cleaned row."""
        return int(self.predict_ords([cleaned])[0])

    def predict_ords(self, cleaned_list: list[str]) -> np.ndarray:
        """Per-row prediction for a batch of already-cleaned texts: the
        ordinal of each row's highest score (ties -> lowest ordinal), or
        -1 for a row with no n-gram."""
        scores, has = self._scores(cleaned_list)
        return np.where(has, np.argmax(scores, axis=1), -1)

    def _scores(self, cleaned_list: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """(R, N_LANGUAGES) float64 scores and (R,) "has an n-gram" flags.

        A row's score is the sum of its buckets' weight rows, added one
        bucket after another in float64 in ``_row_buckets`` order:
        ``np.add.reduceat`` sums each segment sequentially, as the per-row
        ``g.sum(axis=0, dtype=float64)`` over a (k, N_LANGUAGES) gather
        did. The gathers are bounded to ``_GATHER_BUCKETS`` rows of weights
        (more only for a row that alone has more); no float64 copy of the
        weights is kept."""
        R = len(cleaned_list)
        scores = np.zeros((R, self.weights.shape[1]), dtype=np.float64)
        has = np.zeros(R, dtype=bool)
        for c0 in range(0, R, CHUNK_ROWS):
            b, offsets = _row_buckets(cleaned_list[c0 : c0 + CHUNK_ROWS])
            n = offsets.size - 1
            starts = offsets[:-1]
            nonempty = starts < offsets[1:]
            has[c0 : c0 + n] = nonempty
            lo = 0
            while lo < n:
                hi = max(lo + 1, int(np.searchsorted(
                    offsets, offsets[lo] + _GATHER_BUCKETS, side="right"
                )) - 1)
                # reduceat over nonempty starts only: each segment then
                # ends at the next nonempty start (see core.detector._seg_sums)
                ne = lo + np.flatnonzero(nonempty[lo:hi])
                if ne.size:
                    g = np.take(self.weights, b[offsets[lo] : offsets[hi]], axis=0)
                    scores[c0 + ne] = np.add.reduceat(
                        g, starts[ne] - offsets[lo], axis=0, dtype=np.float64
                    )
                lo = hi
        return scores, has

    def predict(self, text: str) -> str:
        o = self.predict_ord(text)
        return L.UNKNOWN if o < 0 else L.LANGUAGES[o].name

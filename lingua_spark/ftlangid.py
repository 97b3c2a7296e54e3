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
from .core.text import clean_up
from .uniscript import codes_of

N_BUCKETS = 1 << 15
NGRAM_SIZES = (2, 3, 4)


def _buckets(cleaned: str) -> np.ndarray:
    """Hashed char n-gram buckets (spaces included, fastText-style).

    One cumulative FNV pass serves every n: the hash state after j chars
    from position i IS the hash of the j-gram at i, so extending the
    running state once per prefix length yields all 2/3/4-gram hashes in
    position order — bit-identical to per-n window hashing, without
    building window views per n."""
    codes = codes_of(cleaned)
    length = len(codes)
    if length < NGRAM_SIZES[0]:
        return np.empty(0, dtype=np.uint64)
    from .core.ngram import _NP_OFFSET, _NP_PRIME

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


@dataclass
class FastTextish:
    weights: np.ndarray  # float32 (N_BUCKETS, N_LANGUAGES) log-probs
    # per-process scratch for the per-row weight gather: reusing one buffer
    # keeps the gather in warm allocator pages (fresh ~275 KB temporaries
    # per 300-char row pay this sandbox's first-touch page-fault cost,
    # BENCH/BASELINE.md). Bit-identical: ndarray.sum's pairwise tree
    # depends only on the element count, not the buffer identity.
    _scratch: np.ndarray | None = None

    @classmethod
    def train(cls, corpus: dict[str, list[str]], alpha: float = 1.0) -> "FastTextish":
        counts = np.zeros((N_BUCKETS, L.N_LANGUAGES), dtype=np.float64)
        for lang, lines in sorted(corpus.items()):
            col = L.ORDINAL[lang]
            for line in lines:
                b = _buckets(clean_up(line))
                if b.size:
                    np.add.at(counts[:, col], b.astype(np.int64), 1.0)
        totals = counts.sum(axis=0)
        w = np.log((counts + alpha) / (totals + alpha * N_BUCKETS))
        return cls(weights=w.astype(np.float32))

    def predict_ord(self, text: str) -> int:
        """Ordinal of the predicted language, or -1 for no evidence."""
        return self.predict_ord_cleaned(clean_up(text))

    def predict_ord_cleaned(self, cleaned: str) -> int:
        b = _buckets(cleaned)
        if b.size == 0:
            return -1
        n = b.size
        buf = self._scratch
        if buf is None or buf.shape[0] < n:
            buf = np.empty(
                (max(2 * n, 4096), self.weights.shape[1]),
                dtype=self.weights.dtype,
            )
            self._scratch = buf
        g = np.take(self.weights, b.astype(np.int64), axis=0, out=buf[:n])
        scores = g.sum(axis=0, dtype=np.float64)
        return int(np.argmax(scores))  # argmax ties -> lowest ordinal

    def predict_ords(self, cleaned_list: list[str]) -> np.ndarray:
        """Per-row prediction for a batch of already-cleaned texts.

        Deliberately a plain loop. A cross-row blob variant (one bucket
        stream, one weight gather, per-row ``np.add.reduceat`` sums) was
        measured against it in-process on 3,000 ``corpus.transcripts``
        turns, single core: 112-142 ms/krow for the blob against 52-68
        for this loop, and the blob's sum order could flip argmax on
        near-ties. It was deleted; see BENCH/BASELINE.md."""
        out = np.full(len(cleaned_list), -1, dtype=np.int64)
        for i, c in enumerate(cleaned_list):
            out[i] = self.predict_ord_cleaned(c)
        return out

    def predict(self, text: str) -> str:
        o = self.predict_ord(text)
        return L.UNKNOWN if o < 0 else L.LANGUAGES[o].name

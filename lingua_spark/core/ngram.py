"""N-gram extraction and 64-bit FNV-1a hashing.

Replaces the reference's packed-primitive n-gram encoding
(`internal/Ngram.kt:62-90`) with FNV-1a over codepoints: the hash state
after k characters IS the hash of the k-prefix, so the prefix-backoff
chain (`api/LanguageDetector.kt:602-656`) falls out of the cumulative
states for free. Dedup semantics (`internal/TestDataLanguageModel.kt:47-66`)
are defined on the full-ngram hash; our engine's dedup order is ascending
hash value (documented divergence from the reference's insertion order —
the summed set is identical).
"""

from __future__ import annotations

import numpy as np

FNV_OFFSET = 0xCBF29CE484222325
FNV_PRIME = 0x100000001B3
_MASK64 = 0xFFFFFFFFFFFFFFFF

_NP_OFFSET = np.uint64(FNV_OFFSET)
_NP_PRIME = np.uint64(FNV_PRIME)


def fnv1a(text: str) -> int:
    """Scalar FNV-1a 64 over codepoints (model training / oracle keys)."""
    h = FNV_OFFSET
    for ch in text:
        h = ((h ^ ord(ch)) * FNV_PRIME) & _MASK64
    return h


def prefix_hashes(windows: np.ndarray) -> np.ndarray:
    """(k, n) codepoint windows -> (k, n) cumulative FNV-1a prefix hashes."""
    k, n = windows.shape
    out = np.empty((k, n), dtype=np.uint64)
    h = np.full(k, _NP_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(n):
            h = (h ^ windows[:, j].astype(np.uint64)) * _NP_PRIME
            out[:, j] = h
    return out


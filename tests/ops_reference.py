"""Frozen per-row references for two ``ops`` Arrow kernels — test data, not library code.

``gopher_mass_values`` (with its token hasher and the two loops that
called it, ``gopher_rep_masses`` and ``gopher_masses``) and
``minhash_sig`` are the per-row bodies that ``lingua_spark.ops.queries``
ran before its cross-row kernels. They are kept here verbatim so the
kernels can be checked against them on generated batches. Do not "fix"
them to track the kernels.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

MASS_FIELDS = ["chars", "t2", "t3", "t4"] + [f"d{n}" for n in range(5, 11)]


def gopher_tok_hasher():
    """Token -> md5-derived 64-bit hash with a memo cache, one per batch."""
    cache: dict[str, int] = {}

    def th64(tok: str) -> int:
        v = cache.get(tok)
        if v is None:
            v = int.from_bytes(
                hashlib.md5(tok.encode("utf-8")).digest()[:8], "big"
            )
            cache[tok] = v
        return v

    return th64


def gopher_mass_values(text, th64):
    """ONE doc's integer gram masses: (chars, t2, t3, t4, d5..d10) or
    None for a zero-token doc. uint64 wrap-around is by design; callers
    set np.seterr(over='ignore')."""
    P = np.uint64(0x9E3779B97F4A7C15)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    toks = [x for x in (text or "").lower().strip(" ").split(" ") if x]
    length = len(toks)
    if length == 0:
        return None
    th = np.fromiter((th64(t) for t in toks), dtype=np.uint64, count=length)
    tl = np.fromiter((len(t) for t in toks), dtype=np.int64, count=length)
    ct = np.concatenate(([0], np.cumsum(tl)))
    masses = {}
    h = th
    for n in range(2, 11):
        h = h[:-1] * P + th[n - 1 :]
        if h.size == 0:
            masses[n] = (0, 0)
            continue
        m = ct[n:] - ct[:-n]
        key = h * P2 + m.astype(np.uint64)
        _, first, counts = np.unique(
            key, return_index=True, return_counts=True
        )
        um = m[first]
        dup = counts > 1
        masses[n] = (
            int((counts * um).max()),
            int(((counts[dup] - 1) * um[dup]).sum()),
        )
    return (
        (int(ct[-1]),)
        + tuple(masses[n][0] for n in (2, 3, 4))
        + tuple(masses[n][1] for n in range(5, 11))
    )


def gopher_rep_masses(pdf):
    """The mapInPandas body: one row per doc with at least one token."""
    th64 = gopher_tok_hasher()
    rows = []
    err = np.seterr(over="ignore")
    try:
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            vals = gopher_mass_values(text, th64)
            if vals is None:
                continue
            rows.append((int(doc_id),) + vals)
    finally:
        np.seterr(**err)
    return pd.DataFrame(rows, columns=["doc_id"] + MASS_FIELDS)


def gopher_masses(texts):
    """The ``lingua_gopher_masses`` body as a list of 10-tuples, all None
    for a zero-token doc."""
    th64 = gopher_tok_hasher()
    none_row = (None,) * len(MASS_FIELDS)
    rows = []
    err = np.seterr(over="ignore")
    try:
        for text in texts:
            vals = gopher_mass_values(text, th64)
            rows.append(none_row if vals is None else vals)
    finally:
        np.seterr(**err)
    return rows


def minhash_sig(texts, ks):
    """The ``lingua_minhash_sig`` body as a list of 8-tuples of hex lanes."""
    cache: dict[str, tuple] = {}
    out = []
    for c, k in zip(texts, ks):
        if c is None:
            out.append((None,) * 8)
            continue
        k = int(k)
        seen = set()
        mins = None
        for i in range(max(len(c) - k + 1, 1)):
            s = c[i : i + k]
            if s in seen:
                continue
            seen.add(s)
            lanes = cache.get(s)
            if lanes is None:
                b = s.encode("utf-8")
                d0 = hashlib.md5(b).hexdigest()
                d1 = hashlib.md5(b"~" + b).hexdigest()
                lanes = (
                    d0[0:8], d0[8:16], d0[16:24], d0[24:32],
                    d1[0:8], d1[8:16], d1[16:24], d1[24:32],
                )
                cache[s] = lanes
            if mins is None:
                mins = list(lanes)
            else:
                for j in range(8):
                    if lanes[j] < mins[j]:
                        mins[j] = lanes[j]
        out.append(tuple(mins))
    return out

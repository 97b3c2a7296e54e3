"""Frozen packing reference — test data, not library code.

``pack_blocks`` is the body ``PackedModels.from_table`` ran before it hashed
and grouped the model rows with array work: the scalar ``fnv1a`` once per
n-gram and a pandas ``groupby`` over (n, group) with a per-block ``.map``.
It is kept here verbatim so the packed blocks can be checked against it bit
for bit. It shares only the language tables, the group layout and the hash
function with the package; do not "fix" it to track the packer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from lingua_spark import langdata as L
from lingua_spark.core.ngram import fnv1a
from lingua_spark.models import _lang_groups


def pack_blocks(
    df: pd.DataFrame,
) -> tuple[dict[tuple[int, str], np.ndarray], dict[tuple[int, str], np.ndarray]]:
    """(keys, freqs) per (n, group), as the per-row packer built them."""
    groups = _lang_groups()
    lang_group = {}
    for g, ords in groups.items():
        for o in ords:
            lang_group[L.LANGUAGES[o].name] = g
    local_col = {}
    for g, ords in groups.items():
        lc = np.full(L.N_LANGUAGES, -1, dtype=np.int64)
        lc[ords] = np.arange(len(ords))
        local_col[g] = lc
    keys: dict[tuple[int, str], np.ndarray] = {}
    freqs: dict[tuple[int, str], np.ndarray] = {}
    df = df.assign(group=df["lang"].map(lang_group))
    for (n, g), sub in df.groupby(["n", "group"], observed=True):
        n = int(n)
        h = np.fromiter(
            (fnv1a(gr) for gr in sub["ngram"]),
            dtype=np.uint64,
            count=len(sub),
        )
        uniq = np.unique(h)
        mat = np.zeros((len(uniq), len(groups[g])), dtype=np.float32)
        rows = np.searchsorted(uniq, h)
        cols = local_col[g][
            sub["lang"].map(L.ORDINAL).to_numpy(dtype=np.int64)
        ]
        mat[rows, cols] = sub["freq"].to_numpy(dtype=np.float32)
        keys[(n, g)] = uniq
        freqs[(n, g)] = mat
    return keys, freqs

"""N-gram frequency model tables: training, Parquet I/O, packed lookup.

Model semantics follow the reference's generated models
(`buildSrc/.../GenerateLanguageModelsTask.kt:176-187` + upstream lingua):
for n >= 2 the frequency of an n-gram is ``count(ngram) / count((n-1)-prefix)``;
for unigrams it is ``count / total letters``. Frequencies are stored float32
and widened to float64 before ``ln`` (`UniBiTrigramLookup.kt:36-66`,
`LanguageDetector.kt:624`).

Physicalization for Spark: a lineage-friendly Parquet table
``(lang, n, ngram, freq)`` plus a packed broadcast form — per n a sorted
uint64 FNV-1a key array and a dense float32 (n_keys, n_languages) matrix —
the broadcast-hash-join analog of the reference's per-language binary models
(SURVEY.md §1.2). At 100 TB the packed form is broadcast once per job
(~150 MB budget for real lingua-scale models, `README.md:14-17`).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from . import langdata as L
from .core.ngram import FNV_OFFSET, prefix_hashes
from .core.text import clean_up
from .uniscript import CAT_LETTER, cat_ids, codes_of

NGRAM_RANGE = range(1, 6)


def _letter_ngrams(line: str, n: int) -> list[str]:
    """All (non-dedup) letter-only n-grams of a cleaned line."""
    codes = codes_of(line)
    letters = cat_ids(codes) == CAT_LETTER
    out = []
    for i in range(len(line) - n + 1):
        if letters[i : i + n].all():
            out.append(line[i : i + n])
    return out


def train_models(corpus: dict[str, list[str]]) -> pd.DataFrame:
    """corpus: lang name -> training lines. Returns (lang, n, ngram, freq)."""
    rows: list[tuple[str, int, str, np.float32]] = []
    for lang, lines in sorted(corpus.items()):
        counts: dict[int, Counter] = {n: Counter() for n in NGRAM_RANGE}
        for raw in lines:
            line = clean_up(raw)
            for n in NGRAM_RANGE:
                counts[n].update(_letter_ngrams(line, n))
        total_unigrams = sum(counts[1].values())
        for n in NGRAM_RANGE:
            for gram, c in counts[n].items():
                if n == 1:
                    denom = total_unigrams
                else:
                    denom = counts[n - 1][gram[:-1]]
                if denom:
                    rows.append((lang, n, gram, np.float32(c / denom)))
    return pd.DataFrame(rows, columns=["lang", "n", "ngram", "freq"]).astype(
        {"lang": "string", "n": "int8", "ngram": "string", "freq": "float32"}
    )


def write_model_table(df: pd.DataFrame, path: str | Path) -> None:
    df.to_parquet(path, index=False)


def read_model_table(path: str | Path) -> pd.DataFrame:
    return pd.read_parquet(path)


def _hash_ngrams(ngrams: np.ndarray) -> np.ndarray:
    """FNV-1a 64 of each string, equal to ``fnv1a``: the strings' code
    points are joined once, and the strings of each code-point length are
    hashed together as one (rows, length) window array."""
    lens = np.fromiter(map(len, ngrams), dtype=np.int64, count=len(ngrams))
    codes = np.frombuffer(
        "".join(ngrams).encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    )
    starts = np.cumsum(lens) - lens
    out = np.full(len(ngrams), FNV_OFFSET, dtype=np.uint64)
    for k in np.unique(lens[lens > 0]):
        rows = np.flatnonzero(lens == k)
        out[rows] = prefix_hashes(codes[starts[rows, None] + np.arange(k)])[:, -1]
    return out


def _lang_groups() -> dict[str, np.ndarray]:
    """Language groups keyed by primary script (scripts[0]): a language's
    model rows all live in its group's block."""
    groups: dict[str, list[int]] = {}
    for lang in L.LANGUAGES:
        groups.setdefault(lang.scripts[0], []).append(lang.ordinal)
    return {g: np.array(sorted(o), dtype=np.int64) for g, o in groups.items()}


@dataclass
class PackedModels:
    """Driver-packed broadcastable lookup: per (n, language-group), sorted
    hash keys + a dense float32 frequency matrix over THAT GROUP's
    languages only.

    Why grouped: a gram only ever has frequencies for languages of one
    script, so a single (keys x 79) matrix is ~96% zeros — with the
    script-wide trigram background it measured 103 MB, and 32 executor
    workers random-gathering 100+ MB tables saturate memory bandwidth
    (per-core throughput fell to ~26% of single-process). The grouped
    blocks hold the same values in ~4x less memory, and a lookup for one
    script's candidate languages touches only that script's block."""

    groups: dict[str, np.ndarray]  # group -> sorted global ordinals
    keys: dict[tuple[int, str], np.ndarray]  # (n, group) -> sorted uint64
    freqs: dict[tuple[int, str], np.ndarray]  # (n, group) -> f32 (k, |group|)
    local_col: dict[str, np.ndarray]  # group -> (N_LANGUAGES,) global->local
    group_of: dict[int, str] | None = None  # global ordinal -> group name

    def __post_init__(self) -> None:
        if self.group_of is None:
            self.group_of = {
                int(o): g for g, ords in self.groups.items() for o in ords
            }

    @classmethod
    def from_table(cls, df: pd.DataFrame) -> "PackedModels":
        """Pack a ``(lang, n, ngram, freq)`` table with array work only.

        Every n-gram is hashed by ``_hash_ngrams`` (FNV-1a by the string's
        own code-point length, equal to the scalar ``fnv1a``). One stable
        ``lexsort`` on (n, group) then lays each (n, group) block out as a
        contiguous run that keeps the table's row order, and
        ``np.unique(..., return_inverse=True)`` gives the block's sorted
        keys and each row's matrix row; frequencies are written in table
        order. Rows of a language outside ``langdata`` are dropped.
        ``tests/models_reference.py`` keeps the former per-n-gram packer
        (scalar ``fnv1a`` and a pandas ``groupby``), which the blocks are
        checked against bit for bit."""
        groups = _lang_groups()
        names = sorted(groups)  # blocks in (n, group name) order
        local_col = {}
        group_rank = np.full(L.N_LANGUAGES, -1, dtype=np.int64)
        for rank, g in enumerate(names):
            ords = groups[g]
            lc = np.full(L.N_LANGUAGES, -1, dtype=np.int64)
            lc[ords] = np.arange(len(ords))
            local_col[g] = lc
            group_rank[ords] = rank
        lang_ord = (
            df["lang"].map(L.ORDINAL).fillna(-1).to_numpy(dtype=np.int64)
        )
        kept = np.flatnonzero(lang_ord >= 0)
        ns = df["n"].to_numpy(dtype=np.int64)[kept]
        # stable: within a block, rows keep the table's order
        by_block = np.lexsort((group_rank[lang_ord[kept]], ns))
        order, ns = kept[by_block], ns[by_block]
        lang_ord = lang_ord[order]
        rank = group_rank[lang_ord]
        hashes = _hash_ngrams(df["ngram"].to_numpy(dtype=object))[order]
        freq = df["freq"].to_numpy(dtype=np.float32)[order]
        first = np.ones(len(order), dtype=bool)  # a block's first row
        first[1:] = (ns[1:] != ns[:-1]) | (rank[1:] != rank[:-1])
        starts = np.flatnonzero(first)
        keys: dict[tuple[int, str], np.ndarray] = {}
        freqs: dict[tuple[int, str], np.ndarray] = {}
        for s, e in zip(starts, np.append(starts[1:], len(order))):
            g = names[rank[s]]
            uniq, rows = np.unique(hashes[s:e], return_inverse=True)
            mat = np.zeros((len(uniq), len(groups[g])), dtype=np.float32)
            mat[rows, local_col[g][lang_ord[s:e]]] = freq[s:e]
            keys[(int(ns[s]), g)] = uniq
            freqs[(int(ns[s]), g)] = mat
        return cls(
            groups=groups, keys=keys, freqs=freqs, local_col=local_col
        )

    def all_keys(self, n: int) -> np.ndarray:
        """Union of all groups' key arrays for n (tests/tools)."""
        parts = [k for (nn, _g), k in self.keys.items() if nn == n]
        return (
            np.unique(np.concatenate(parts))
            if parts
            else np.empty(0, dtype=np.uint64)
        )

    def lookup(
        self, n: int, hashes: np.ndarray, cols: np.ndarray | None = None
    ) -> np.ndarray:
        """(k,) uint64 -> (k, n_cols) float32; 0 where missing. ``cols``
        restricts (and orders) the language columns returned."""
        ncols = L.N_LANGUAGES if cols is None else len(cols)
        out = np.zeros((hashes.size, ncols), dtype=np.float32)
        if hashes.size == 0:
            return out
        if cols is None:
            # full-width: each group's block writes its own ordinal slots
            for g, g_ords in self.groups.items():
                keys = self.keys.get((n, g))
                if keys is None or keys.size == 0:
                    continue
                idx = np.searchsorted(keys, hashes)
                idx_c = np.minimum(idx, keys.size - 1)
                found = keys[idx_c] == hashes
                if not found.any():
                    continue
                sub = self.freqs[(n, g)][idx_c]
                out[:, g_ords] = np.where(
                    found[:, None], sub, np.float32(0.0)
                )
            return out
        # restricted: touch only the groups the requested columns live in
        # (single-group is the common case — per-language perplexity, or
        # rule-filtered candidates of one script)
        if ncols == 1:
            # fast path for the perplexity stage's one-language lookups:
            # ~18k calls per 6k-row batch, so the generic path's per-call
            # dict/array assembly is measurable (profiled ~25% of lookup)
            o = int(cols[0])
            g = self.group_of[o]
            keys = self.keys.get((n, g))
            if keys is None or keys.size == 0:
                return out
            idx_c = np.minimum(np.searchsorted(keys, hashes), keys.size - 1)
            found = keys[idx_c] == hashes
            if not found.any():
                return out
            sub = self.freqs[(n, g)][idx_c, self.local_col[g][o]]
            out[:, 0] = np.where(found, sub, np.float32(0.0))
            return out
        col_groups: dict[str, list[int]] = {}
        for pos, o in enumerate(cols):
            col_groups.setdefault(self.group_of[int(o)], []).append(pos)
        for g, pos_list in col_groups.items():
            keys = self.keys.get((n, g))
            if keys is None or keys.size == 0:
                continue
            idx = np.searchsorted(keys, hashes)
            idx_c = np.minimum(idx, keys.size - 1)
            found = keys[idx_c] == hashes
            if not found.any():
                continue
            sel = np.array(pos_list, dtype=np.int64)
            local = self.local_col[g][cols[sel]]
            sub = self.freqs[(n, g)][idx_c[:, None], local[None, :]]
            out[:, sel] = np.where(found[:, None], sub, np.float32(0.0))
        return out

    def nbytes(self) -> int:
        return sum(a.nbytes for a in self.keys.values()) + sum(
            a.nbytes for a in self.freqs.values()
        )


def to_oracle_dicts(df: pd.DataFrame) -> dict[str, dict[int, dict[str, float]]]:
    """lang -> n -> ngram -> float32 frequency (pure-Python oracle form)."""
    out: dict[str, dict[int, dict[str, float]]] = {}
    for lang, n, gram, freq in df.itertuples(index=False):
        out.setdefault(lang, {}).setdefault(int(n), {})[gram] = np.float32(freq)
    return out

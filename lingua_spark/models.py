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
from .core.ngram import fnv1a
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

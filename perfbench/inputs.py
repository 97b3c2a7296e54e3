"""Seeded inputs, staged to Parquet before any timing starts.

Both generators are pure functions of (size, seed); a staged file is
reused when it already exists for the same (size, seed). Staging time is
never part of ``setup_s``.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Sixteen languages over eight scripts: enough to exercise the rule
# shortcuts (unique scripts), the shared-script scoring path (LATIN,
# CYRILLIC) and logograms, while keeping generation to ~1.5 s (the
# generator's vocabulary build is per language).
TRANSCRIPT_LANGUAGES = [
    "ENGLISH", "GERMAN", "FRENCH", "SPANISH", "POLISH", "TURKISH",
    "SWEDISH", "VIETNAMESE", "RUSSIAN", "UKRAINIAN", "GREEK", "ARABIC",
    "HINDI", "CHINESE", "JAPANESE", "KOREAN",
]

# Document words are random letter strings over each language's alphabet
# (Zipf-weighted, so frequent words recur): two unrelated documents share
# few character shingles, and the near-duplicates below are the only
# dense clusters. (The transcript vocabularies are compositions of a few
# dozen syllables per language, which makes every pair of same-language
# documents a near-duplicate under 5-character shingles.)
_LATIN = "abcdefghijklmnopqrstuvwxyz"
_CYRILLIC = "абвгдежзийклмнопрстуфхцчшщыьэюя"
DOCUMENT_ALPHABETS = {
    "en": _LATIN, "de": _LATIN + "äöüß", "fr": _LATIN + "éèàçê",
    "es": _LATIN + "ñáéíóú", "pl": _LATIN + "ąćęłńóśźż",
    "tr": _LATIN + "çğıöşü", "ru": _CYRILLIC, "uk": _CYRILLIC + "іїєґ",
    "el": "αβγδεζηθικλμνξοπρστυφχψω",
}
DOCUMENT_VOCAB = 4000

# Share of documents that are a near-duplicate of an earlier original:
# a copy with about one word in twenty replaced.
NEAR_DUP_SHARE = 0.2

# The registry's query functions register a view for every table of the
# sf schema (ops.queries.TABLES), so the staged directory needs all ten.
# The dedup chain reads only ``documents``; the other nine are staged
# empty, with the sf0.1 column types.
_TS = pa.timestamp("us")
EMPTY_TABLES = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", _TS), ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", _TS)],
    "events": [("event_id", pa.int64()), ("ts", _TS),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}


def _write_once(path: Path, make_table) -> Path:
    if not path.exists():
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_name(path.name + f".tmp{os.getpid()}")
        pq.write_table(make_table(), tmp)
        tmp.rename(path)
    return path


def stage_transcripts(work: Path, n_turns: int, seed: int) -> Path:
    """``corpus.transcripts`` (4% noise rows, 4% PII rows, three
    conversations owning 7% of the turns each) as one Parquet file."""
    from lingua_spark import corpus

    return _write_once(
        work / f"transcripts-{n_turns}-{seed}.parquet",
        # Spark reads microsecond timestamps, not pandas' nanoseconds
        lambda: pa.Table.from_pandas(
            corpus.transcripts(n_turns, languages=TRANSCRIPT_LANGUAGES,
                               seed=seed),
            preserve_index=False,
        ).cast(pa.schema([
            ("conv_id", pa.string()), ("turn_idx", pa.int32()),
            ("role", pa.string()), ("text", pa.string()),
            ("tool", pa.string()), ("ts", _TS),
        ]), safe=False),
    )


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    """A ``documents`` table with the sf0.1 schema (doc_id, text, lang,
    source, n_chars). Originals are 8-70 words of one language;
    ``NEAR_DUP_SHARE`` of the rows copy an earlier original and replace
    about one word in twenty, so near-duplicate clusters are stars
    around an original, never chains."""
    rng = np.random.default_rng(seed)
    langs = sorted(DOCUMENT_ALPHABETS)
    vocab = {}
    for lang in langs:
        alpha = DOCUMENT_ALPHABETS[lang]
        vocab[lang] = [
            "".join(alpha[int(i)] for i in rng.integers(0, len(alpha), size=int(k)))
            for k in rng.integers(2, 10, size=DOCUMENT_VOCAB)
        ]
    zipf = 1.0 / np.arange(1, DOCUMENT_VOCAB + 1)
    zipf /= zipf.sum()
    originals: list[int] = []
    words_of: list[list[str]] = []
    lang_of: list[str] = []
    rows = []
    for doc_id in range(n_docs):
        if originals and rng.random() < NEAR_DUP_SHARE:
            src = originals[int(rng.integers(0, len(originals)))]
            lang = lang_of[src]
            words = list(words_of[src])
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = vocab[lang][
                    int(rng.integers(0, DOCUMENT_VOCAB))
                ]
        else:
            originals.append(doc_id)
            lang = langs[int(rng.integers(0, len(langs)))]
            idx = rng.choice(DOCUMENT_VOCAB, size=int(rng.integers(8, 71)), p=zipf)
            words = [vocab[lang][int(i)] for i in idx]
        words_of.append(words)
        lang_of.append(lang)
        text = " ".join(words)
        rows.append((doc_id, text, lang, f"src{int(rng.integers(0, 20))}",
                     len(text)))
    return pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )


def stage_documents(work: Path, n_docs: int, seed: int) -> Path:
    """Stage an sf-layout directory (``<dir>/<table>.parquet``) and
    return it; pass it where the registry expects an sf directory."""
    sf_dir = work / f"documents-{n_docs}-{seed}"
    _write_once(
        sf_dir / "documents.parquet",
        lambda: pa.Table.from_pandas(documents(n_docs, seed), preserve_index=False),
    )
    for name, cols in EMPTY_TABLES.items():
        _write_once(sf_dir / f"{name}.parquet",
                    lambda cols=cols: pa.schema(cols).empty_table())
    return sf_dir

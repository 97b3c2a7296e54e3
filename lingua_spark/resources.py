"""Process-cached default assets: model tables, packed models, fastText-ish.

Each is built at most once per process: ``model_table`` reads the shipped
Parquet table, ``packed_models`` packs it with array work
(``PackedModels.from_table``, 0.5-0.9 s for the shipped 1.27M rows on a
4-vCPU Xeon) and ``fasttextish`` loads the shipped weights. On Spark, the
packed models and the ft weights reach executors as one broadcast each per
SparkContext, shared by every UDF factory call on it
(``engine.udfs._shared_broadcast``, released by
``engine.udfs.unload_models``) — the analog of the reference's
lazily-loaded shared model registry
(`LanguageDetector.kt:709-775`, SURVEY.md §1.2).
"""

from __future__ import annotations

from functools import lru_cache
from pathlib import Path

import pandas as pd

from .ftlangid import FastTextish
from .models import PackedModels, to_oracle_dicts, train_models

_DATA = Path(__file__).resolve().parent / "data"
MODEL_TABLE_PATH = _DATA / "ngram_models.parquet"


@lru_cache(maxsize=1)
def model_table() -> pd.DataFrame:
    if MODEL_TABLE_PATH.exists():
        return pd.read_parquet(MODEL_TABLE_PATH)
    from .corpus import training_corpus

    df = train_models(training_corpus())
    MODEL_TABLE_PATH.parent.mkdir(parents=True, exist_ok=True)
    df.to_parquet(MODEL_TABLE_PATH, index=False)
    return df


@lru_cache(maxsize=1)
def packed_models() -> PackedModels:
    return PackedModels.from_table(model_table())


@lru_cache(maxsize=1)
def oracle_tables():
    return to_oracle_dicts(model_table())


@lru_cache(maxsize=1)
def fasttextish() -> FastTextish:
    import numpy as np

    cache = _DATA / "ftlangid_weights.npz"
    if cache.exists():
        with np.load(cache) as z:
            return FastTextish(weights=z["weights"])
    from .corpus import training_corpus

    ft = FastTextish.train(training_corpus())
    np.savez_compressed(cache, weights=ft.weights)
    return ft

"""Accuracy-report harness: the analog of the reference's
`accuracyReport` Gradle task + committed-report regression gate
(`AbstractLanguageDetectionAccuracyReport.kt:210-291`,
`build.gradle.kts:228-260`, `.github/workflows/build.yml:33-46`).

Runs the detector over the accuracy corpus (per language: single words /
word pairs / sentences), aggregates per-(true, predicted) counts with one
Spark groupBy+pivot, and emits:
- a per-language metrics table (accuracy per category, high+low accuracy
  modes), and
- one aggregated CSV row per language (S5/A7 analog).

The snapshot regression test diffs these against a committed copy — the
CI-fails-on-any-diff gate of the reference.
"""

from __future__ import annotations

import pandas as pd

from . import langdata as L
from .core.detector import Detector
from .models import PackedModels


def predict_corpus(
    corpus: pd.DataFrame, models: PackedModels, low_accuracy: bool = False
) -> pd.DataFrame:
    """corpus: (lang iso1, category, item_id, text) -> + predicted iso1."""
    det = Detector(models=models, low_accuracy=low_accuracy)
    preds = det.detect_rows(corpus["text"].tolist())
    out = corpus.copy()
    out["predicted"] = [
        "unknown" if p == L.UNKNOWN else L.BY_NAME[p].iso1 for p in preds
    ]
    return out


def accuracy_table(pred: pd.DataFrame) -> pd.DataFrame:
    """Per (lang, category): accuracy percentage (A6 aggregation)."""
    pred = pred.assign(correct=(pred["lang"] == pred["predicted"]).astype(int))
    g = (
        pred.groupby(["lang", "category"], as_index=False)
        .agg(items=("correct", "size"), correct=("correct", "sum"))
    )
    g["accuracy_pct"] = (100.0 * g["correct"] / g["items"]).round(2)
    return g.sort_values(["lang", "category"]).reset_index(drop=True)


def aggregated_csv(high: pd.DataFrame, low: pd.DataFrame) -> pd.DataFrame:
    """One row per language: avg/per-category accuracy in both modes —
    the aggregated-accuracy-values.csv analog."""
    def fold(t: pd.DataFrame, prefix: str) -> pd.DataFrame:
        p = t.pivot(index="lang", columns="category", values="accuracy_pct")
        p.columns = [f"{prefix}_{c.replace('-', '_')}" for c in p.columns]
        p[f"{prefix}_avg"] = p.mean(axis=1).round(2)
        return p

    out = fold(high, "high").join(fold(low, "low"), how="outer")
    return out.reset_index().sort_values("lang").reset_index(drop=True)


def spark_confusion(spark, pred: pd.DataFrame):
    """Spark-side (true, predicted) confusion counts — groupBy + pivot on
    the cluster for corpus sizes that don't fit one machine."""
    sdf = spark.createDataFrame(pred[["lang", "category", "predicted"]])
    return (
        sdf.groupBy("lang", "predicted")
        .count()
        .withColumnRenamed("count", "n")
        .orderBy("lang", "predicted")
    )

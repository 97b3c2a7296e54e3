"""Arrow-batched pandas UDFs wrapping the detection + quality cores.

The reference's per-language thread fan-out (`LanguageDetector.kt:545-572`)
becomes data parallelism: Spark partitions × Arrow batches outside, NumPy
language-matrix ops inside. No row-at-a-time Python UDFs — every batch is
processed as pandas/NumPy (input_hint requirement).

Every pandas-UDF, mapInPandas and applyInPandas body in the package
calls ``worker_setup()`` first. PySpark's worker runs
``importlib.invalidate_caches()`` at the start of every task, and before
Python 3.13 each ``zipimporter`` re-reads its whole archive directory
there: a worker holds a dozen importers over ``pyspark.zip`` plus two
over the spark-core jar, so a reused worker spent 0.17-0.33 s per task
re-reading archives that had not changed. ``worker_setup()`` makes that
re-read conditional on the archive's stat, once per worker process; see
BENCH/BASELINE.md, "Per-task Python worker setup".
"""

from __future__ import annotations

import atexit
import os
import sys
import zipimport

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .. import langdata as L
from ..core.detector import Detector
from ..ftlangid import FastTextish
from ..quality import QualityConfig
from ..resources import fasttextish, packed_models

ASSESS_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("confidence", DoubleType()),
        StructField("confidences", MapType(StringType(), DoubleType())),
        StructField("perplexity", DoubleType()),
        StructField("ft_lang", StringType()),
        StructField("langid_agree", BooleanType()),
        StructField("quality_flags", ArrayType(StringType())),
        StructField("keep", BooleanType()),
        StructField("scrubbed_text", StringType()),
        StructField("n_scrubbed", IntegerType()),
    ]
)

SECTION_SCHEMA = ArrayType(
    StructType(
        [
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("letters_count", IntegerType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("confidences", MapType(StringType(), DoubleType())),
        ]
    )
)

DETECT_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("confidence", DoubleType()),
        StructField("confidences", MapType(StringType(), DoubleType())),
    ]
)


def _install_zipimport_stat_guard() -> bool:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` so an importer
    re-reads its archive directory only when the archive's
    ``(st_mtime_ns, st_size)`` differs from the one it saw at its last
    re-read (the first call per importer always reads). A replaced or
    removed archive is still picked up. Returns False if the wrapper is
    already installed."""
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_lingua_stat_guard", False):
        return False

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is not None and getattr(self, "_lingua_stat", None) == key:
            return
        stock(self)
        self._lingua_stat = key

    invalidate_caches._lingua_stat_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


_WORKER_SET_UP = False


def worker_setup() -> None:
    """Once-per-worker setup for the package's executor-side kernels;
    every Python UDF body calls it as its first statement. Installs the
    zipimport stat guard (``_install_zipimport_stat_guard``). A no-op on
    Python >= 3.13 (its zipimporter invalidation is already lazy),
    outside a Python worker (the driver and in-process callers keep
    stock import behaviour) and on every call after the first."""
    global _WORKER_SET_UP
    if (_WORKER_SET_UP or sys.version_info >= (3, 13)
            or TaskContext.get() is None):
        return
    _install_zipimport_stat_guard()
    _WORKER_SET_UP = True


def _iso(name: str) -> str:
    return "unknown" if name == L.UNKNOWN else L.BY_NAME[name].iso1


def build_package_zip(dest: str | None = None) -> str:
    """Zip the ``lingua_spark`` package (code + model/npz assets) for
    ``spark-submit --py-files`` (north rule). Returns the zip path.
    Used both by ``ship_package`` (programmatic runs) and by
    ``scripts/build_pyfiles.py`` (cluster submission). ``.py`` members
    are deflated; the ``.npz`` and ``.parquet`` assets are already
    compressed and are stored as they are."""
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent.parent
    if dest is None:
        fd, dest = tempfile.mkstemp(prefix="lingua_spark_", suffix=".zip")
        os.close(fd)
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sorted(pkg_dir.rglob("*")):
            if p.is_file() and "__pycache__" not in p.parts and (
                p.suffix in (".py", ".npz") or p.name == "ngram_models.parquet"
            ):
                zf.write(
                    p,
                    Path("lingua_spark") / p.relative_to(pkg_dir),
                    # the assets are compressed already: deflating them
                    # again took ~10x as long for a ~30% smaller zip
                    compress_type=(
                        zipfile.ZIP_DEFLATED
                        if p.suffix == ".py"
                        else zipfile.ZIP_STORED
                    ),
                )
    return str(dest)


def _remove_when_stopped(sc, path: str) -> None:
    """Remove ``path`` when ``sc`` stops (``sc.stop()``, which
    ``SparkSession.stop()`` calls) or at interpreter exit, whichever comes
    first. Executors fetch an added file from the driver for as long as
    the context runs, so it cannot go earlier."""

    def remove() -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    atexit.register(remove)
    stop = sc.stop

    def stop_then_remove() -> None:
        try:
            stop()
        finally:
            remove()
            atexit.unregister(remove)

    sc.stop = stop_then_remove


def ship_package(spark: SparkSession) -> None:
    """Make ``lingua_spark`` importable on executor Python workers even when
    the driver runs from another cwd: zip the package and addPyFile it —
    the programmatic equivalent of ``spark-submit --py-files`` (north rule).
    Idempotent per SparkContext. The zip is a temp file owned by the
    context: it is removed when the context stops, or at interpreter exit
    if that comes first (``_remove_when_stopped``)."""
    sc = spark.sparkContext
    if getattr(sc, "_lingua_spark_shipped", False):
        return
    path = build_package_zip()
    _remove_when_stopped(sc, path)
    sc.addPyFile(path)
    sc._lingua_spark_shipped = True


# what each shared model broadcast holds, built on the driver on first use
_BROADCAST_VALUES = {
    "models": packed_models,
    "ft": lambda: fasttextish().weights,
}


def _shared_broadcast(spark: SparkSession, name: str):
    """The SparkContext's one broadcast of ``name`` ("models": the packed
    n-gram models, "ft": the fastText-ish weights), made on first use and
    reused by every later UDF factory call on that context until
    ``unload_models`` releases it. A UDF's config travels in its closure,
    so one payload serves every config."""
    sc = spark.sparkContext
    live = getattr(sc, "_lingua_spark_broadcasts", None)
    if live is None:
        live = sc._lingua_spark_broadcasts = {}
    if name not in live:
        live[name] = sc.broadcast(_BROADCAST_VALUES[name]())
    return live[name]


def unload_models(spark: SparkSession) -> int:
    """Model lifecycle (U5 analog of `LanguageDetector.kt:661-677`,
    `unloadLanguageModels`): unpersist the context's shared model
    broadcasts (at most two: the packed models and the ft weights) and
    forget them, so the next UDF factory call broadcasts afresh. UDFs
    made before the call keep working; their executors re-fetch the
    values. Returns the number released."""
    live = getattr(spark.sparkContext, "_lingua_spark_broadcasts", {})
    n = 0
    while live:
        _, bc = live.popitem()
        try:
            bc.unpersist(blocking=False)
            n += 1
        except Exception:  # noqa: BLE001 — already destroyed / session gone
            pass
    return n


def make_assess_udf(spark: SparkSession, config: QualityConfig | None = None):
    """Returns a pandas UDF text -> assessment struct. The packed models
    and the ft weights come from the context's shared broadcasts
    (``_shared_broadcast``): only the first factory call on a
    SparkContext, or the first after ``unload_models``, builds and
    broadcasts them."""
    ship_package(spark)
    cfg = config or QualityConfig()
    models_bc = _shared_broadcast(spark, "models")
    ft_bc = _shared_broadcast(spark, "ft")

    @F.pandas_udf(ASSESS_SCHEMA)
    def assess(texts: pd.Series) -> pd.DataFrame:
        worker_setup()
        from ..quality import assess_batch

        det = Detector(
            models=models_bc.value,
            languages=cfg.languages,
            minimum_relative_distance=cfg.minimum_relative_distance,
            low_accuracy=cfg.low_accuracy,
        )
        ft = FastTextish(weights=ft_bc.value)
        clean = [t if isinstance(t, str) else "" for t in texts]
        rows = assess_batch(clean, det, ft, cfg)
        for r in rows:
            r["lang"] = _iso(r["lang"])
            r["ft_lang"] = _iso(r["ft_lang"])
        return pd.DataFrame(rows, columns=[f.name for f in ASSESS_SCHEMA.fields])

    # asNondeterministic: the UDF IS deterministic, but leaving it marked
    # deterministic lets Catalyst re-extract it on BOTH sides of a Filter —
    # the natural `assessed.filter("keep").groupBy(...)` composition compiled
    # to TWO ArrowEvalPython stages, silently doubling the engine's most
    # expensive operator (VERDICT r03 item 1; plan pinned by
    # tests/test_spark_pipeline.py::test_post_filter_agg_single_udf_eval).
    return assess.asNondeterministic()


def make_multilang_udf(spark: SparkSession, config: QualityConfig | None = None):
    """detectMultiLanguageOf as a pandas UDF (U3): text -> array of
    LanguageSection structs. Uses the context's shared models broadcast
    (see ``make_assess_udf``)."""
    ship_package(spark)
    cfg = config or QualityConfig()
    models_bc = _shared_broadcast(spark, "models")

    @F.pandas_udf(SECTION_SCHEMA)
    def detect_multi(texts: pd.Series) -> pd.Series:
        worker_setup()
        from ..core.multilang import detect_multi_language

        det = Detector(
            models=models_bc.value,
            languages=cfg.languages,
            minimum_relative_distance=cfg.minimum_relative_distance,
            low_accuracy=cfg.low_accuracy,
        )
        out = []
        for t in texts:
            secs = detect_multi_language(t if isinstance(t, str) else "", det)
            out.append(
                [
                    {
                        "start": s["start"],
                        "end": s["end"],
                        "letters_count": s["letters_count"],
                        "text": s["text"],
                        "lang": _iso(s["lang"]),
                        "confidences": {
                            L.BY_NAME[k].iso1: v
                            for k, v in s["confidences"].items()
                        },
                    }
                    for s in secs
                ]
            )
        return pd.Series(out)

    # see make_assess_udf: prevents duplicate ArrowEvalPython extraction
    return detect_multi.asNondeterministic()


def make_detect_udf(spark: SparkSession, config: QualityConfig | None = None):
    """Detection-only UDF (U1/U2 analog): text -> (lang, confidence, map).
    Uses the context's shared models broadcast (see ``make_assess_udf``)."""
    ship_package(spark)
    cfg = config or QualityConfig()
    models_bc = _shared_broadcast(spark, "models")

    @F.pandas_udf(DETECT_SCHEMA)
    def detect(texts: pd.Series) -> pd.DataFrame:
        worker_setup()
        det = Detector(
            models=models_bc.value,
            languages=cfg.languages,
            minimum_relative_distance=cfg.minimum_relative_distance,
            low_accuracy=cfg.low_accuracy,
        )
        clean = [t if isinstance(t, str) else "" for t in texts]
        conf_rows = det.confidence_rows(clean)
        names = det.decide_rows(conf_rows)
        out = []
        for name, confs in zip(names, conf_rows):
            top = confs[0][1] if confs and name != L.UNKNOWN else 0.0
            out.append(
                {
                    "lang": _iso(name),
                    "confidence": float(top),
                    "confidences": {L.BY_NAME[k].iso1: v for k, v in confs},
                }
            )
        return pd.DataFrame(out, columns=["lang", "confidence", "confidences"])

    # see make_assess_udf: prevents duplicate ArrowEvalPython extraction
    return detect.asNondeterministic()

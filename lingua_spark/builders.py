"""Fluent builder API — U4 parity with the reference's
`api/LanguageDetectorBuilder.kt` (factory constructors :177-283, fluent
setters :50-146) and `api/Language.kt` company helpers (:341-406).

The built artifacts are this engine's detectors: ``build()`` returns the
per-row ``core.detector.Detector``, ``build_batch()`` the vectorized
``engine.batch.BatchDetector`` (what the Spark UDFs run), and
``quality_config()`` the equivalent ``QualityConfig`` for the fused
quality pipeline. Validation mirrors the reference: at least two
languages (``MISSING_LANGUAGE_MESSAGE``, LanguageDetectorBuilder.kt:225),
minimum relative distance in 0.0..0.99 (:73).
"""

from __future__ import annotations

from dataclasses import dataclass

from . import langdata as L

MISSING_LANGUAGE_MESSAGE = "LanguageDetector needs at least 2 languages to choose from"


def all_languages() -> tuple[str, ...]:
    """Language.all() (Language.kt:341)."""
    return tuple(lang.name for lang in L.LANGUAGES)


def all_spoken_languages() -> tuple[str, ...]:
    """Language.allSpokenOnes() — excludes LATIN (Language.kt:347)."""
    return tuple(lang.name for lang in L.LANGUAGES if lang.name != "LATIN")


def all_languages_with_script(script: str) -> tuple[str, ...]:
    """Language.allWith*Script() (Language.kt:353-392)."""
    return tuple(
        lang.name for lang in L.LANGUAGES if script in lang.scripts
    )


def by_iso_code_639_1(code: str) -> str:
    """Language.getByIsoCode639_1 (Language.kt:399)."""
    lang = L.BY_ISO1.get(code.lower())
    if lang is None:
        raise ValueError(f"no language for ISO 639-1 code {code!r}")
    return lang.name


def by_iso_code_639_3(code: str) -> str:
    """Language.getByIsoCode639_3 (Language.kt:406)."""
    for lang in L.LANGUAGES:
        if lang.iso3 == code.lower():
            return lang.name
    raise ValueError(f"no language for ISO 639-3 code {code!r}")


@dataclass
class LanguageDetectorBuilder:
    languages: tuple[str, ...]
    minimum_relative_distance: float = 0.0
    low_accuracy: bool = False
    executor_parallelism: int | None = None

    # -- factory constructors (LanguageDetectorBuilder.kt:177-283) --------
    @classmethod
    def from_all_languages(cls) -> "LanguageDetectorBuilder":
        return cls(all_languages())

    @classmethod
    def from_all_spoken_languages(cls) -> "LanguageDetectorBuilder":
        return cls(all_spoken_languages())

    @classmethod
    def from_all_languages_with_arabic_script(cls) -> "LanguageDetectorBuilder":
        return cls(all_languages_with_script("ARABIC"))

    @classmethod
    def from_all_languages_with_cyrillic_script(cls) -> "LanguageDetectorBuilder":
        return cls(all_languages_with_script("CYRILLIC"))

    @classmethod
    def from_all_languages_with_devanagari_script(cls) -> "LanguageDetectorBuilder":
        return cls(all_languages_with_script("DEVANAGARI"))

    @classmethod
    def from_all_languages_with_ethiopic_script(cls) -> "LanguageDetectorBuilder":
        return cls(all_languages_with_script("ETHIOPIC"))

    @classmethod
    def from_all_languages_with_latin_script(cls) -> "LanguageDetectorBuilder":
        return cls(all_languages_with_script("LATIN"))

    @classmethod
    def from_all_languages_without(
        cls, *names: str
    ) -> "LanguageDetectorBuilder":
        drop = {n.upper() for n in names}
        unknown = drop - set(all_languages())
        if unknown:
            raise ValueError(f"unknown languages: {sorted(unknown)}")
        keep = tuple(n for n in all_languages() if n not in drop)
        if len(keep) < 2:
            raise ValueError(MISSING_LANGUAGE_MESSAGE)
        return cls(keep)

    @classmethod
    def from_languages(cls, *names: str) -> "LanguageDetectorBuilder":
        keep = tuple(dict.fromkeys(n.upper() for n in names))
        unknown = set(keep) - set(all_languages())
        if unknown:
            raise ValueError(f"unknown languages: {sorted(unknown)}")
        if len(keep) < 2:
            raise ValueError(MISSING_LANGUAGE_MESSAGE)
        return cls(keep)

    @classmethod
    def from_iso_codes_639_1(cls, *codes: str) -> "LanguageDetectorBuilder":
        return cls.from_languages(*(by_iso_code_639_1(c) for c in codes))

    @classmethod
    def from_iso_codes_639_3(cls, *codes: str) -> "LanguageDetectorBuilder":
        return cls.from_languages(*(by_iso_code_639_3(c) for c in codes))

    # -- fluent setters (LanguageDetectorBuilder.kt:50-146) ---------------
    def with_minimum_relative_distance(
        self, distance: float
    ) -> "LanguageDetectorBuilder":
        if not (0.0 <= distance <= 0.99):
            raise ValueError(
                "minimum relative distance must lie in between 0.0 and 0.99"
            )
        self.minimum_relative_distance = distance
        return self

    def with_low_accuracy_mode(self) -> "LanguageDetectorBuilder":
        self.low_accuracy = True
        return self

    def with_increased_detection_speed(self) -> "LanguageDetectorBuilder":
        """No-op kept for reference API parity
        (LanguageDetectorBuilder.kt:141-144). The reference trades memory
        for a hash-map lookup; here a dict index measured slower than the
        sorted ``searchsorted`` lookup on the engine's batches, so there
        is a single lookup backend (BENCH/BASELINE.md)."""
        return self

    def with_preloaded_language_models(self) -> "LanguageDetectorBuilder":
        """No-op kept for reference API parity: models load once per
        process through ``resources.packed_models``'s cache, whichever way
        they are first asked for."""
        return self

    def with_executor(
        self, parallelism: int | None
    ) -> "LanguageDetectorBuilder":
        """`withExecutor` analog (api/LanguageDetectorBuilder.kt:150-170).

        The reference accepts a caller-supplied thread pool for its
        per-language fan-out; on Spark that fan-out is partition
        parallelism (SURVEY.md §2 X1/X2), so the one meaningful residue is
        a parallelism hint. The hint flows through ``stable_order`` into
        ``with_stable_order``'s single keyed repartition; ``None`` (the
        default, matching the reference's default executor) derives the
        count from the session's ``defaultParallelism``."""
        if parallelism is not None and parallelism < 1:
            raise ValueError("executor parallelism must be >= 1")
        self.executor_parallelism = parallelism
        return self

    def stable_order(self, df):
        """Apply the pipeline's stable turn ordering with this builder's
        executor-parallelism hint (the U4 surface for engine/pipeline's
        ``with_stable_order``)."""
        from .engine.pipeline import with_stable_order

        return with_stable_order(
            df, compute_partitions=self.executor_parallelism
        )

    # -- terminal builders -------------------------------------------------
    def build(self):
        """Per-row detector (the reference's LanguageDetector analog)."""
        from .core.detector import Detector
        from .resources import packed_models

        return Detector(
            models=packed_models(),
            languages=self.languages,
            minimum_relative_distance=self.minimum_relative_distance,
            low_accuracy=self.low_accuracy,
        )

    def build_batch(self):
        """Vectorized batch detector (what the Spark UDFs run)."""
        from .engine.batch import BatchDetector
        from .resources import packed_models

        return BatchDetector(
            models=packed_models(),
            languages=self.languages,
            minimum_relative_distance=self.minimum_relative_distance,
            low_accuracy=self.low_accuracy,
        )

    def quality_config(self):
        """QualityConfig for the fused quality-filter pipeline / UDFs."""
        from .quality import QualityConfig

        return QualityConfig(
            languages=self.languages,
            minimum_relative_distance=self.minimum_relative_distance,
            low_accuracy=self.low_accuracy,
        )

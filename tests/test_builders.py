"""U4 builder API parity — assertions ported from the reference's
`api/LanguageDetectorBuilderTest.kt` (factory constructors, validation
messages, fluent setters) re-expressed over our builder."""

import pytest

from lingua_spark import langdata as L
from lingua_spark.builders import (
    MISSING_LANGUAGE_MESSAGE,
    LanguageDetectorBuilder,
    all_languages,
    all_languages_with_script,
    all_spoken_languages,
    by_iso_code_639_1,
    by_iso_code_639_3,
)


def test_from_all_languages():
    b = LanguageDetectorBuilder.from_all_languages()
    assert b.languages == all_languages()
    assert len(b.languages) == L.N_LANGUAGES
    assert b.minimum_relative_distance == 0.0
    assert not b.low_accuracy


def test_from_all_spoken_languages_excludes_latin():
    b = LanguageDetectorBuilder.from_all_spoken_languages()
    assert "LATIN" not in b.languages
    assert len(b.languages) == L.N_LANGUAGES - 1


@pytest.mark.parametrize(
    "script,member",
    [
        ("ARABIC", "ARABIC"),
        ("CYRILLIC", "RUSSIAN"),
        ("DEVANAGARI", "HINDI"),
        ("LATIN", "ENGLISH"),
    ],
)
def test_from_script_families(script, member):
    ctor = getattr(
        LanguageDetectorBuilder,
        f"from_all_languages_with_{script.lower()}_script",
    )
    b = ctor()
    assert b.languages == all_languages_with_script(script)
    assert member in b.languages
    for name in b.languages:
        assert script in L.BY_NAME[name].scripts


def test_from_blacklist():
    b = LanguageDetectorBuilder.from_all_languages_without("TURKISH", "ROMANIAN")
    assert "TURKISH" not in b.languages and "ROMANIAN" not in b.languages
    assert len(b.languages) == L.N_LANGUAGES - 2


def test_from_whitelist_and_minimum_two():
    b = LanguageDetectorBuilder.from_languages("GERMAN", "ENGLISH")
    assert b.languages == ("GERMAN", "ENGLISH")
    with pytest.raises(ValueError, match=MISSING_LANGUAGE_MESSAGE):
        LanguageDetectorBuilder.from_languages("GERMAN")
    with pytest.raises(ValueError, match="unknown languages"):
        LanguageDetectorBuilder.from_languages("GERMAN", "KLINGON")


def test_from_iso_codes():
    assert by_iso_code_639_1("de") == "GERMAN"
    assert by_iso_code_639_3("deu") == "GERMAN"
    b = LanguageDetectorBuilder.from_iso_codes_639_1("de", "sv")
    assert b.languages == ("GERMAN", "SWEDISH")
    b3 = LanguageDetectorBuilder.from_iso_codes_639_3("deu", "swe")
    assert b3.languages == ("GERMAN", "SWEDISH")
    with pytest.raises(ValueError):
        by_iso_code_639_1("zz")


def test_minimum_relative_distance_validation():
    b = LanguageDetectorBuilder.from_all_languages()
    assert b.with_minimum_relative_distance(0.2).minimum_relative_distance == 0.2
    for bad in (-0.01, 1.0, 2.3):
        with pytest.raises(ValueError, match="minimum relative distance"):
            b.with_minimum_relative_distance(bad)


def test_built_detectors_share_decisions(packed_models):
    """build() / build_batch() / quality_config() agree."""
    b = (
        LanguageDetectorBuilder.from_languages("GERMAN", "ENGLISH", "FRENCH")
        .with_minimum_relative_distance(0.1)
        .with_increased_detection_speed()
    )
    det = b.build()
    bdet = b.build_batch()
    cfg = b.quality_config()
    assert cfg.languages == b.languages
    texts = ["the people of the year", "der große fluss", ""]
    assert [det.detect(t) for t in texts] == bdet.detect_rows(texts)


def test_console_repl_surface():
    """S6: the console detector (scripts/repl.py, App.kt:29-170 analog)
    driven over stdin in a fresh process."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    r = subprocess.run(
        [sys.executable, str(repo / "scripts" / "repl.py"), "de", "en"],
        input="ein kurzer satz\nthe people of the year\n:quit\n",
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-500:]
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    assert len(lines) == 2
    assert lines[0].startswith("GERMAN:")
    assert lines[1].startswith("ENGLISH:")


def test_low_accuracy_mode_short_text_gate():
    b = LanguageDetectorBuilder.from_all_languages().with_low_accuracy_mode()
    det = b.build()
    assert det.confidence_values("en") == []


def test_with_executor_parallelism_hint(spark):
    """withExecutor analog (api/LanguageDetectorBuilder.kt:150-170): the
    builder's parallelism hint drives with_stable_order's single keyed
    repartition; None derives from the session."""
    import pandas as pd

    from lingua_spark.builders import LanguageDetectorBuilder

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 4 + ["c2"] * 4,
            "turn_idx": list(range(4)) * 2,
            "role": ["user"] * 8,
            "text": ["hello there"] * 8,
            "tool": [""] * 8,
            "ts": pd.to_datetime(["2025-01-01"] * 8),
        }
    )
    df = spark.createDataFrame(pdf)
    b = LanguageDetectorBuilder.from_all_languages().with_executor(5)
    assert b.stable_order(df).rdd.getNumPartitions() == 5
    b2 = LanguageDetectorBuilder.from_all_languages().with_executor(None)
    got = b2.stable_order(df).rdd.getNumPartitions()
    assert got == spark.sparkContext.defaultParallelism * 2

    with pytest.raises(ValueError):
        LanguageDetectorBuilder.from_all_languages().with_executor(0)

"""Tests of the host probe and normalizer.

    python3 -m pytest perfbench/test_probe.py -q
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from probe import HostProbe, normalize  # noqa: E402


def test_normalized_time_equals_raw_when_probe_reads_nominal():
    assert normalize(12.5, [100.0, 100.0, 100.0], 100.0) == 12.5
    # it is the mean of the run's probe readings that must read nominal
    assert normalize(12.5, [90.0, 110.0], 100.0) == pytest.approx(12.5)


def test_slower_host_reads_proportionally_less():
    assert normalize(10.0, [200.0, 200.0], 100.0) == pytest.approx(5.0)


class _StatusTracker:
    """Stands in for ``SparkContext.statusTracker()``."""

    def __init__(self, active_job_ids):
        self._active = active_job_ids

    def getActiveJobsIds(self):
        return self._active


def test_probe_refuses_while_a_spark_job_is_active():
    with pytest.raises(RuntimeError, match="Spark job is active"):
        HostProbe().read_ms(_StatusTracker([7]))


def test_probe_measures_when_no_job_is_active():
    assert HostProbe().read_ms(_StatusTracker([])) > 0.0

"""Host-speed probe and the normalizer built on it.

The host this benchmark was built on changes speed on its own, so a raw
wall time does not repeat exactly. The probe is a fixed amount of
single-threaded work (a pure-Python dict loop plus a NumPy sort). A run
probes before and after set-up and before and after every timed pass,
and

    normalized = raw * nominal_ms / mean(all probe readings of the run)

reads as "seconds on a host where the probe takes ``nominal_ms``". The
mean over the run, not the pair of readings around each pass, is used
because readings taken between passes differ by up to ~40%, which a
per-pass pair would copy into every pass time. Measured on that host,
even the run-level normalized ``s_per_krow`` spread more across runs
than the raw one, so the benchmark reports times raw and the normalized
value beside them (NOTES.md has the numbers).

The probe runs in the benchmark's own process and must not share the CPU with a
Spark job, so it refuses to run while the status tracker reports one.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

# Work per probe repetition: ~0.1 s on the 4-vCPU host the nominal value
# in BENCHMARK.json was frozen on. A reading is the median of five
# repetitions, so one disturbed repetition is ignored.
_DICT_KEYS = 40_000
_DICT_ROUNDS = 13
_SORT_SIZE = 400_000
_REPS = 5


class HostProbe:
    """The probe's work allocates nothing: its dict and arrays are built
    once, here. On that host a probe that allocated (a dict grown from
    empty and a fresh random array per repetition) read in two modes,
    ~68 and ~107 ms, at random (coefficient of variation 23% at idle);
    without allocation single repetitions vary by ~5%."""

    def __init__(self) -> None:
        self._counts = dict.fromkeys(range(_DICT_KEYS), 0)
        self._src = np.random.default_rng(12345).random(_SORT_SIZE)
        self._buf = np.empty_like(self._src)

    def _work(self) -> None:
        counts = self._counts
        for _ in range(_DICT_ROUNDS):
            for k in range(_DICT_KEYS):
                counts[k] = counts[k] ^ k
        np.copyto(self._buf, self._src)
        self._buf.sort()

    def read_ms(self, status_tracker=None) -> float:
        """Run the fixed work and return its median time in ms.

        ``status_tracker`` is a Spark status tracker (anything with
        ``getActiveJobsIds()``); when it reports an active job the probe
        raises instead of measuring a CPU it shares."""
        if status_tracker is not None and list(status_tracker.getActiveJobsIds()):
            raise RuntimeError("host probe refused: a Spark job is active")
        times = []
        for _ in range(_REPS):
            t0 = time.perf_counter()
            self._work()
            times.append((time.perf_counter() - t0) * 1e3)
        times.sort()
        return times[len(times) // 2]


def normalize(raw_s: float, probe_readings_ms, nominal_ms: float) -> float:
    """Scale a raw time to the nominal-speed host (see module doc)."""
    return raw_s * nominal_ms / statistics.fmean(probe_readings_ms)

"""Host speed probe: a fixed numpy sort, timed between the steps of a run.

A shared host changes speed from one few-minute window to the next (by a
quarter or more on a shared 4-core Xeon VM), and every time a run measures
moves with it. The median of the probe over a run tracks that run's host
speed (correlation 0.8-0.9 with the run's times on that VM), so the
end-to-end times are scaled to a host on which the probe takes
REFERENCE_MS. The probe runs no engine code and never runs inside a timed
call: a change to the engine moves the scaled times as it moves the raw
ones.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

REFERENCE_MS = 5.0  # about the probe's median on that VM
_ARRAY = np.random.default_rng(0).random(400_000)


class HostProbe:
    def __init__(self):
        self.samples_ms: list[float] = []

    def sample(self, reps: int = 3) -> None:
        for _ in range(reps):
            t = time.perf_counter()
            np.sort(_ARRAY)
            self.samples_ms.append((time.perf_counter() - t) * 1e3)

    def median_ms(self) -> float:
        return statistics.median(self.samples_ms)

    def scale(self) -> float:
        """Factor that turns this run's times into reference-host times."""
        return REFERENCE_MS / self.median_ms()

"""Host-speed probe.

On a VM that shares its host, the CPU time a fixed piece of work takes
moves by up to ~1.6x within seconds with the neighbours' load (shared
physical cores and the socket's turbo budget), with little or no steal.
The probe measures that speed while a run measures the program: a
separate process runs a fixed burst of work (~2 ms) every 50 ms and
appends `<CLOCK_MONOTONIC time> <burst CPU seconds>` lines to a file.
The slowdown of an interval is the median burst around it over
`REF_BURST_S`, the burst's CPU time on a quiet host; a run divides the
times it measured by the slowdown of their interval, which gives them at
the reference host speed. Burst CPU time, unlike burst wall time, does
not count the time the probe waited for a CPU the program was using.

    python3 perfbench/speed.py <out file>     # runs until terminated
"""

from __future__ import annotations

import signal
import statistics
import sys
import time
from pathlib import Path

import numpy as np

PERIOD_S = 0.05
# median burst CPU time on a quiet 4-vCPU host of the reference type
REF_BURST_S = 2.0e-3
# an interval's samples are taken this much wider on each side, so that
# a short op still has ~10
PAD_S = 0.25

_DATA = np.random.default_rng(0).random(1 << 14)


def burst() -> float:
    """CPU seconds this thread spends on a fixed mix of interpreter and
    numpy work."""
    t = time.thread_time()
    x = 0
    for i in range(15_000):
        x = (x * 1103515245 + i) & 0x7FFFFFFF
    np.sort(_DATA)
    return time.thread_time() - t


def main(out: Path) -> int:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    with open(out, "w", buffering=1) as f:
        while True:
            f.write(f"{time.monotonic():.6f} {burst():.9f}\n")
            time.sleep(PERIOD_S)


class Speed:
    """Reads the probe's file: the host's slowdown over an interval."""

    def __init__(self, path: Path):
        self.path = path
        self.samples: list[tuple[float, float]] = []

    def load(self) -> None:
        """Read every sample written so far."""
        with open(self.path) as f:
            rows = [line.split() for line in f]
        self.samples = [(float(r[0]), float(r[1])) for r in rows if len(r) == 2]

    def slowdown(self, t0: float, t1: float) -> float:
        """Median burst CPU time around [t0, t1] (CLOCK_MONOTONIC) over
        `REF_BURST_S`, from the samples loaded."""
        lo, hi = t0 - PAD_S, t1 + PAD_S
        window = [v for t, v in self.samples if lo <= t <= hi]
        if not window:
            raise RuntimeError(f"speed probe: no sample between {lo:.3f} and {hi:.3f}")
        return statistics.median(window) / REF_BURST_S


if __name__ == "__main__":
    sys.exit(main(Path(sys.argv[1])))

"""Host speed probe, so that latencies measured at different moments on a
shared host can be compared.

On a shared 4-vCPU VM the same instructions take up to about twice as long
at one moment as at another (other tenants on the sibling hyperthreads,
memory bandwidth, clock), and the guest sees no steal time for it; process
CPU time grows with wall time.  The probe is a separate process that every
``PERIOD_S`` runs a fixed chunk of pure-Python work and records the CPU time
the chunk took: its own CPU time, so waiting for a processor the benchmark's
threads hold does not count, only how fast the processor runs.

``Probe.speed(t0, t1)`` is the mean speed, in chunks per CPU millisecond,
over an interval of ``time.monotonic()``.  A latency ``dt`` measured over
that interval is reported as ``dt * speed / REFERENCE_SPEED``: what it would
have been at the reference speed.

    python3 perfbench/hostspeed.py OUT_FILE     # the probe process itself
"""

from __future__ import annotations

import bisect
import os
import subprocess
import sys
import time

PERIOD_S = 0.05
CHUNK = 20000  # ~0.4 ms of work: the probe uses ~1 % of one processor
#: a typical speed of the 4-vCPU Xeon VM the baseline was measured on
REFERENCE_SPEED = 2.5


def _probe(out: str) -> None:
    parent = os.getppid()
    with open(out, "w", buffering=1) as f:
        while os.getppid() == parent:  # ends with the benchmark, however it ends
            c = time.thread_time_ns()
            for _ in range(CHUNK):
                pass
            c = time.thread_time_ns() - c
            f.write(f"{time.monotonic():.6f} {c}\n")
            time.sleep(PERIOD_S)


class Probe:
    def __init__(self, path: str):
        self.path = path
        self._t: list[float] = []
        self._speed: list[float] = []
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), path], stdin=subprocess.DEVNULL
        )

    def stop(self) -> None:
        """End the probe process, wait for it and read what it recorded."""
        if self.proc is None:
            return
        self.proc.terminate()
        self.proc.wait(timeout=30)
        self.proc = None
        with open(self.path) as f:
            for line in f:
                parts = line.split()
                # the last line may be cut short by terminate()
                if len(parts) == 2 and int(parts[1]) > 0:
                    self._t.append(float(parts[0]))
                    self._speed.append(1e6 / int(parts[1]))

    def speed(self, t0: float, t1: float) -> float:
        """Mean speed over [t0, t1]; the nearest sample's when none lies in it."""
        if not self._t:
            raise RuntimeError("the host speed probe recorded nothing")
        lo = bisect.bisect_left(self._t, t0)
        hi = bisect.bisect_right(self._t, t1)
        if lo < hi:
            return sum(self._speed[lo:hi]) / (hi - lo)
        near = min(range(max(lo - 1, 0), min(lo + 1, len(self._t))),
                   key=lambda i: abs(self._t[i] - t0))
        return self._speed[near]

    def scale(self, dt: float, t0: float, t1: float) -> float:
        """``dt``, measured over [t0, t1], at the reference speed."""
        return dt * self.speed(t0, t1) / REFERENCE_SPEED


if __name__ == "__main__":
    _probe(sys.argv[1])

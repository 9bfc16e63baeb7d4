"""How fast the host runs right now, measured in the run itself.

On a shared host a vCPU slows down by about 1.4x for one to three
seconds at a time whenever another tenant's work lands on the same
physical core, and each core does so on its own. Wall time and CPU
time both carry that slow-down, so two runs of the same code read
25-40% apart. The harness therefore times a fixed pure-Python loop,
the *spin*, alongside the work it measures, and divides the work's
time by the spin's slow-down:

    normalized = measured * SPIN_REF_S / mean(spin time over the same interval)

A normalized time reads in seconds of a host on which one spin takes
``SPIN_REF_S``, a typical figure on the 4-core development host.

- Work on the calling thread (an estimate request) interleaves spins
  with the requests, so both run on the same core in the same
  second: ``spin()``.
- Work done by the JVM and Spark's workers (set-up, a curate pass)
  is sampled by a background thread that spins every 20 ms while the
  work runs: ``Sampler``. The driver thread only waits on the JVM
  then, so the sampler takes about 3% of one core.
"""

from __future__ import annotations

import statistics
import threading
import time
from contextlib import contextmanager

SPIN_N = 2_000
SPIN_REF_S = 0.00025
# 16Ki list slots and their int objects, about 0.6 MB: larger than a
# core's L1 and within its L2, which hyperthreads on one core share
_TABLE = list(range(1 << 14))
_MASK = (1 << 14) - 1


def _chase(n: int) -> int:
    x, t = 0, _TABLE
    for i in range(n):
        x = t[(x * 40_503 + i) & _MASK]
    return x


def spin() -> float:
    """CPU seconds this thread takes for a fixed chain of dependent
    loads across ``_TABLE``, timed once the table is back in cache."""
    _chase(SPIN_N)
    c0 = time.thread_time()
    _chase(SPIN_N)
    return time.thread_time() - c0


def slowdown(spins: list[float]) -> float:
    """Mean spin time relative to the reference; 1.0 with no spins."""
    return statistics.fmean(spins) / SPIN_REF_S if spins else 1.0


class Sampler:
    """Spins every ``period_s`` on a background thread while a
    ``window`` is open; ``slowdown(t0, t1)`` averages the spins of an
    interval of ``time.perf_counter()``."""

    def __init__(self, period_s: float = 0.02):
        self.period_s = period_s
        self.samples: list[tuple[float, float]] = []

    @contextmanager
    def window(self):
        stop = threading.Event()

        def run():
            while not stop.wait(self.period_s):
                self.samples.append((time.perf_counter(), spin()))

        t = threading.Thread(target=run, name="perfbench-spin", daemon=True)
        t.start()
        try:
            yield self
        finally:
            stop.set()
            t.join()

    def slowdown(self, t0: float, t1: float) -> float:
        return slowdown([s for t, s in self.samples if t0 <= t <= t1])


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole host so far: time our
    vCPUs were ready to run but the hypervisor ran someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total > 0 else 0.0

"""Host CPU speed and steal probe.

    python3 lakebench/speedprobe.py OUT_FILE

The measuring host is shared, and two things outside the program move
every wall time of a benchmark run:

- the CPU's speed drifts: over four minutes on the 4-vCPU host, a fixed
  pure-Python loop took between 25 and 50 ms, and its mean over
  one-minute windows had an interquartile range of a third of its
  median;
- the hypervisor steals CPU time: from 0 to 47% of the busy CPU time
  from one run to the next.

The benchmark starts this probe beside the workload to measure both.
Every ``PERIOD_S`` it runs a fixed loop and appends
``<perf_counter> <loop CPU seconds> <steal ticks> <busy ticks>`` to
OUT_FILE, the ticks summed over all CPUs from ``/proc/stat``. The loop is
timed by thread CPU time, which excludes steal and time spent waiting for
a core behind the workload's own threads, so it reads the CPU's speed
alone. At about 2 ms of work per 40 ms it takes 5% of one core.

``Probe`` starts, stops and reads it; ``Probe.scale`` turns a wall
interval into seconds at the reference speed ``REF_LOOP_S`` without
steal. ``time.perf_counter`` is the system-wide monotonic clock on Linux,
so the probe's timestamps and the benchmark's compare directly.
"""

from __future__ import annotations

import bisect
import os
import statistics
import subprocess
import sys
import time

PERIOD_S = 0.04
LOOP_N = 50_000
# Loop CPU seconds at the reference speed: the median of the per-run
# medians of 34 benchmark runs on the 4-vCPU Intel Xeon host the
# benchmark was calibrated on (2.16-2.54 ms). A reported time is the
# wall time the call would have taken at this speed, without steal.
REF_LOOP_S = 0.00235
# A short call is judged by the samples of the MIN_WINDOW_S around it:
# the host drifts over seconds, while the probe's single samples also
# jitter with the workload's own bursts.
MIN_WINDOW_S = 5.0


def _loop(n: int) -> int:
    s = 0
    for i in range(n):
        s += i
    return s


def _cpu_ticks() -> tuple[int, int]:
    """(steal, busy + steal) clock ticks of all CPUs since boot."""
    with open("/proc/stat", encoding="ascii") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return steal, user + nice + system + irq + softirq + steal


def _main(out_path: str) -> None:
    parent = os.getppid()
    with open(out_path, "w", encoding="ascii") as out:
        while os.getppid() == parent:
            c0 = time.thread_time()
            _loop(LOOP_N)
            cpu = time.thread_time() - c0
            steal, busy = _cpu_ticks()
            out.write(f"{time.perf_counter():.6f} {cpu:.7f} {steal} {busy}\n")
            out.flush()
            time.sleep(PERIOD_S)


def _widen(t0: float, t1: float) -> tuple[float, float]:
    mid = (t0 + t1) / 2
    return min(t0, mid - MIN_WINDOW_S / 2), max(t1, mid + MIN_WINDOW_S / 2)


class Probe:
    """The probe process of one run."""

    def __init__(self, out_path: str) -> None:
        self.out_path = out_path
        self.proc: subprocess.Popen | None = None
        self.t: list[float] = []
        self.loop_s: list[float] = []
        self.steal: list[int] = []
        self.busy: list[int] = []

    def start(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), self.out_path],
            stdin=subprocess.DEVNULL,
        )

    def stop(self) -> None:
        """Stop the probe, wait for it, and load its samples."""
        if self.proc is not None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)
            self.proc = None
        try:
            with open(self.out_path, encoding="ascii") as f:
                rows = [line.split() for line in f if line.endswith("\n")]
        except OSError:
            rows = []
        rows = [r for r in rows if len(r) == 4]
        self.t = [float(r[0]) for r in rows]
        self.loop_s = [float(r[1]) for r in rows]
        self.steal = [int(r[2]) for r in rows]
        self.busy = [int(r[3]) for r in rows]

    def slowness(self, t0: float, t1: float) -> float:
        """Mean loop time over ``[t0, t1]``, widened to ``MIN_WINDOW_S``,
        relative to the reference."""
        t0, t1 = _widen(t0, t1)
        lo = bisect.bisect_left(self.t, t0)
        hi = bisect.bisect_right(self.t, t1)
        if hi <= lo:
            return float("nan")
        return statistics.fmean(self.loop_s[lo:hi]) / REF_LOOP_S

    def steal_share(self, t0: float, t1: float) -> float:
        """Share of the CPUs' busy time stolen by the hypervisor over
        ``[t0, t1]``, widened to ``MIN_WINDOW_S``."""
        if len(self.t) < 2:
            return 0.0
        t0, t1 = _widen(t0, t1)
        lo = max(0, bisect.bisect_left(self.t, t0) - 1)
        hi = min(len(self.t) - 1, bisect.bisect_right(self.t, t1))
        busy = self.busy[hi] - self.busy[lo]
        return (self.steal[hi] - self.steal[lo]) / busy if busy > 0 else 0.0

    def scale(self, t0: float, t1: float) -> float:
        """Wall seconds ``t1 - t0`` without the hypervisor's steal, at the
        reference CPU speed."""
        return (t1 - t0) * (1 - self.steal_share(t0, t1)) / self.slowness(t0, t1)

    def summary(self) -> dict:
        if len(self.loop_s) < 2:
            return {"samples": len(self.loop_s)}
        q = statistics.quantiles(self.loop_s, n=4)
        return {"samples": len(self.loop_s), "loop_s.p25": q[0],
                "loop_s.p50": q[1], "loop_s.p75": q[2], "ref_loop_s": REF_LOOP_S,
                "steal_share": self.steal_share(self.t[0], self.t[-1])}


if __name__ == "__main__":
    _main(sys.argv[1])

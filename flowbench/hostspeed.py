"""Host-speed sampler.

The benchmark's host is shared: its CPUs run the same instructions up
to ~1.5x slower for seconds to minutes at a time, and the slowdown
shows in CPU time as much as in wall time, so no clock of the program
escapes it. While the benchmark runs, a child process times a fixed
pure-Python loop by the CPU time of its own thread every ``PERIOD_S``
(about 4% of one vCPU). :meth:`Sampler.speed` over a window turns a
time measured in it into the time at the reference speed.

Sampling runs beside the program, not between its steps: a loop timed
in the gaps, or a fixed JVM job timed after the flow, did not track
the flow's time, while the concurrent mean did. It also sees the
program's own load on the vCPUs it shares, so it is kept on one task
slot (``run.CPUS``), where that load is the same from run to run.
"""

from __future__ import annotations

import statistics
import subprocess
import sys
import threading

PERIOD_S = 0.05
#: mean loop time on a 4-vCPU x86-64 host, so that there scaled and
#: unscaled times read alike
REFERENCE_S = 0.0020

_CHILD = f"""
import sys, time
def loop():
    s = 0
    for i in range(20_000):
        s += i * i % 7
    return s
while True:
    c0 = time.thread_time()
    loop()
    c = time.thread_time() - c0
    try:
        print(time.monotonic(), c, flush=True)
    except BrokenPipeError:
        break
    time.sleep({PERIOD_S})
"""


class Sampler:
    """The sampling child, from :meth:`start` to :meth:`stop`."""

    def __init__(self):
        self.samples: list[tuple[float, float]] = []
        self._proc = None

    def start(self) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, "-c", _CHILD], stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True
        )
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self._proc.stdout:
            t, c = line.split()
            self.samples.append((float(t), float(c)))

    def stop(self) -> None:
        """End the child and wait for it; a no-op if not running."""
        if self._proc is None:
            return
        self._proc.terminate()
        self._proc.wait()
        self._reader.join()
        self._proc.stdout.close()
        self._proc = None

    def speed(self, t0: float, t1: float) -> float:
        """``REFERENCE_S`` over the mean loop time of the samples taken
        between two ``time.monotonic()`` readings: a time measured in
        that window, times this, is the time at the reference speed."""
        return REFERENCE_S / statistics.fmean(c for t, c in self.samples if t0 <= t <= t1)

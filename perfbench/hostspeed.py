"""Host-speed probe used to scale the gated end-to-end times.

This host's speed drifts by up to 2.7x over minutes with load from
neighbouring machines, and the drift hits the 4-way parallel Spark work
harder than a single thread.  The probe therefore runs a fixed
pure-Python loop in one process per core at once, and reads the slowest
of them: the fastest of five such rounds.  It runs between operations,
while Spark is idle.  No change to the program can move it.

Every time of a run is scaled by (FLAT_PROBE_S / probe) ** EXPONENT,
with ``probe`` the median of all the run's probes, and not at all
when that median is below FLAT_PROBE_S.  Scaling each op by the probes
just before and after it was tried first; one probe is noisy enough
that ingest op1 then spread 0.33 of its median over seven seeds,
against 0.09 with the run's median probe.

The two constants are an empirical fit to this host, not a model.
Over 77 runs (42 ingest, 35 extract) with the run's median probe at
16-32 ms, the raw op times changed little at the low end and rose
steeply above about 20-23 ms.  A grid over the flat level (17, 20, 23
ms) and the exponent (1.2, 1.5) put 20 ms and 1.2 first: the standard
deviation of log op time was 0.07-0.10 per op, 0.083 on average,
against 0.109 for a plain (17 ms / probe) ** 1.2 and 0.177 with no
scaling.
"""

from __future__ import annotations

import subprocess
import sys

#: below this probe (s) the ops' times do not change with it
FLAT_PROBE_S = 0.020
EXPONENT = 1.2
LOOP = 300_000


def scale(probe_s: float) -> float:
    """Factor that takes a time measured at ``probe_s`` to the host's
    speed at a probe of FLAT_PROBE_S or below."""
    return (FLAT_PROBE_S / max(probe_s, FLAT_PROBE_S)) ** EXPONENT


#: One probe worker: for each line ``n`` on stdin, run the loop ``n``
#: times and print its wall time.  The loop runs in a function, on
#: locals, as the constants below were measured.
_WORKER = """
import sys, time

def burn(n):
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0

for line in sys.stdin:
    print(burn(int(line)), flush=True)
"""


class HostProbe:
    """One worker process per core, started once per run.  The workers
    are plain child processes on pipes, so closing the probe ends and
    reaps every one of them."""

    def __init__(self, cores: int) -> None:
        self.procs = [
            subprocess.Popen([sys.executable, "-c", _WORKER],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             text=True, bufsize=1)
            for _ in range(cores)]

    def _round(self) -> float:
        for p in self.procs:
            p.stdin.write(f"{LOOP}\n")
            p.stdin.flush()
        return max(float(p.stdout.readline()) for p in self.procs)

    def __call__(self) -> float:
        return min(self._round() for _ in range(5))

    def close(self) -> None:
        for p in self.procs:
            p.stdin.close()  # a worker exits at the end of its input
        for p in self.procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.stdout.close()

"""Host-speed control: a fixed amount of CPU work on every core, timed
between the timed steps of a run, while the program is idle.

On a shared host the speed delivered to a run drifts by tens of percent
between minutes, at any steal level.  The control shares no code with the
program, so its wall time moves with the host and not with the program;
scaling a step's wall by the median of the readings taken around it
cancels part of the drift (``run.host_factor``).

The workers are plain child processes (this file run with ``--worker``)
driven over their stdin and stdout, so the control leaves no helper
process behind: ``close`` ends each worker and waits for it.
"""

from __future__ import annotations

import statistics
import subprocess
import sys
import time

import numpy as np


def _work() -> float:
    """About 0.16 s of mixed interpreter and numpy work on one core."""
    total = 0
    for i in range(500_000):
        total += (i * 2654435761) % 1009
    a = np.random.default_rng(0).random(400_000)
    for _ in range(10):
        a = np.sort(a * 1.0001)
    return total + float(a[0])


class Control:
    def __init__(self, n_cores: int) -> None:
        self.workers = [
            subprocess.Popen([sys.executable, __file__, "--worker"], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
            for _ in range(n_cores)
        ]
        self.measure()  # the first round loads numpy in every worker

    def measure(self) -> float:
        """The median over the workers of the wall each took for the work
        (robust to one core that a background thread also used)."""
        for w in self.workers:
            w.stdin.write("run\n")
            w.stdin.flush()
        walls = []
        for w in self.workers:
            line = w.stdout.readline()
            if not line:
                raise RuntimeError(f"control worker {w.pid} exited")
            walls.append(float(line))
        return statistics.median(walls)

    def close(self) -> None:
        for w in self.workers:
            w.stdin.close()  # a worker exits at the end of its input
        for w in self.workers:
            w.wait(timeout=60)
            w.stdout.close()


def worker() -> None:
    for _ in sys.stdin:
        t0 = time.perf_counter()
        _work()
        print(time.perf_counter() - t0, flush=True)


if __name__ == "__main__" and sys.argv[1:] == ["--worker"]:
    worker()

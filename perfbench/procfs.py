"""Process-tree CPU and memory, and host context, read from ``/proc``.

The tree is this process and every descendant: the Spark driver JVM, the
PySpark daemon and its forked Python workers.  CPU counts each live
process's own time plus the time of its reaped children (``cutime`` /
``cstime``), so workers that exit between samples are still counted once
their parent reaps them.  Peak memory is the largest sum of ``VmHWM`` over
the processes alive at one sample; a background thread samples often
enough to see workers that live for a single pass.

``adopt_orphans`` keeps every process the run starts in its tree, even one
whose parent exits first, and ``stop_tree`` stops them all and waits for
each to end.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import platform
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """user+sys seconds of the tree, including reaped children."""
    total = 0
    for pid in pids or tree_pids():
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so that a
    process whose parent exits first (the PySpark daemon after its JVM)
    stays in this process's tree."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def stop_tree(grace_s: float = 10.0, limit_s: float = 60.0) -> bool:
    """Stop every descendant and reap each: SIGTERM, then SIGKILL after
    ``grace_s``.  Returns True once this process has no child left, which
    after ``adopt_orphans`` means no descendant is left; False if one is
    still there after ``limit_s``."""
    me = os.getpid()
    start = time.monotonic()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return True
        elapsed = time.monotonic() - start
        if elapsed > limit_s:
            return False
        sig = signal.SIGTERM if elapsed < grace_s else signal.SIGKILL
        if sig != sent:
            for pid in tree_pids():
                if pid != me:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, sig)
            sent = sig
        time.sleep(0.05)


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Background sampler of the tree's summed VmHWM (MB)."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        mb = sum(_hwm_kb(p) for p in tree_pids()) / 1024.0
        self.peak_mb = max(self.peak_mb, mb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def host_context(stat_before: list[int]) -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "steal_frac": round(steal_frac(stat_before, cpu_times()), 5),
        "loadavg": load,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }

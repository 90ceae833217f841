"""Peak resident memory of the driver JVM and its Python workers, sampled
from /proc.

Memory is counted as PSS (proportional set size: resident pages, with each
page shared by k processes counted 1/k in each), so forked Python workers
do not count the pages they share with their parent several times over.
The JVM and its descendants (the Python workers) are kept apart: the JVM's
figure follows its heap limit (``spark.driver.memory``), because G1 grows
the heap toward the limit under allocation.  The largest single worker
follows the batches the UDFs hold; the workers' sum also follows how many
workers Spark has forked at the moment, which varies from run to run.

Only Python processes count as workers.  A process the JVM spawns shares
the JVM's address space until it calls exec (glibc's posix_spawn clones
with CLONE_VM), so a sample taken in that window would read a short-lived
helper as a worker as large as the JVM."""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process exited
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:  # the process exited
        return False


def descendants_pss_kib(root: int) -> list[int]:
    """PSS of each Python process below ``root`` (the JVM's Python workers)."""
    kids = _children_map()
    out, stack = [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        if _is_python(pid):
            out.append(_pss_kib(pid))
        stack.extend(kids.get(pid, ()))
    return out


class PeakPss:
    """Background sampler of the PSS of ``root`` and of its descendants;
    after stop, ``worker_peak_mib`` (largest single descendant),
    ``workers_peak_mib`` (descendants summed) and ``root_peak_mib``."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_kib = {"worker": 0, "workers": 0, "root": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-pss", daemon=True)

    def _run(self) -> None:
        peak = self.peak_kib
        while True:
            kids = descendants_pss_kib(self.root)
            peak["worker"] = max(peak["worker"], max(kids, default=0))
            peak["workers"] = max(peak["workers"], sum(kids))
            peak["root"] = max(peak["root"], _pss_kib(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def worker_peak_mib(self) -> float:
        return self.peak_kib["worker"] / 1024.0

    @property
    def workers_peak_mib(self) -> float:
        return self.peak_kib["workers"] / 1024.0

    @property
    def root_peak_mib(self) -> float:
        return self.peak_kib["root"] / 1024.0

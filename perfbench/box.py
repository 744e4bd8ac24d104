"""What the run measured on: the box stamp and the process-tree RSS
sampler. The stamp reuses bench.py's load and foreign-JVM probe so the
benchmark and the older harness judge a box the same way."""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")

# Share of CPU time stolen by the hypervisor above which a warm pass is
# not used and a run is flagged as measuring a busy host (``host_busy``
# in its record). On the 4-core reference box, corpus passes read
# 0.000-0.015 while the host was quiet. Against passes below 0.01,
# passes ran 10-20% slower at 0.01-0.02, about 30% slower at 0.04-0.08
# and up to twice as slow at 0.13-0.20. A limit of 0.02 made more runs
# stretch for quiet passes (batch.MAX_STRETCH), and passes kept getting
# faster with their number, so those runs read low by about as much as
# passes at 0.02-0.05 read high; over the same ten runs, 0.05 gave the
# smaller spread.
STEAL_LIMIT = 0.05


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited between listdir and open
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss(root: int) -> dict[int, int]:
    """Resident bytes of ``root`` and each of its descendants, by pid."""
    kids = _children()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                out[pid] = int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return out


def wait_for_descendants(timeout: float) -> list[int]:
    """Wait until this process has no live descendants; returns the pids
    still running when ``timeout`` runs out."""
    deadline = time.monotonic() + timeout
    while True:
        live = [p for p in tree_rss(os.getpid()) if p != os.getpid() and not _zombie(p)]
        if not live or time.monotonic() >= deadline:
            return live
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True  # gone


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples this process tree's RSS every ``interval`` seconds on a
    daemon thread; ``stop()`` joins it and returns the peak in bytes.
    ``peak_by_process`` is the (command, bytes) breakdown at the peak.

    A process counts only once it has been seen in two samples in a
    row. The JVM starts helper commands (chmod, readlink) by forking,
    and until the exec such a child reports the JVM's whole resident
    set; summing it would count the heap twice."""

    def __init__(self, interval: float = 0.5) -> None:
        self._interval = interval
        self._stop = threading.Event()
        self.peak = 0
        self.peak_by_process: list[tuple[str, int]] = []
        self._thread = threading.Thread(target=self._run, name="rss-sampler",
                                        daemon=True)

    def _run(self) -> None:
        me, seen = os.getpid(), set()
        while not self._stop.is_set():
            sample = tree_rss(me)
            rss = {p: b for p, b in sample.items() if p in seen or p == me}
            seen = set(sample)
            if sum(rss.values()) > self.peak:
                self.peak = sum(rss.values())
                self.peak_by_process = [(_comm(p), b) for p, b in rss.items()]
            self._stop.wait(self._interval)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_jiffies`` samples: a run with a high share ran on a busy host."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def _mem_total_kb() -> int | None:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return None


def source_identity(root: str) -> dict:
    """The git commit when the checkout is a repository, and always a
    digest of the engine's sources (a benchmark checkout has no .git)."""
    digest = hashlib.sha256()
    pkg = os.path.join(root, "hpat_jl_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                digest.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        commit = _git_head(root)
    return {"git_commit": commit, "source_sha256": digest.hexdigest()}


def _git_head(root: str) -> str | None:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def stamp(cpus: int) -> dict:
    """Static facts about the box, taken once per run."""
    import duckdb
    import pyspark

    return {
        "nproc": cpus,
        "mem_total_kb": _mem_total_kb(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }

"""Host facts, provenance, and a process-tree memory sampler."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading


def harness_sha256(bench_dir: str) -> str:
    """Hash of the benchmark's own files (relative path + bytes)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(bench_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, bench_dir).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _git_commit(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip()


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings; runs with a high share read slower."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def facts(root: str, bench_dir: str) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": _cpu_model(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": _git_commit(root),
        "harness_sha256": harness_sha256(bench_dir),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each page shared by
    n processes counted 1/n times, so forked Python workers do not
    count their shared pages once per worker."""
    with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(pid: int) -> int:
    total = 0
    for p in tree(pid):
        try:
            total += _pss_bytes(p)
        except OSError:  # the process exited between listing and reading
            pass
    return total


class MemorySampler:
    """Samples the proportional resident memory of this process tree
    (driver, JVM, Python workers) from /proc on a background thread
    and keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

"""The box around a run: memory of the process tree, a CPU-noise witness
and the identity of the sources measured. The witness and the identity
go into the run's record, not into its metrics: they let a wide run be
explained with evidence."""

from __future__ import annotations

import glob
import hashlib
import os
import statistics
import subprocess
import time


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (f := _stat_fields(int(d))):
            children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def peak_rss_mb(root: int) -> float:
    """Sum of the high-water RSS (``VmHWM``) over the live process tree:
    this Python process, the JVM and its Python workers."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return kb / 1024


def _cpu_ticks() -> tuple[int, int, int]:
    """(all ticks, busy ticks, steal ticks) of the box, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    total = sum(v[:8])
    return total, total - idle, v[7]


def _tree_ticks(root: int) -> int:
    ticks = 0
    for pid in process_tree(root):
        if f := _stat_fields(pid):
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks


def cpu_probe_ms() -> float:
    """Median wall time of five rounds of a fixed pure-Python loop, in ms:
    the speed of one core of the box at this moment, apart from the
    engine."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        s = 0
        for i in range(100_000):
            s += i * i
        times.append(time.perf_counter() - t0)
    return round(statistics.median(times) * 1000, 3)


class Witness:
    """CPU steal, other processes' CPU share, load and the speed of one
    core (``cpu_probe_ms``) over a region."""

    def __init__(self, root: int) -> None:
        self.probe = cpu_probe_ms()
        self.root = root
        self.total, self.busy, self.steal = _cpu_ticks()
        self.ours = _tree_ticks(root)
        self.load = os.getloadavg()

    def stop(self) -> dict:
        total, busy, steal = _cpu_ticks()
        ours = _tree_ticks(self.root)
        span = max(1, total - self.total)
        return {
            "steal_ticks": steal - self.steal,
            "steal_share": round((steal - self.steal) / span, 4),
            "others_cpu_share": round(
                max(0, (busy - self.busy) - (ours - self.ours)) / span, 4
            ),
            "loadavg_1m_start": self.load[0],
            "loadavg_1m_end": os.getloadavg()[0],
            "cpu_probe_ms_start": self.probe,
            "cpu_probe_ms_end": cpu_probe_ms(),
        }


def _digest(root: str, patterns: tuple[str, ...]) -> str:
    h = hashlib.sha256()
    for pattern in patterns:
        for path in sorted(glob.glob(os.path.join(root, pattern), recursive=True)):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def source_identity(root: str) -> dict:
    """The commit, when the checkout is a git repository, and digests of
    the engine sources and of the benchmark."""
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
        commit = r.stdout.strip() or None
    return {
        "commit": commit,
        "engine_digest": _digest(
            root, ("hive_plan_service_spark/**/*.py", "bench.py", "tests/parity.py")
        ),
        "bench_digest": _digest(root, ("perfbench/*.py", "BENCHMARK.json")),
    }


def wait_gone(pid: int, timeout_s: float) -> bool:
    """Wait until ``pid`` has exited; False if it outlived ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        f = _stat_fields(pid)
        if f is None or f[0] == "Z":
            return True
        time.sleep(0.1)
    return False

"""Summary statistics, the process-tree RSS sampler and the run
conditions recorded beside every result."""

from __future__ import annotations

import os
import statistics
import subprocess
import threading

PERCENTILES = (50.0, 90.0, 99.0, 99.9)
RSS_INTERVAL_S = 0.25


def reported_percentile(n: int) -> float:
    """The highest of p50/p90/p99/p99.9 that leaves at least ten of
    ``n`` samples beyond it; p50 when even the median has fewer."""
    best = PERCENTILES[0]
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            best = p
    return best


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated percentile (p50 is the median)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(samples: list[float]) -> dict:
    p = reported_percentile(len(samples))
    return {
        "p50": statistics.median(samples),
        "reported_percentile": p,
        "value_at_reported": percentile(samples, p),
        "n": len(samples),
    }


def _children(pid: int) -> list[int]:
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid == pid:
            kids.append(int(name))
    return kids


def process_tree(root: int) -> set[int]:
    tree, todo = {root}, [root]
    while todo:
        for kid in _children(todo.pop()):
            if kid not in tree:
                tree.add(kid)
                todo.append(kid)
    return tree


def tree_rss(root: int) -> dict[int, tuple[str, int]]:
    """{pid: (command, RSS bytes)} over ``root`` and its descendants."""
    out = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = (comm, int(f.read().split()[1]) * page)
        except OSError:
            continue
    return out


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (driver Python, the JVM, Python workers) on one daemon thread."""

    def __init__(self):
        self.peak = 0
        self.peak_detail: dict = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while True:
            procs = tree_rss(me)
            total = sum(rss for _, rss in procs.values())
            if total > self.peak:
                self.peak = total
                self.peak_detail = _breakdown(me, procs)
            self.samples += 1
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")
        return self.peak / 2**20


def _breakdown(me: int, procs: dict) -> dict:
    """MB by role at the peak: this driver, the JVM, the Python workers."""
    mb = 2.0**20
    java = [rss for pid, (comm, rss) in procs.items() if comm == "java"]
    workers = [
        rss for pid, (comm, rss) in procs.items()
        if pid != me and comm.startswith("python")
    ]
    return {
        "driver_mb": procs.get(me, ("", 0))[1] / mb,
        "jvm_mb": sum(java) / mb,
        "python_workers": len(workers),
        "python_workers_mb": sum(workers) / mb,
    }


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(start: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since
    ``start``: a run taken under contention reads slow for that reason."""
    steal, total = cpu_times()
    return (steal - start[0]) / max(1, total - start[1])


def _cmd(args: list[str], cwd: str | None = None) -> str | None:
    try:
        out = subprocess.run(
            args, capture_output=True, text=True, timeout=10, cwd=cwd
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (out.stdout + out.stderr).strip() if out.returncode == 0 else None


def foreign_jvms() -> int:
    """Java processes running outside this process tree."""
    mine = process_tree(os.getpid())
    n = 0
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/comm") as f:
                n += f.read().strip() == "java"
        except OSError:
            continue
    return n


def run_conditions(root: str, cores: int, seed: int) -> dict:
    """Taken before the JVM starts, so load and JVMs seen are ambient."""
    import numpy
    import pyspark

    head = _cmd(["git", "rev-parse", "HEAD"], cwd=root)
    dirty = _cmd(["git", "status", "--porcelain"], cwd=root)
    java = _cmd(["java", "-version"])
    return {
        "master": f"local[{cores}]",
        "nproc": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "foreign_jvms": foreign_jvms(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "java": java.splitlines()[0] if java else None,
        "seed": seed,
        "git_head": head,
        "git_dirty": None if head is None else bool(dirty),
    }

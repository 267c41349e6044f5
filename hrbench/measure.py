"""Timing statistics, the process-tree sampler and the host-noise
witness.

The witness is information only: it never filters, re-runs or
rescales a sample.
"""

from __future__ import annotations

import os
import statistics
import threading

#: candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10
_TICK = os.sysconf("SC_CLK_TCK")


def quantile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ten samples
    beyond it; None when fewer than twenty samples exist."""
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= TAIL_MIN_BEYOND:
            return p
    return None


def summarize(latencies: list[float]) -> dict:
    """Median, and the tail with its percentile (both None without one)."""
    p = tail_percentile(len(latencies))
    return {"p50": statistics.median(latencies),
            "tail": quantile(latencies, p) if p is not None else None,
            "tail_pct": p, "n": len(latencies)}


def stratified(ops: list[tuple[str, float, float, int]]) -> dict:
    """``ops`` are (kind, latency, cpu, items) per op. Per-kind medians
    are combined as one balanced round that runs each kind once: the
    median latency over kinds, the round's items per second and its CPU
    per op. A time-boxed run repeats only some kinds of a mix, and this
    keeps which ones from moving the figures; with a single kind they
    are the plain medians."""
    by: dict[str, list] = {}
    for kind, lat, cpu, items in ops:
        by.setdefault(kind, []).append((lat, cpu, items))
    per = [[statistics.median(x[j] for x in v) for j in range(3)] for v in by.values()]
    lat, cpu, items = zip(*per)
    return {"p50": statistics.median(lat), "items_per_s": sum(items) / sum(lat),
            "cpu_s": sum(cpu) / len(cpu)}


# ---------------------------------------------------------------------------
# process tree: Python driver, its JVM and the JVM's Python workers
# ---------------------------------------------------------------------------

def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, user+sys seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rfind(")") + 2:].split()
    # fields after the command: state=0 ppid=1 ... utime=11 stime=12
    # cutime=13 cstime=14
    return int(f[1]), sum(int(x) for x in f[11:15]) / _TICK


def _hwm(pid: int) -> int:
    """The process's peak resident set (VmHWM) in bytes."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree(root: int) -> dict[int, float]:
    """{pid: cpu_s} for ``root`` and every descendant."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1]
            todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Polls this process's tree every ``interval`` seconds on a background
    thread and keeps each process's peak resident set (VmHWM, so a
    spike between polls still counts); the tree's peak is the sum of
    those per-process peaks."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @property
    def peak_rss(self) -> int:
        return sum(self._hwm.values())

    def _sample(self) -> None:
        for pid in tree(os.getpid()):
            self._hwm[pid] = max(self._hwm.get(pid, 0), _hwm(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()


def tree_cpu() -> float:
    """User+sys seconds of this process's tree so far (a worker that has
    exited is counted through its parent's reaped-children time)."""
    return sum(tree(os.getpid()).values())


# ---------------------------------------------------------------------------
# host-noise witness
# ---------------------------------------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostWitness:
    """Steal share of all CPU time (``/proc/stat``) and the load
    average over a run — recorded for the reader, never acted on."""

    def __init__(self):
        self._t0 = _cpu_times()
        self.load_start = os.getloadavg()[0]

    def report(self) -> dict:
        t1 = _cpu_times()
        delta = [b - a for a, b in zip(self._t0, t1)]
        total = sum(delta) or 1
        steal = delta[7] if len(delta) > 7 else 0
        return {"steal_pct": round(100.0 * steal / total, 3),
                "loadavg_start": self.load_start,
                "loadavg_end": os.getloadavg()[0]}

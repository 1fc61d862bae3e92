"""Instruments the benchmark runs with: RSS, a CPU control loop, Spark
job counts, spans, and the Spark event log.

All of it lives in the benchmark's own files and wraps calls into the
package from outside; nothing here changes what the package executes.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parens: split after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and all its descendants.
    PSS splits each shared page among the processes mapping it, so the
    Python workers forked from one daemon are not counted once per
    fork, as summed RSS would."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_kb(pid) * 1024
        except OSError:
            pass
    return total


class RssSampler:
    """One thread sampling the process tree's summed resident memory
    (PSS) at a fixed interval; ``peak_mb`` is the largest sample."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def cpu_control_ms() -> float:
    """A fixed pure-Python loop; its time shows a throttled host."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t) * 1e3


def cpu_times() -> list[int]:
    """The host's aggregate CPU jiffies from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


class JobCounter:
    """Labels each operation's Spark jobs with a job group and counts
    the jobs and completed tasks ``statusTracker()`` reports for it."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.n = 0

    def group(self, op: str) -> str:
        self.n += 1
        gid = f"{op}:{self.n}"
        self.sc.setJobGroup(gid, op)
        return gid

    def count(self, gid: str) -> tuple[int, int]:
        jobs = self.tracker.getJobIdsForGroup(gid)
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numCompletedTasks
        return len(jobs), tasks


class Tracer:
    """In-memory spans: (name, start, end, parent, op id)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def current(self) -> int:
        """Index of the innermost open span."""
        return self._stack[-1]

    def add(self, name: str, start: float, end: float,
            parent: int | None, op: str | None) -> None:
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "op": op})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_len(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals ``iv`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(iv):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Spark event log -> {job group: {"jobs": [(start_s, end_s)],
    "run_ms": Σ task executor run time, "shuffle_bytes": Σ written}}."""
    # Spark 4 writes a directory per application, one events_* file per
    # rolled part (beside an appstatus marker and Hadoop's .crc files)
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if f.startswith("events_"))
    stage_group: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    out: dict[str, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "")
                    jobs[ev["Job ID"]] = {"group": g,
                                          "start": ev["Submission Time"]}
                    for s in ev["Stage IDs"]:
                        stage_group[s] = g
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        rec = out.setdefault(j["group"], _empty_group())
                        rec["jobs"].append((j["start"] / 1e3,
                                            ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if g is None or not m:
                        continue
                    rec = out.setdefault(g, _empty_group())
                    rec["run_ms"] += m.get("Executor Run Time", 0)
                    rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics")
                                             or {}).get(
                        "Shuffle Bytes Written", 0)
    return out


def _empty_group() -> dict:
    return {"jobs": [], "run_ms": 0, "shuffle_bytes": 0}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)

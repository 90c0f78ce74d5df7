"""Measurement helpers for the benchmark: process-tree CPU and memory,
the host-contention spin, an in-memory span tracer, and the Spark
event-log reader. Nothing here imports the program under test."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name may hold spaces; fields resume after ')'
        f = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def tree_pids(table: dict | None = None) -> set[int]:
    """This process and all its descendants."""
    table = table if table is not None else _proc_table()
    root = os.getpid()
    pids, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, v in table.items() if v[0] == parent and p not in pids]
        pids.update(kids)
        frontier.extend(kids)
    return pids


def tree_cpu_s() -> float:
    """CPU seconds of this process and its descendants: user+sys of
    every live process plus what each has reaped from its children, so
    Python workers that exit inside a job still count once their parent
    (the PySpark daemon) has waited for them."""
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids(table)) / _TICK


def tree_rss_mb() -> float:
    """Resident set size summed over this process and its descendants."""
    pages = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except OSError:  # the process ended meanwhile
            pass
    return pages * _PAGE / 2**20


class RssSampler:
    """Samples the process tree's RSS every 100 ms on a background
    thread while a job runs; ``peak_mb`` is the highest sample."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(0.1):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def spin_ms() -> float:
    """Wall time of a fixed single-threaded CPU loop: rises when other
    processes on the host compete for the core."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1e3


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written out
    once, at exit. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Per Spark job group: tasks, failed tasks, shuffle bytes written,
    spilled bytes and GC seconds, summed from the event logs in
    ``log_dir`` (read after the session has stopped, which flushes them)."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = ev.get("Properties", {}).get("spark.jobGroup.id", "")
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "")
                    t = totals.setdefault(group, dict.fromkeys(
                        ["tasks", "tasks_failed", "shuffle_write_bytes", "spill_bytes", "gc_s"], 0.0))
                    m = ev.get("Task Metrics") or {}
                    t["tasks"] += 1
                    t["tasks_failed"] += ev["Task End Reason"]["Reason"] != "Success"
                    t["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    return totals


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total

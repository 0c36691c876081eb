"""Benchmark-side observation of a run, all from outside the program.

- ``tree_cpu_s`` and ``PeakRss``: CPU seconds and resident memory of this
  process and every descendant (the Spark JVM, the Python worker daemon
  and its workers), read from ``/proc``.
- ``Spans``: in-memory (name, start, end, parent, run) records around the
  benchmark's calls into the program's public functions.
- ``wrapped``: temporarily wraps a module-level public function so that
  calls made *inside* the program (e.g. ``control.committed_partitions``
  from ``pipeline.run_extraction``) are recorded as spans too.
- ``EventLog``: offline parser for Spark's uncompressed event log
  (``eventlog_v2_*/events_*``) into per-stage metrics.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import re
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.05
RSS_RESCAN_EVERY = 10  # samples between process-tree rescans


def _stat_fields(pid: int) -> list[bytes]:
    """Fields of /proc/<pid>/stat after the command name (field 3 onward)."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        s = f.read()
    return s[s.rindex(b")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and every descendant, from one scan of /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(d))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """utime+stime+cutime+cstime summed over the live process tree, in
    seconds. A child that exits and is reaped moves its time into its
    parent's cutime, so after minus before stays exact across worker
    turnover."""
    total = 0
    for p in tree_pids():
        try:
            total += sum(int(x) for x in _stat_fields(p)[11:15])
        except OSError:
            continue
    return total / _TICK


def rss_mb(pids) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm", "rb") as f:
                total += int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return total * _PAGE / 2**20


class PeakRss:
    """Background sampler of the process tree's summed RSS, every
    RSS_INTERVAL_S with a tree rescan every RSS_RESCAN_EVERY samples. Use
    as a context manager; ``peak_mb`` holds the maximum seen while it ran.

    Only processes seen in two consecutive tree scans count: a child the
    JVM spawns for a few milliseconds shares the JVM's pages until it
    execs, and counting it would add the JVM's whole RSS a second time."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        seen = set(tree_pids())
        pids, n = list(seen), 0
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb(pids))
            if self._stop.wait(RSS_INTERVAL_S):
                return
            n += 1
            if n % RSS_RESCAN_EVERY == 0:
                now = set(tree_pids())
                pids, seen = list(now & seen), now

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


class Spans:
    """Nested spans kept in memory; ``run`` tags every span opened while
    it is set (one id per timed repetition)."""

    def __init__(self):
        self.items: list[dict] = []
        self.run: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.items),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run,
        }
        self.items.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


@contextlib.contextmanager
def wrapped(spans: Spans, targets: list[tuple[object, str, str]]):
    """Replace ``module.attr`` with a span-recording wrapper for the
    duration of the block; ``targets`` holds (module, attr, span name)."""
    originals = []
    try:
        for module, attr, span_name in targets:
            orig = getattr(module, attr)
            originals.append((module, attr, orig))

            def make(orig=orig, span_name=span_name):
                @functools.wraps(orig)
                def wrapper(*args, **kwargs):
                    with spans.span(span_name):
                        return orig(*args, **kwargs)

                return wrapper

            setattr(module, attr, make())
        yield
    finally:
        for module, attr, orig in reversed(originals):
            setattr(module, attr, orig)


def union_s(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class Stage:
    """One completed stage attempt with its successful tasks' metrics."""

    def __init__(self, info: dict):
        self.id = info["Stage ID"]
        self.start = info["Submission Time"] / 1000.0
        self.end = info["Completion Time"] / 1000.0
        self.scopes = set()
        for rdd in info.get("RDD Info", []):
            try:
                self.scopes.add(json.loads(rdd.get("Scope") or "{}").get("name", ""))
            except ValueError:
                pass
        self.tasks: list[dict] = []

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def _sum(self, key) -> float:
        return sum(key(t) for t in self.tasks)

    def metrics(self, slots: int) -> dict:
        durs = [t["dur"] for t in self.tasks] or [0.0]
        med = statistics.median(durs)
        busy = sum(durs)
        return {
            "wall_s": self.wall_s,
            "task_s": self._sum(lambda t: t["run_ms"]) / 1000.0,
            "jvm_cpu_s": self._sum(lambda t: t["cpu_ns"]) / 1e9,
            "gc_s": self._sum(lambda t: t["gc_ms"]) / 1000.0,
            "tasks": len(self.tasks),
            "task_skew": max(durs) / med if med > 0 else 0.0,
            "slot_idle_frac": (
                1.0 - busy / (slots * self.wall_s) if self.wall_s > 0 else 0.0
            ),
            "shuffle_write_mb": self._sum(lambda t: t["shw_bytes"]) / 1e6,
        }


class EventLog:
    """Stages parsed from one application's uncompressed event log under
    ``log_dir``."""

    def __init__(self, log_dir: str):
        files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
        # rolled files are events_<index>_<appId>: replay in index order
        files.sort(key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        self.stages: dict[tuple[int, int], Stage] = {}
        tasks: dict[tuple[int, int], list[dict]] = {}
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        if "Completion Time" in info and "Submission Time" in info:
                            key = (info["Stage ID"], info["Stage Attempt ID"])
                            self.stages[key] = Stage(info)
                    elif kind == "SparkListenerTaskEnd":
                        if ev["Task End Reason"].get("Reason") != "Success":
                            continue
                        ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                        tasks.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), []).append({
                            "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                            "run_ms": tm.get("Executor Run Time", 0),
                            "cpu_ns": tm.get("Executor CPU Time", 0),
                            "gc_ms": tm.get("JVM GC Time", 0),
                            "shw_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0),
                        })
        for key, stage in self.stages.items():
            stage.tasks = tasks.get(key, [])

    def stages_in(self, lo: float, hi: float) -> list[Stage]:
        """Stages submitted inside [lo, hi], in submission order."""
        return sorted(
            (s for s in self.stages.values() if lo <= s.start <= hi),
            key=lambda s: s.start,
        )

    def stage_intervals(self, lo: float, hi: float):
        """Every stage's (start, end), clipped to [lo, hi]."""
        return clip([(s.start, s.end) for s in self.stages.values()], lo, hi)

"""Spans around layer calls, and the Spark event log folded into them.

Spans come from wrappers the benchmark installs on module attributes of
the program; no program source is edited.  A span records name, parent,
start and end (epoch seconds, the event log's clock) and whatever the
wrapper reads off the call's return value without starting a Spark job.
Spark jobs are attributed to the innermost span whose interval contains
their submission time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.active = False

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, observe=None) -> None:
        """Replace owner.attr with a wrapper that records a span while
        the tracer is active.
        `observe(result, args, kwargs)` returns attributes to attach; it
        runs after the span closes and must not start a Spark job."""
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            with self.span(name) as rec:
                result = original(*args, **kwargs)
            if observe is not None:
                rec["attrs"].update(observe(result, args, kwargs))
            return result

        setattr(owner, attr, wrapper)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def within(self, outer: dict, name: str) -> list[dict]:
        """Spans called `name` nested (at any depth) under `outer`."""
        idx = self.spans.index(outer)
        out = []
        for s in self.spans:
            p = s["parent"]
            while p is not None and p != idx:
                p = self.spans[p]["parent"]
            if p == idx and s["name"] == name:
                out.append(s)
        return out


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def _log_lines(log_dir: str):
    """Lines of the newest application's event log in `log_dir` (one
    per SparkContext; a rolling log is a directory of numbered files)."""
    apps = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".crc")]
    if not apps:
        raise RuntimeError(f"no Spark event log in {log_dir}")
    newest = max(apps, key=lambda p: int(p.rsplit("-", 1)[-1].split(".")[0]))
    if os.path.isdir(newest):
        files = [p for p in glob.glob(f"{newest}/events_*") if not p.endswith(".crc")]
        files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        files = [newest]
    for path in files:
        with open(path) as fh:
            yield from fh


class EventLog:
    """The parts of one Spark event log the per-layer metrics need."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.storage: list[tuple[float, float]] = []  # (approx time, rdd MB cached)
        blocks: dict[str, float] = {}
        clock = 0.0
        for line in _log_lines(log_dir):
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                clock = ev["Submission Time"] / 1e3
                self.jobs[ev["Job ID"]] = {"submit": clock, "stages": ev["Stage IDs"]}
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                clock = max(clock, info["Completion Time"] / 1e3)
                self.stages[info["Stage ID"]] = {
                    "start": info["Submission Time"] / 1e3,
                    "end": info["Completion Time"] / 1e3,
                    "tasks": info["Number of Tasks"],
                }
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                clock = max(clock, info["Finish Time"] / 1e3)
                self.tasks.append({
                    "stage": ev["Stage ID"],
                    "launch": info["Launch Time"] / 1e3,
                    "dur": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                    "run": m.get("Executor Run Time", 0) / 1e3,
                    "cpu": m.get("Executor CPU Time", 0) / 1e9,
                    "gc": m.get("JVM GC Time", 0) / 1e3,
                    "spill": m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                })
            elif kind == "SparkListenerBlockUpdated":
                info = ev["Block Updated Info"]
                if info["Block ID"].startswith("rdd_"):
                    size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                    blocks[info["Block ID"]] = size
                    self.storage.append((clock, sum(blocks.values()) / 2**20))
        self.stage_job = {s: j for j, rec in self.jobs.items() for s in rec["stages"]}

    def jobs_in(self, start: float, end: float) -> list[int]:
        return [j for j, rec in self.jobs.items() if start <= rec["submit"] <= end]

    def stages_of(self, jobs: list[int]) -> list[int]:
        return [s for j in jobs for s in self.jobs[j]["stages"] if s in self.stages]

    def tasks_of(self, jobs: list[int]) -> list[dict]:
        stages = set(self.stages_of(jobs))
        return [t for t in self.tasks if t["stage"] in stages]

    def busy(self, start: float, end: float) -> float:
        """Seconds of [start, end] during which at least one stage ran."""
        ivs = sorted((max(s["start"], start), min(s["end"], end))
                     for s in self.stages.values() if s["end"] > start and s["start"] < end)
        total, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def storage_peak(self, start: float, end: float) -> float:
        vals = [mb for t, mb in self.storage if start <= t <= end]
        return max(vals, default=0.0)

    def task_skew(self, jobs: list[int]) -> float:
        """Worst max/median task duration over stages with >= 2 tasks."""
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks_of(jobs):
            by_stage.setdefault(t["stage"], []).append(t["dur"])
        ratios = [max(d) / max(statistics.median(d), 1e-3)
                  for d in by_stage.values() if len(d) >= 2]
        return max(ratios, default=1.0)

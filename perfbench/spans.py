"""Spans around the benchmark's calls into each engine layer, plus the
Spark event log attributed to those spans.

A span records name, start, end and its parent span.  While a span is
open it is the Spark job group of the driver thread, so every job the
call launches carries the span id in the event log; after the session
stops, the log is parsed and task counters are summed per span.  Spans
are kept in memory and written out once, at the end of the run.

With tracing off, ``span`` still nests correctly but only returns a
no-op handle: no job groups, no event log, nothing recorded.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def count(self, key: str, value: float) -> None:
        self.counts[key] = value


class _NoSpan:
    def count(self, key: str, value: float) -> None:
        pass


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.sc = None  # set once the session exists

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield _NoSpan()
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"s{next(self._ids)}", name, parent.span_id if parent else None,
                  time.perf_counter())
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(sp)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(sp.span_id, sp.name, interruptOnCancel=False)

    def materialize(self, sp, df):
        """Traced runs force a lazy layer's output inside its own span, so
        the jobs it causes are attributed to it; untraced runs leave the
        plan fused.  Returns the (cached, when traced) DataFrame."""
        if not self.enabled:
            return df
        df = df.persist()
        sp.count("rows", df.count())
        return df

    # ------------------------------------------------------------ analysis
    def children(self) -> dict[str | None, list[Span]]:
        out: dict[str | None, list[Span]] = {}
        for sp in self.spans:
            out.setdefault(sp.parent, []).append(sp)
        return out

    def self_time(self, sp: Span, kids: dict) -> float:
        """Span wall minus the union of its children's intervals."""
        ivs = sorted((c.start, c.end) for c in kids.get(sp.span_id, []))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, sp.start), min(e, sp.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.wall - covered

    def subtree(self, sp: Span, kids: dict) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.span_id, []))
        return out


# ---------------------------------------------------------------- event log
def parse_event_log(log_dir: str) -> dict:
    """Event log → {job_group: [stage dict]}; each stage holds its task
    durations and summed task counters."""
    jobs_stages: dict[str, list[int]] = {}
    stages: dict[int, dict] = {}
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir)
             for f in fs if f.startswith("events_")]
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        jobs_stages.setdefault(group, []).extend(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "task_s": [], "run_s": 0.0, "gc_s": 0.0,
                        "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                    })
                    st["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
                    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
                    st["spill"] += m.get("Disk Bytes Spilled", 0)
    return {
        g: [stages[s] for s in dict.fromkeys(ids) if s in stages]
        for g, ids in jobs_stages.items()
    }


def spark_counters(stage_list: list[dict], wall: float, cores: int) -> dict:
    """Counters of the stages run under a span tree."""
    tasks = [t for st in stage_list for t in st["task_s"]]
    skew = 1.0
    if stage_list:
        slowest = max(stage_list, key=lambda st: max(st["task_s"]))
        skew = max(slowest["task_s"]) / max(statistics.median(slowest["task_s"]), 1e-3)
    run_s = sum(st["run_s"] for st in stage_list)
    return {
        "spark.stages": len(stage_list),
        "spark.tasks": len(tasks),
        "spark.shuffle_write_mb": sum(st["shuffle_write"] for st in stage_list) / 2**20,
        "spark.shuffle_read_mb": sum(st["shuffle_read"] for st in stage_list) / 2**20,
        "spark.spill_mb": sum(st["spill"] for st in stage_list) / 2**20,
        "spark.gc_s": sum(st["gc_s"] for st in stage_list),
        "spark.task_skew": skew,
        "spark.core_busy_ratio": run_s / max(wall * cores, 1e-9),
    }

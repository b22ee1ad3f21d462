"""Spans around the engine's public calls, and the Spark event-log rollup.

A span records name, start, end, parent and run id. Spans live in memory and
are written out once, when the run ends. While a span is open its Spark jobs
carry the job group ``<run_id>:<span_id>``; jobs started from threads that do
not inherit the group (the engine's concurrent index sinks) are attributed by
time instead: every job and task goes to the innermost span whose interval
holds its submission or launch time. The benchmark is one closed-loop client,
so the intervals never overlap except by nesting.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Records spans; a disabled tracer records nothing and tags no jobs."""

    def __init__(self, run_id: str, sc, enabled: bool = True):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._set_group(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _set_group(self, sid: int, name: str) -> None:
        self.sc.setJobGroup(f"{self.run_id}:{sid}", name)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **(extra or {})}, f)


def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "records_read": 0, "bytes_read": 0}


def rollup_event_log(log_dir: str, spans: list[dict]) -> dict[int, dict]:
    """Per-span totals (self, not inclusive) of jobs, tasks, task run time, GC,
    shuffle bytes written, spill and input read, from the event log(s) in
    ``log_dir``. Call after the SparkContext stopped, so the log is complete."""
    done = [s for s in spans if s["end"] is not None]
    # Innermost-first: a child span starts no earlier and ends no later than
    # its parent, so the latest-starting span that holds a time is innermost.
    done.sort(key=lambda s: s["start"], reverse=True)

    def owner(ms: float):
        t = ms / 1000.0
        for s in done:
            if s["start"] <= t <= s["end"]:
                return s["id"]
        return None

    out: dict[int, dict] = {}
    # Spark writes one directory per application, holding events_* files.
    for path in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = owner(ev["Submission Time"])
                    if sid is not None:
                        out.setdefault(sid, _zero())["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = owner(ev["Task Info"]["Launch Time"])
                    m = ev.get("Task Metrics")
                    if sid is None or not m:
                        continue
                    agg = out.setdefault(sid, _zero())
                    agg["tasks"] += 1
                    agg["run_ms"] += m.get("Executor Run Time", 0)
                    agg["gc_ms"] += m.get("JVM GC Time", 0)
                    agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    agg["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    inp = m.get("Input Metrics", {})
                    agg["records_read"] += inp.get("Records Read", 0)
                    agg["bytes_read"] += inp.get("Bytes Read", 0)
    return out


def inclusive(rollup: dict[int, dict], spans: list[dict], sid: int) -> dict:
    """Totals of span ``sid`` plus all of its descendants."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    tot = _zero()
    todo = [sid]
    while todo:
        cur = todo.pop()
        for k, v in rollup.get(cur, {}).items():
            tot[k] += v
        todo.extend(children.get(cur, []))
    return tot

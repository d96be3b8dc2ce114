"""Spans around the benchmark's own calls, joined with Spark's event log.

A span records name, start, end, parent and pass id. While tracing is
on, entering a span sets the Spark job group to the span's id, so every
job, stage and task in the event log maps back to the innermost span
that launched it. ``layer_table`` folds the event-log task counters into
the spans (inclusive of children) and adds self time: a span's duration
minus the time its child spans cover.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT_GROUP = "-"

# SQL metrics Spark attaches to each Python-evaluating task
_PY_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
}
COUNTERS = ("python_mb_sent", "python_mb_returned", "python_init_s",
            "python_run_s", "shuffle_write_mb", "tasks", "gc_s", "spill_mb")


class Tracer:
    """Span recorder. ``sc=None`` turns it into a no-op, which is how the
    end-to-end runs use it: untraced passes set no job group at all."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.pass_id = None

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"s{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None,
               "pass": self.pass_id, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setJobGroup(ROOT_GROUP, "untraced")
            else:
                self.sc.setJobGroup(parent["id"], parent["name"])


def parse_event_log(log_dir: str) -> dict:
    """→ {job group id: {counter: total}} over every finished task, plus
    the number of shuffle-writing stages per group.

    Reads Spark's JSON event log (uncompressed; rolling or single file)
    and maps each task to the job group of the stage that ran it."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(
                 (".", "appstatus"))]
    stage_group: dict = {}
    shuffle_stages: dict = defaultdict(set)
    out: dict = defaultdict(lambda: defaultdict(float))
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = (
                        (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id", ROOT_GROUP))
                elif kind == "SparkListenerTaskEnd":
                    stage = (ev["Stage ID"], ev["Stage Attempt ID"])
                    group = stage_group.get(stage, ROOT_GROUP)
                    c = out[group]
                    tm = ev.get("Task Metrics") or {}
                    c["tasks"] += 1
                    c["gc_ms"] += tm.get("JVM GC Time", 0)
                    c["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    written = (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    c["shuffle_write_bytes"] += written
                    if written:
                        shuffle_stages[group].add(stage)
                    py = False
                    for acc in (ev.get("Task Info") or {}).get(
                            "Accumulables", []):
                        key = _PY_METRICS.get(acc.get("Name"))
                        if key is not None:
                            c[key] += float(acc.get("Update") or 0)
                            py = True
                    c["python_tasks"] += py
    for group, stages in shuffle_stages.items():
        out[group]["shuffle_stages"] = float(len(stages))
    return out


def _counters(raw: dict) -> dict:
    mb = 1 << 20
    return {"python_mb_sent": raw.get("python_bytes_sent", 0.0) / mb,
            "python_mb_returned": raw.get("python_bytes_returned", 0.0) / mb,
            "python_init_s": raw.get("python_init_ms", 0.0) / 1e3,
            "python_run_s": raw.get("python_run_ms", 0.0) / 1e3,
            "shuffle_write_mb": raw.get("shuffle_write_bytes", 0.0) / mb,
            "tasks": raw.get("tasks", 0.0),
            "gc_s": raw.get("gc_ms", 0.0) / 1e3,
            "spill_mb": raw.get("spill_bytes", 0.0) / mb,
            "python_tasks": raw.get("python_tasks", 0.0)}


def span_counters(spans: list[dict], groups: dict) -> dict:
    """→ {span id: counters}, each span inclusive of its descendants."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["id"])
    memo: dict = {}

    def total(sid):
        if sid not in memo:
            acc = defaultdict(float, groups.get(sid, {}))
            for cid in children[sid]:
                for k, v in total(cid).items():
                    acc[k] += v
            memo[sid] = acc
        return memo[sid]

    return {s["id"]: _counters(total(s["id"])) for s in spans}


def layer_table(spans: list[dict], groups: dict, rows=None) -> list[dict]:
    """One row per span name of ``rows`` (default: all spans): count,
    median duration and self time, and the event-log counters per
    occurrence (inclusive). Self time subtracts every child in ``spans``."""
    child_time = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    counters = span_counters(spans, groups)
    by_name: dict = defaultdict(list)
    for s in spans if rows is None else rows:
        by_name[s["name"]].append(s)
    rows = []
    for name, group in by_name.items():
        n = len(group)
        row = {"span": name, "count": n,
               "wall_s": statistics.median(s["end"] - s["start"]
                                           for s in group),
               "self_s": statistics.median(
                   s["end"] - s["start"] - child_time[s["id"]]
                   for s in group)}
        for k in (*COUNTERS, "python_tasks"):
            row[k] = sum(counters[s["id"]][k] for s in group) / n
        rows.append(row)
    return rows


def format_table(rows: list[dict]) -> str:
    cols = ("count", "wall_s", "self_s", "python_mb_sent",
            "python_mb_returned", "python_init_s", "python_run_s",
            "shuffle_write_mb", "tasks", "gc_s", "spill_mb")
    width = max([len(r["span"]) for r in rows] + [4])
    lines = ["span".ljust(width) + "".join(c.rjust(19) for c in cols)]
    for r in rows:
        lines.append(r["span"].ljust(width) + "".join(
            f"{r[c]:19.4f}" for c in cols))
    return "\n".join(lines)

"""Spans around layer calls, and the Spark event-log roll-up that fills them.

A traced run tags every Spark job with the innermost open span through
``setJobGroup``; after the session stops, :func:`read_event_log` parses
Spark's own (uncompressed) event log and :func:`rollup` attributes jobs,
stages and task metrics back to the spans.  Spans live in memory and are
written once, at the end of the run.

With tracing off, :class:`Tracer` does nothing: no job groups, no clock
reads, and the event log stays disabled.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0

# per-span metrics reported for every layer
LAYER_METRICS = (
    "wall_s",
    "jobs",
    "tasks",
    "exec_run_s",
    "driver_s",
    "shuffle_write_mb",
    "rows_out",
)


class Tracer:
    """In-memory span recorder.  ``span`` nests; ``step`` opens a span that
    stays open until the next ``step`` (or ``end_steps``),
    which is how the stages inside ``run_kg_pipeline`` are delimited: each
    stage's function is called, then its parquet write runs, then the next
    stage's function is called."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._step: dict | None = None

    # -- job-group plumbing ------------------------------------------------
    def _tag(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    def _open(self, name: str, attrs: dict) -> dict:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-span-{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
            "peak_rss_mb": 0.0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        while self._stack and self._stack[-1] is not rec:
            self._close(self._stack[-1])
        if self._stack:
            self._stack.pop()
        self._tag(self._stack[-1] if self._stack else None)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = self._open(name, attrs)
        try:
            yield rec
        finally:
            self._close(rec)

    def step(self, name: str, **attrs) -> dict:
        if not self.enabled:
            return {}
        if self._step is not None and self._step["end"] is None:
            self._close(self._step)
        self._step = self._open(name, attrs)
        return self._step

    def end_steps(self) -> None:
        if self.enabled and self._step is not None and self._step["end"] is None:
            self._close(self._step)
        self._step = None

    def sample_rss(self, mb: float) -> None:
        """Called by the RSS sampler: raise the peak of every open span."""
        for rec in list(self._stack):
            if mb > rec["peak_rss_mb"]:
                rec["peak_rss_mb"] = mb

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_WANTED = (
    b'{"Event":"SparkListenerJobStart"',
    b'{"Event":"SparkListenerTaskEnd"',
)


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files of every application under ``log_dir`` (plain or the
    rolling ``eventlog_v2_*`` directory layout)."""
    out = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            out.extend(sorted(glob.glob(os.path.join(p, "events_*"))))
        elif not p.endswith(".crc"):
            out.append(p)
    return out


def read_event_log(paths: list[str]) -> dict:
    """Parse the job and task events of an uncompressed Spark event log.

    Returns ``{"jobs": {job_id: group}, "stage_job": {stage_id: job_id},
    "tasks": [task dict, ...]}``.  A stage listed by several jobs (a reused
    shuffle) belongs to the first job that lists it — the one that ran it.
    """
    jobs: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in paths:
        with open(path, "rb") as f:
            for raw in f:
                head = raw[:48].replace(b" ", b"")
                if not head.startswith(_WANTED):
                    continue
                ev = json.loads(raw)
                if ev["Event"] == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                else:
                    tm = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "attempt": ev.get("Stage Attempt ID", 0),
                            "run_ms": tm.get("Executor Run Time", 0),
                            "cpu_ns": tm.get("Executor CPU Time", 0),
                            "gc_ms": tm.get("JVM GC Time", 0),
                            "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                            "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "dur_ms": max(
                                (info.get("Finish Time") or 0) - (info.get("Launch Time") or 0), 0
                            ),
                        }
                    )
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}


def _task_skew(stage_tasks: dict[tuple, list[dict]]) -> float:
    """max ÷ median task run time in the stage with the most executor time."""
    if not stage_tasks:
        return 0.0
    longest = max(stage_tasks.values(), key=lambda ts: sum(t["run_ms"] for t in ts))
    runs = [t["run_ms"] for t in longest]
    med = statistics.median(runs)
    return max(runs) / max(med, 1.0)


def group_totals(log: dict, groups: set[str]) -> dict:
    """Totals over every job whose group is in ``groups``."""
    jids = {j for j, g in log["jobs"].items() if g in groups}
    stage_tasks: dict[tuple, list[dict]] = {}
    for t in log["tasks"]:
        if log["stage_job"].get(t["stage"]) in jids:
            stage_tasks.setdefault((t["stage"], t["attempt"]), []).append(t)
    all_t = [t for ts in stage_tasks.values() for t in ts]
    return {
        "jobs": len(jids),
        "stages": len(stage_tasks),
        "tasks": len(all_t),
        "exec_run_s": sum(t["run_ms"] for t in all_t) / 1000.0,
        "exec_cpu_s": sum(t["cpu_ns"] for t in all_t) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in all_t) / 1000.0,
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in all_t) / MB,
        "shuffle_read_mb": sum(t["shuffle_read_b"] for t in all_t) / MB,
        "task_skew": _task_skew(stage_tasks),
    }


def _descendants(spans: list[dict]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out: dict[int, list[int]] = {}

    def walk(i: int) -> list[int]:
        if i not in out:
            acc = [i]
            for k in kids.get(i, []):
                acc.extend(walk(k))
            out[i] = acc
        return out[i]

    for s in spans:
        walk(s["id"])
    return out


def rollup(spans: list[dict], log: dict, cores: int) -> list[dict]:
    """Per-span inclusive metrics: a span's jobs include its child spans'.

    ``driver_s`` is the span's wall time minus its executor run time spread
    over ``cores`` — planning, Py4J, scheduling and driver-side Python —
    floored at 0."""
    desc = _descendants(spans)
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        groups = {by_id[i]["group"] for i in desc[s["id"]]}
        tot = group_totals(log, groups)
        wall = (s["end"] or s["start"]) - s["start"]
        tot["wall_s"] = wall
        tot["driver_s"] = max(wall - tot["exec_run_s"] / cores, 0.0)
        tot["rows_out"] = s.get("rows_out", 0)
        tot["peak_rss_mb"] = s.get("peak_rss_mb", 0.0)
        out.append({"id": s["id"], "name": s["name"], "parent": s["parent"], **tot})
    return out

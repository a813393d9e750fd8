"""Spans around the benchmark's calls into the engine, and the parser that
joins them with Spark's uncompressed event log into per-layer figures.

A span is (id, name, parent, start, end). While tracing, each span sets
its id as the Spark job group, so the jobs it submits carry it. Jobs
that the engine submits from its own threads (the build's parallel
writes) carry no group; they are given to the innermost span open when
they were submitted, and their ``build:<phase>`` description names the
phase.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

PY_RUN = "time to run Python workers"
PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"


class Tracer:
    """Records spans; with a SparkContext, also tags their jobs."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": f"pb-{len(self.spans) + len(self._stack)}-{time.monotonic_ns()}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setJobDescription(None)
            self.spans.append(rec)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Jobs of the one application logged under log_dir, each with its
    times (epoch seconds), group, description and summed task metrics."""
    # rolling logs (Spark's default here) are numbered files in a
    # directory per application; a single log is one file
    rolled = glob.glob(os.path.join(log_dir, "*", "events_*"))
    files = sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1])) or \
        glob.glob(os.path.join(log_dir, "local-*"))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    jobs[jid] = {
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "desc": props.get("spark.job.description"),
                        "tasks": 0, "run_s": 0.0, "shuffle_bytes": 0.0,
                        "bytes_written": 0.0, "py_s": 0.0, "py_in": 0.0, "py_out": 0.0,
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e.get("Stage ID")))
                    if j is None:
                        continue
                    tm = e.get("Task Metrics") or {}
                    j["tasks"] += 1
                    j["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    j["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    j["bytes_written"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        name = a.get("Name")
                        if name == PY_RUN:
                            j["py_s"] += _num(a.get("Update")) / 1000.0
                        elif name == PY_IN:
                            j["py_in"] += _num(a.get("Update"))
                        elif name == PY_OUT:
                            j["py_out"] += _num(a.get("Update"))
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return jobs


def assign_jobs(spans: list[dict], jobs: dict[int, dict]) -> dict[str, list[dict]]:
    """span id -> the jobs it submitted itself (not through a child)."""
    by_id = {s["id"]: s for s in spans}
    depth: dict[str, int] = {}

    def d(s):
        if s["id"] not in depth:
            depth[s["id"]] = 0 if s["parent"] is None else d(by_id[s["parent"]]) + 1
        return depth[s["id"]]

    for s in spans:
        d(s)
    out: dict[str, list[dict]] = {s["id"]: [] for s in spans}
    for j in jobs.values():
        sid = j["group"] if j["group"] in by_id else None
        if sid is None:
            open_at = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
            if not open_at:
                continue
            sid = max(open_at, key=lambda s: depth[s["id"]])["id"]
        out[sid].append(j)
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
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


def span_jobs(span: dict, spans: list[dict], own: dict[str, list[dict]]) -> list[dict]:
    """Jobs of a span and of all its descendants."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    todo, out = [span["id"]], []
    while todo:
        sid = todo.pop()
        out.extend(own.get(sid, []))
        todo.extend(kids.get(sid, []))
    return out


def job_totals(span: dict, jobs: list[dict]) -> dict[str, float]:
    """What one span's jobs did, and the span's time outside any job."""
    wall = span["end"] - span["start"]
    in_jobs = _union([(max(j["start"], span["start"]), min(j["end"], span["end"])) for j in jobs
                      if j["end"] >= span["start"] and j["start"] <= span["end"]])
    return {
        "wall_s": wall,
        "jobs": float(len(jobs)),
        "tasks": float(sum(j["tasks"] for j in jobs)),
        "executor_s": sum(j["run_s"] for j in jobs),
        "python_s": sum(j["py_s"] for j in jobs),
        "python_bytes_in": sum(j["py_in"] for j in jobs),
        "python_bytes_out": sum(j["py_out"] for j in jobs),
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "bytes_written": sum(j["bytes_written"] for j in jobs),
        "driver_s": wall - in_jobs,
    }


def phase_totals(jobs: list[dict], desc: str) -> dict[str, float]:
    """Wall (union of job intervals) and executor time of the jobs whose
    description is `desc`."""
    sel = [j for j in jobs if j["desc"] == desc]
    return {
        "wall_s": _union([(j["start"], j["end"]) for j in sel]),
        "executor_s": sum(j["run_s"] for j in sel),
        "python_s": sum(j["py_s"] for j in sel),
    }


def median_of(rows: list[dict[str, float]], key: str) -> float:
    vals = [r[key] for r in rows]
    return float(statistics.median(vals)) if vals else 0.0

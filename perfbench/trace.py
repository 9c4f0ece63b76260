"""Spans recorded around the benchmark's own calls, and Spark's job and
task accounting read back from a local event log.

Every span gets its own Spark job group, so the event log ties each job
(and its stages and tasks) to the span that launched it. Jobs launched
from threads the package starts carry no group; they go to the innermost
span open when they were submitted. The package module that launched a
job is read from the Python call site Spark records with it, or else is
the layer of the span that launched it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import resource
import statistics
import time
from contextlib import contextmanager

_MODULE_RE = re.compile(r"data_text_search_spark/(.+?)\.py:\d+")
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
MB = 1 << 20


class Tracer:
    """In-memory spans; a disabled tracer records nothing and sets no job
    group, so untraced runs time the program alone."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "layer": layer, "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start_ms": time.time() * 1e3, "end_ms": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1e3
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"pb{rec['id']}", f"{rec['layer']}:{rec['name']}")


def jvm_peak_rss_mb(spark) -> float | None:
    """Peak resident set of the JVM (VmHWM), read from /proc."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return None
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        return None
    return None


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def _read_events(log_dir: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


class EventLog:
    """Jobs and tasks of one application, each job tied to a span."""

    def __init__(self, log_dir: str, spans: list[dict]):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks: dict[int, list[dict]] = {}
        for e in _read_events(log_dir):
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                m = _MODULE_RE.search(props.get("callSite.short", ""))
                self.jobs[e["Job ID"]] = {
                    "submit_ms": e["Submission Time"], "end_ms": None,
                    "group": props.get("spark.jobGroup.id"),
                    "module": m.group(1).replace("/", ".") if m else None,
                    "stages": set(), "tasks": []}
                for sid in e["Stage IDs"]:
                    stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(e["Stage ID"], []).append(_task(e))
        for sid, ts in tasks.items():
            job = self.jobs.get(stage_job.get(sid))
            if job is not None:
                job["stages"].add(sid)
                job["tasks"].extend(ts)
        by_group = {f"pb{s['id']}": s["id"] for s in spans}
        for job in self.jobs.values():
            job["span"] = by_group.get(job["group"])
            if job["span"] is None:
                job["span"] = _innermost(spans, job["submit_ms"])
            if job["module"] is None and job["span"] is not None:
                # no package frame in the call site (SQL writes carry
                # none; collects run from the benchmark's own frame)
                job["module"] = spans[job["span"]]["layer"]

    def totals(self, span_ids: set[int]) -> dict:
        """Job, stage and task accounting of the jobs launched inside
        the given spans."""
        jobs = [j for j in self.jobs.values() if j["span"] in span_ids]
        tasks = [t for j in jobs for t in j["tasks"]]
        floors = [j["end_ms"] - j["submit_ms"] - max(
            (t["dur_ms"] for t in j["tasks"]), default=0)
            for j in jobs if j["end_ms"] is not None]
        by_module: dict[str, int] = {}
        for j in jobs:
            key = j["module"] or "unattributed"
            by_module[key] = by_module.get(key, 0) + 1
        return {
            "jobs": len(jobs),
            "stages": sum(len(j["stages"]) for j in jobs),
            "tasks": len(tasks),
            "job_floor_ms": statistics.fmean(floors) if floors else None,
            **{k: sum(t[k] for t in tasks) for k in
               ("cpu_ms", "gc_ms", "input_bytes", "shuffle_write_bytes",
                "output_bytes", "py_sent_bytes", "py_returned_bytes",
                "py_run_ms")},
            "jobs_by_module": dict(sorted(by_module.items())),
        }


def _task(e: dict) -> dict:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    acc: dict[str, float] = {}
    for a in info.get("Accumulables", []):
        if a.get("Name") in (_PY_SENT, _PY_RETURNED, _PY_RUN):
            acc[a["Name"]] = acc.get(a["Name"], 0) + float(a.get("Update") or 0)
    return {
        "dur_ms": info["Finish Time"] - info["Launch Time"],
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "py_sent_bytes": acc.get(_PY_SENT, 0.0),
        "py_returned_bytes": acc.get(_PY_RETURNED, 0.0),
        "py_run_ms": acc.get(_PY_RUN, 0.0),
    }


def _innermost(spans: list[dict], t_ms: float) -> int | None:
    best = None
    for s in spans:
        if s["start_ms"] <= t_ms <= (s["end_ms"] or float("inf")):
            if best is None or s["start_ms"] >= best["start_ms"]:
                best = s
    return best["id"] if best else None


def descendants(spans: list[dict], roots: set[int]) -> set[int]:
    out = set(roots)
    for s in spans:                       # children follow their parents
        if s["parent"] in out:
            out.add(s["id"])
    return out


def storage_stats(root: str) -> dict:
    """Files, parquet row groups and bytes under an index directory, read
    from the file system and the parquet footers."""
    import pyarrow.parquet as pq

    files = row_groups = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            files += 1
            size += os.path.getsize(path)
            if name.endswith(".parquet"):
                row_groups += pq.ParquetFile(path).metadata.num_row_groups
    return {"files": files, "row_groups": row_groups, "index_bytes": size}

"""Tracing from outside the package: spans around the calls the
benchmark makes into each layer, one Spark job group per call, and a
parser that turns the session's event log into per-layer metrics.

Spans are kept in memory and written when the run ends. A span's self
time is its duration minus the part of it covered by child spans;
``driver.action`` spans are further split into the union of the Spark
job intervals they contain and the driver's idle rest."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, op_id, group: bool = False):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        gid = f"pb:{op_id}:{sid}:{name}" if group else None
        if gid:
            self.sc.setJobGroup(gid, name)
        self._stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            if gid:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {"id": sid, "name": name, "start": t0, "end": t1,
                 "parent": parent, "op": op_id, "group": gid}
            )


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _clip(iv, lo, hi):
    a, b = max(iv[0], lo), min(iv[1], hi)
    return (a, b) if b > a else None


# SQL metric values in the event log are raw: sizes in bytes, "timing"
# in ms, "nsTiming" in ns. Converted to seconds / bytes here.
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.groups: dict[str, list[int]] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_submit: dict[int, float] = {}
        self.tasks: list[dict] = []
        self.metric_type: dict[int, tuple[str, str]] = {}
        self.exec_driver_acc: dict[int, dict[int, float]] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _walk_plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.metric_type[int(m["accumulatorId"])] = (m["name"], m.get("metricType", "sum"))
        for c in node.get("children", []):
            self._walk_plan(c)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {
                "start": e["Submission Time"], "end": None,
                "group": props.get("spark.jobGroup.id"),
                "exec": props.get("spark.sql.execution.id"),
            }
            if self.jobs[jid]["group"]:
                self.groups.setdefault(self.jobs[jid]["group"], []).append(jid)
            for sid in e.get("Stage IDs", []):
                self.stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            self.stage_submit[info["Stage ID"]] = info.get("Submission Time") or 0
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            acc = {}
            for a in info.get("Accumulables", []):
                try:
                    acc[int(a["ID"])] = float(a["Update"])
                except (KeyError, TypeError, ValueError):
                    pass
            self.tasks.append({
                "stage": e["Stage ID"], "launch": info["Launch Time"], "finish": info["Finish Time"],
                "run_ms": tm.get("Executor Run Time", 0), "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0), "spill": tm.get("Disk Bytes Spilled", 0),
                "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                "sw_records": sw.get("Shuffle Records Written", 0),
                "records_read": (tm.get("Input Metrics") or {}).get("Records Read", 0),
                "acc": acc,
            })
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._walk_plan(e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            d = self.exec_driver_acc.setdefault(int(e["executionId"]), {})
            for aid, v in e.get("accumUpdates", []):
                d[int(aid)] = d.get(int(aid), 0.0) + float(v)

    def sql_metric(self, task: dict, name: str) -> float:
        """Sum of a task's updates to SQL metrics called ``name``, in
        seconds for timings, raw otherwise."""
        total = 0.0
        for aid, v in task["acc"].items():
            nm, typ = self.metric_type.get(aid, (None, None))
            if nm == name:
                total += v * _TIME_SCALE.get(typ, 1.0)
        return total

    def jobs_in(self, lo_ms: float, hi_ms: float) -> list[int]:
        return [j for j, d in self.jobs.items() if lo_ms <= d["start"] <= hi_ms]

    def tasks_of(self, jobs) -> list[dict]:
        js = set(jobs)
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in js]

    def records_read(self, lo_s: float, hi_s: float) -> float:
        """Input records read by the jobs submitted between two epoch
        times (seconds)."""
        return float(sum(t["records_read"] for t in self.tasks_of(self.jobs_in(lo_s * 1000.0, hi_s * 1000.0))))

    def driver_metric(self, jobs, name: str) -> float:
        execs = {int(self.jobs[j]["exec"]) for j in jobs if self.jobs[j]["exec"] is not None}
        total = 0.0
        for ex in execs:
            for aid, v in self.exec_driver_acc.get(ex, {}).items():
                if self.metric_type.get(aid, (None,))[0] == name:
                    total += v
        return total

    def job_interval(self, j: int) -> tuple[float, float]:
        d = self.jobs[j]
        return d["start"], d["end"] if d["end"] is not None else d["start"]


def find_event_log(events_dir: str) -> str | None:
    for root, _dirs, files in os.walk(events_dir):
        for fn in sorted(files):
            if not fn.startswith(".") and not fn.endswith(".crc"):
                return os.path.join(root, fn)
    return None


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def event_metrics(log: EventLog, ops: list[dict]) -> dict[str, float]:
    """Spark-stage, driver and UDF-boundary metrics over the timed
    operations (each op: start/end epoch seconds, py_cpu_s)."""
    n = max(1, len(ops))
    job_sets, idle = [], []
    for op in ops:
        lo, hi = op["start"] * 1000.0, op["end"] * 1000.0
        jobs = log.jobs_in(lo, hi)
        job_sets.append(jobs)
        covered = _union_ms([c for c in (_clip(log.job_interval(j), lo, hi) for j in jobs) if c])
        idle.append((hi - lo - covered) / 1000.0)
    all_jobs = [j for js in job_sets for j in js]
    tasks = log.tasks_of(all_jobs)
    waits = [t["launch"] - log.stage_submit.get(t["stage"], t["launch"]) for t in tasks]
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(max(1.0, t["finish"] - t["launch"]))
    skew = [max(d) / statistics.median(d) for d in by_stage.values() if len(d) >= 2]
    py_start = sum(
        log.sql_metric(t, "time to start Python workers")
        + log.sql_metric(t, "time to initialize Python workers")
        for t in tasks
    )
    return {
        "spark.tasks_per_op": len(tasks) / n,
        "spark.executor_run_s_per_op": sum(t["run_ms"] for t in tasks) / 1000.0 / n,
        "spark.executor_cpu_s_per_op": sum(t["cpu_ns"] for t in tasks) / 1e9 / n,
        "spark.task_wait_ms_p50": _median(waits),
        "spark.task_max_over_median": _median(skew, 1.0),
        "spark.shuffle_write_bytes_per_op": sum(t["sw_bytes"] for t in tasks) / n,
        "spark.spill_bytes_per_op": sum(t["spill"] for t in tasks) / n,
        "spark.gc_s_per_op": sum(t["gc_ms"] for t in tasks) / 1000.0 / n,
        "driver.jobs_per_op": len(all_jobs) / n,
        "driver.idle_s_per_op": sum(idle) / n,
        "driver.py_cpu_s_per_op": sum(op["py_cpu_s"] for op in ops) / n,
        "functions.python_worker_start_s_per_op": py_start / n,
        "sources.files_read_per_op": log.driver_metric(all_jobs, "number of files read") / n,
        "_shuffle_records": float(sum(t["sw_records"] for t in tasks)),
    }


def span_metrics(log: EventLog, spans: list[dict], traced_ops: list[dict]) -> dict:
    """Per-call operator metrics, layer self times and the unattributed
    share, from the spans of the traced operations."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    self_s: dict[str, float] = {}
    per_fn: dict[str, dict[str, list[float]]] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        own = dur - _union_ms(kids)
        if s["name"] in ("driver.action", "streaming.wait"):
            lo, hi = s["start"] * 1000.0, s["end"] * 1000.0
            jobs = log.jobs_in(lo, hi)
            busy = _union_ms([c for c in (_clip(log.job_interval(j), lo, hi) for j in jobs) if c]) / 1000.0
            self_s["spark.jobs"] = self_s.get("spark.jobs", 0.0) + min(busy, own)
            self_s["driver.idle"] = self_s.get("driver.idle", 0.0) + max(0.0, own - busy)
        else:
            self_s[s["name"]] = self_s.get(s["name"], 0.0) + own
        if s["name"].startswith("operators.") or s["group"]:
            jobs = log.groups.get(s["group"], []) if s["group"] else log.jobs_in(
                s["start"] * 1000.0, s["end"] * 1000.0)
            tasks = log.tasks_of(jobs)
            d = per_fn.setdefault(s["name"], {"s": [], "jobs": [], "shuffle": []})
            d["s"].append(dur)
            d["jobs"].append(len(jobs))
            d["shuffle"].append(sum(t["sw_bytes"] for t in tasks))

    op_wall = sum(o["end"] - o["start"] for o in traced_ops)
    root_self = self_s.pop("op", 0.0)
    calls = {
        fn: {
            "calls": len(d["s"]),
            "s_per_call": statistics.fmean(d["s"]),
            "jobs_per_call": statistics.fmean(d["jobs"]),
            "shuffle_write_bytes_per_call": statistics.fmean(d["shuffle"]),
        }
        for fn, d in per_fn.items()
    }
    ops_calls = [c for fn, c in calls.items() if fn.startswith("operators.")]
    n_calls = sum(c["calls"] for c in ops_calls)

    def wmean(key):
        return sum(c[key] * c["calls"] for c in ops_calls) / n_calls if n_calls else 0.0

    return {
        "calls": calls,
        "self_s": {k: v for k, v in sorted(self_s.items())},
        "unattributed_s": root_self,
        "op_wall_s": op_wall,
        "operators.s_per_call": wmean("s_per_call"),
        "operators.jobs_per_call": wmean("jobs_per_call"),
        "operators.shuffle_write_bytes_per_call": wmean("shuffle_write_bytes_per_call"),
        "trace.unattributed_frac": root_self / op_wall if op_wall > 0 else 0.0,
    }

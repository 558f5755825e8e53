"""Tracing for the benchmark's per-layer run.

Spans are recorded from the benchmark's own code: for a traced unit
the benchmark rebinds the module and class attributes through which
the experiment engine calls into each layer, and restores them after
the unit. Spark's jobs, stages and task metrics come from the
session's uncompressed event log, parsed here with `json` once the
session has stopped.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from workloads import CORPUS_OPS

_MISSING = object()
LAYER_PROPERTY = "perfbench.layer"


class Tracer:
    """Spans kept in memory: name, start, end, parent span and unit."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)  # next() on a count is atomic
        self._root: int | None = None
        self._unit: str | None = None
        self.roots: dict[str, int] = {}
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the block. Its parent is the innermost
        open span of this thread, or the unit's root span for threads
        the engine started itself (`_drive_async`'s thread pool)."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"id": next(self._ids), "name": name, "parent": stack[-1] if stack else self._root,
               "unit": self._unit, "start": time.time(), **attrs}
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def unit(self, unit_id: str):
        """The root span of one unit."""
        self._unit = unit_id
        with self.span("unit") as rec:
            self._root = self.roots[unit_id] = rec["id"]
            try:
                yield rec
            finally:
                self._root = None
                self._unit = None

    def add(self, name: str, start: float, end: float, unit_id: str) -> None:
        """Record a span measured elsewhere, as a child of a unit's root."""
        with self._lock:
            self.spans.append({"id": next(self._ids), "name": name, "parent": self.roots[unit_id],
                               "unit": unit_id, "start": start, "end": end})

    def wrap(self, owner, attr: str, name: str, annotate=None) -> None:
        """Rebind `owner.attr` to a wrapper that records a span around
        each call; `annotate(span, result)` may add attributes. While the
        call runs, the calling thread's Spark local property
        `perfbench.layer` names the span's layer, so the event log ties
        each job to the layer that submitted it, whatever thread it ran
        on; the job group is left alone."""
        from pyspark import SparkContext

        original = getattr(owner, attr)
        saved = owner.__dict__.get(attr, _MISSING) if hasattr(owner, "__dict__") else _MISSING
        layer = name.split(".")[0]

        @functools.wraps(original)
        def traced(*args, **kwargs):
            sc = SparkContext._active_spark_context
            outer = sc.getLocalProperty(LAYER_PROPERTY)
            sc.setLocalProperty(LAYER_PROPERTY, layer)
            try:
                with self.span(name) as rec:
                    result = original(*args, **kwargs)
                    if annotate is not None:
                        annotate(rec, result)
                    return result
            finally:
                sc.setLocalProperty(LAYER_PROPERTY, outer)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, saved))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, saved = self._restore.pop()
            if saved is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, saved)

    def dump(self, path: str) -> None:
        """Write the spans, each with its self time: its duration minus
        the part of it that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            s["self_s"] = s["end"] - s["start"] - _union_s(children.get(s["id"], []), s["start"], s["end"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f, indent=0)


def _max_trial_s(rec: dict, results) -> None:
    rec["max_trial_s"] = max(((r.get("duration_ms") or 0) for r in results), default=0) / 1000.0


def instrument_engine(tracer: Tracer, optimizer=None) -> None:
    """Rebind the engine's layer entry points for one traced unit."""
    import maggy_spark.experiment as experiment
    import maggy_spark.sources.sinks as sinks
    from maggy_spark.store import ExperimentStore

    tracer.wrap(experiment, "run_trial_wave", "executor.run_trial_wave", _max_trial_s)
    tracer.wrap(experiment, "_aggregate_result", "experiment.aggregate")
    tracer.wrap(sinks, "write_experiment_result", "experiment.persist")
    tracer.wrap(sinks, "write_trial_artifacts", "experiment.persist")
    tracer.wrap(ExperimentStore, "append_trials", "store.append")
    tracer.wrap(ExperimentStore, "append_metrics", "store.append")
    if optimizer is not None:
        tracer.wrap(optimizer, "next_batch", "optimizer.next_batch")
        tracer.wrap(optimizer, "finalize_trial", "optimizer.finalize")


# -- event log -----------------------------------------------------------


def read_event_log(log_root: str) -> dict:
    """Jobs from an uncompressed event log directory (Spark 4 writes
    `eventlog_v2_*/events_<n>_*`; a single-file log works too): each
    job's group, submit/end time (epoch s), the layer that submitted it
    (see `Tracer.wrap`) and the task metrics of the stages it ran."""
    files = [p for p in glob.glob(os.path.join(log_root, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]

    def order(p):
        base = os.path.basename(p)
        parts = base.split("_")
        return (os.path.dirname(p), int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0)

    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in sorted(files, key=order):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "layer": props.get(LAYER_PROPERTY),
                        "stage_ids": list(ev.get("Stage IDs") or []),
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _empty_stage())
                    st["submit"] = (info.get("Submission Time") or 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _empty_stage())
                    _add_task(st, ev.get("Task Info") or {}, ev.get("Task Metrics") or {})
    # a shuffle stage may be listed by several jobs: it belongs to the
    # job that was running when it was submitted
    for job in jobs.values():
        job["stages"] = []
    for sid, st in stages.items():
        owners = [j for j in jobs.values() if sid in j["stage_ids"]]
        running = [j for j in owners if j["submit"] <= st["submit"] <= (j["end"] or float("inf"))]
        owner = (running or owners or [None])[0]
        if owner is not None and st["tasks"]:
            owner["stages"].append(st)
    return jobs


def _empty_stage() -> dict:
    return {"submit": 0.0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "deser_s": 0.0, "gc_s": 0.0,
            "sched_delay_s": 0.0, "shuffle_read": 0, "shuffle_write": 0}


def _add_task(st: dict, info: dict, m: dict) -> None:
    run = m.get("Executor Run Time", 0)
    deser = m.get("Executor Deserialize Time", 0)
    ser = m.get("Result Serialization Time", 0)
    duration = (info.get("Finish Time", 0) or 0) - (info.get("Launch Time", 0) or 0)
    getting = info.get("Getting Result Time", 0) or 0
    read = m.get("Shuffle Read Metrics") or {}
    st["tasks"] += 1
    st["run_s"] += run / 1000.0
    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    st["deser_s"] += deser / 1000.0
    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    # the Spark UI's definition of scheduler delay
    st["sched_delay_s"] += max(0, duration - run - deser - ser - getting) / 1000.0
    st["shuffle_read"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)


def _sum(jobs, key):
    return sum(st[key] for j in jobs for st in j["stages"])


def _union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _driver_gap(wall: float, jobs, lo: float, hi: float) -> float:
    return wall - _union_s([(j["submit"], j["end"] or hi) for j in jobs], lo, hi)


# -- per-layer metrics ----------------------------------------------------


def unit_jobs(jobs: dict, unit_id: str, lo: float, hi: float) -> tuple[list[dict], int]:
    """The jobs submitted inside a unit's timed window [lo, hi]: those in
    its job group, plus group-less ones (`_drive_async`'s pool threads
    do not inherit the caller's job group). The untimed reads of the
    output checks share the group but come after `hi`. Returns (jobs,
    how many of them had no group)."""
    prefix = f"perfbench:{unit_id}"
    mine = []
    ungrouped = 0
    for job in jobs.values():
        group = job["group"]
        if not lo <= job["submit"] <= hi:
            continue
        if group == prefix or (group or "").startswith(prefix + ":"):
            mine.append(job)
        elif group is None:
            mine.append(job)
            ungrouped += 1
    return mine, ungrouped


def unit_layer_metrics(workload: str, unit, unit_id: str, spans: list[dict], jobs: dict, size: dict) -> dict:
    """Every per-layer metric of one traced unit; 0 where the layer does
    not run in this workload."""
    lo, hi = unit.start, unit.end
    mine, ungrouped = unit_jobs(jobs, unit_id, lo, hi)
    own = [s for s in spans if s["unit"] == unit_id]

    def total(name):
        return sum(s["end"] - s["start"] for s in own if s["name"] == name)

    def count(name):
        return sum(1 for s in own if s["name"] == name)

    m = {
        "spark.jobs": len(mine),
        "spark.stages": sum(len(j["stages"]) for j in mine),
        "spark.tasks": _sum(mine, "tasks"),
        "spark.jobs_ungrouped": ungrouped,
    }
    hpo = workload.startswith("hpo_")
    exec_jobs = [j for j in mine if j["layer"] == "executor"]
    calls = [s for s in own if s["name"] == "executor.run_trial_wave"]
    logs = unit.info.get("logs", {}) if hpo else {}
    m.update({
        "experiment.driver_gap_s": _driver_gap(unit.wall, mine, lo, hi) if hpo else 0.0,
        "experiment.first_trial_s": min(r["enter"] for r in logs.values()) - lo if logs else 0.0,
        "experiment.result_tail_s": hi - max(r["exit"] for r in logs.values()) if logs else 0.0,
        "experiment.aggregate_s": total("experiment.aggregate"),
        "experiment.persist_s": total("experiment.persist"),
        "experiment.spark_jobs": len(mine) - len(exec_jobs) if hpo else 0,
        "executor.calls": len(calls),
        "executor.overhead_s": sum(s["end"] - s["start"] - s.get("max_trial_s", 0.0) for s in calls),
        "executor.tasks": _sum(exec_jobs, "tasks"),
        "executor.task_run_s": _sum(exec_jobs, "run_s"),
        "executor.task_cpu_s": _sum(exec_jobs, "cpu_s"),
        "executor.scheduler_delay_s": _sum(exec_jobs, "sched_delay_s"),
        "executor.task_deser_s": _sum(exec_jobs, "deser_s"),
        "optimizer.next_batch_calls": count("optimizer.next_batch"),
        "optimizer.next_batch_s": total("optimizer.next_batch"),
        "optimizer.finalize_s": total("optimizer.finalize"),
        "store.appends": count("store.append"),
        "store.append_s": total("store.append"),
        "store.bytes_written": unit.info.get("store_bytes", 0),
    })
    broadcasts = sum(r["broadcasts"] for r in logs.values())
    planned = len(logs) * size["async_steps"] if workload == "hpo_async_earlystop" else 0
    m.update({
        "reporter.broadcasts": broadcasts,
        "reporter.broadcast_s": sum(r["broadcast_s"] for r in logs.values()),
        "reporter.early_stops": unit.result.get("early_stopped", 0) if hpo else 0,
        "reporter.steps_saved_frac": 1.0 - broadcasts / planned if planned else 0.0,
    })
    calls_by_op = unit.info.get("calls", {})
    for op in CORPUS_OPS:
        op_jobs = [j for j in mine if j["group"] == f"perfbench:{unit_id}:{op}"]
        s, e = calls_by_op.get(op, (0.0, 0.0))
        p = f"functions.{op}."
        m.update({
            p + "s": e - s,
            p + "jobs": len(op_jobs),
            p + "stages": sum(len(j["stages"]) for j in op_jobs),
            p + "tasks": _sum(op_jobs, "tasks"),
            p + "driver_gap_s": _driver_gap(e - s, op_jobs, s, e) if op_jobs else 0.0,
            p + "task_cpu_s": _sum(op_jobs, "cpu_s"),
            p + "shuffle_read_bytes": _sum(op_jobs, "shuffle_read"),
            p + "shuffle_write_bytes": _sum(op_jobs, "shuffle_write"),
            p + "gc_s": _sum(op_jobs, "gc_s"),
        })
    m["_call_s"] = [s["end"] - s["start"] for s in calls]
    return m


def layer_metrics(per_unit: list[dict]) -> dict:
    """Median over traced units of each per-unit metric; the executor
    call percentiles pool the calls of every traced unit."""
    out = {k: statistics.median(u[k] for u in per_unit) for k in per_unit[0] if not k.startswith("_")}
    call_s = sorted(c for u in per_unit for c in u["_call_s"])
    out["executor.call_s_p50"] = statistics.median(call_s) if call_s else 0.0
    out["executor.call_s_p90"] = statistics.quantiles(call_s, n=10)[-1] if len(call_s) > 1 else (call_s or [0.0])[0]
    return out

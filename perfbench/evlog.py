"""Spark event-log parsing: per-op job, stage and task metrics.

Adapted from the job-interval logic of ``tools/profile_gate.py``, extended
to stages and task metrics. Jobs and stages are attributed to an op and a
layer by the ``bench.op`` / ``bench.layer`` local properties the tracer
sets (they ride in the JobStart and StageSubmitted events); a job or stage
without them is attributed to the op and span whose time window holds its
submission time.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


def read_events(log_dir: str, app_id: str) -> "list[dict]":
    """Events of one application (plain or rolling event-log layout)."""
    path = os.path.join(log_dir, app_id)
    if os.path.isfile(path):
        parts = [path]
    else:
        d = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        parts = sorted(os.path.join(d, f) for f in os.listdir(d)
                       if f.startswith("events"))
    events = []
    for p in parts:
        with open(p) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def union_s(intervals: "list[tuple[float, float]]") -> float:
    """Total length of the union of ``[start, end]`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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


@dataclass
class Window:
    """A time window (epoch ms) that jobs may be attributed to."""
    op: int
    layer: "str | None"
    t0: float
    t1: float


@dataclass
class OpStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_intervals: "list[tuple[float, float]]" = field(default_factory=list)
    executor_run_ms: float = 0.0
    executor_cpu_ns: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: layer -> input bytes read by that layer's tasks
    layer_input_bytes: "dict[str, int]" = field(default_factory=dict)
    #: stage id -> executor run time (ms) of each of its tasks
    stage_task_ms: "dict[int, list[float]]" = field(default_factory=dict)


def _attribute(props: dict, t_ms: float, ops: "list[Window]",
               spans: "list[Window]") -> "tuple[int | None, str | None]":
    op = props.get("bench.op")
    if op is not None:
        return int(op), props.get("bench.layer")
    op_id = next((w.op for w in ops if w.t0 <= t_ms <= w.t1), None)
    if op_id is None:
        return None, None
    layer = next((w.layer for w in spans
                  if w.op == op_id and w.t0 <= t_ms <= w.t1), None)
    return op_id, layer


def per_op_stats(events: "list[dict]", ops: "list[Window]",
                 spans: "list[Window]") -> "dict[int, OpStats]":
    """Fold the event stream into one :class:`OpStats` per op window."""
    out = {w.op: OpStats() for w in ops}
    jobs: dict = {}  # job id -> (op, submit ms)
    stages: dict = {}  # stage id -> (op, layer)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            op, _layer = _attribute(ev.get("Properties") or {},
                                    ev["Submission Time"], ops, spans)
            if op in out:
                jobs[ev["Job ID"]] = (op, ev["Submission Time"])
                out[op].jobs += 1
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                out[j[0]].job_intervals.append((j[1], ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            t = info.get("Submission Time") or 0
            op, layer = _attribute(ev.get("Properties") or {}, t, ops, spans)
            if op in out:
                stages[info["Stage ID"]] = (op, layer)
                out[op].stages += 1
        elif kind == "SparkListenerTaskEnd":
            owner = stages.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if owner is None or not m:
                continue
            op, layer = owner
            st = out[op]
            st.tasks += 1
            st.executor_run_ms += m.get("Executor Run Time", 0)
            st.executor_cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            inp = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.input_bytes += inp
            if layer:
                st.layer_input_bytes[layer] = (
                    st.layer_input_bytes.get(layer, 0) + inp)
            st.output_bytes += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
            st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
            st.stage_task_ms.setdefault(ev["Stage ID"], []).append(
                m.get("Executor Run Time", 0))
    return out


def op_metrics(st: OpStats, wall_s: float, cores: int) -> dict:
    """Per-op ``spark.*`` metrics from one :class:`OpStats`."""
    job_s = union_s(st.job_intervals) / 1000.0
    run_s = st.executor_run_ms / 1000.0
    skew = 1.0
    if st.stage_task_ms:
        largest = max(st.stage_task_ms.values(), key=sum)
        med = statistics.median(largest)
        skew = max(largest) / med if med > 0 else 1.0
    return {
        "spark.jobs": st.jobs,
        "spark.stages": st.stages,
        "spark.tasks": st.tasks,
        "spark.job_s": job_s,
        "spark.driver_gap_s": max(0.0, wall_s - job_s),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": st.executor_cpu_ns / 1e9,
        "spark.gc_s": st.gc_ms / 1000.0,
        "spark.core_busy_ratio": (run_s / (job_s * cores)) if job_s > 0 else 0.0,
        "spark.task_skew": skew,
        "spark.input_bytes": st.input_bytes,
        "spark.output_bytes": st.output_bytes,
        "spark.shuffle_read_bytes": st.shuffle_read_bytes,
        "spark.shuffle_write_bytes": st.shuffle_write_bytes,
        "spark.spill_bytes": st.spill_bytes,
    }

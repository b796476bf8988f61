"""Spans around the benchmark's calls into each module, and the parser
that attributes Spark's event log to them.

Every timed operation is one span (layer ``bench``); each call it makes
into a module is a child span named after that layer (``queries``,
``sink``, ``kmeans``, ``engine``, ``sources``).  Ops belong to numbered
halves (``half``: 0 is the first cold half; the caller advances it).  In
a traced run every child span also sets the Spark job description to
``<workload>:<op>:<kind><half>:<layer>``, so the jobs, stages and tasks
in the event log can be charged to the span that started them.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1e6

#: per-description sums read from task-end events
TASK_FIELDS = (
    "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "input_mb", "input_rows", "output_mb", "python_run_s",
    "python_start_s", "python_mb",
)


class Tracer:
    """In-memory span log; ``enabled=False`` keeps only the op records."""

    def __init__(self, workload: str, run_id: str, spark_context, enabled: bool):
        self.workload = workload
        self.run_id = run_id
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.half = 0

    @contextmanager
    def op(self, name: str, kind: str, pass_no: int):
        """Time one operation; an exception is recorded on the op, not raised."""
        rec = {"op": name, "kind": kind, "pass": pass_no, "half": self.half, "layers": {},
               "error": None}
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception as e:  # one failed op must not end the run
            rec["error"] = f"{type(e).__name__}: {e}"[:400]
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if self.enabled:
                self.sc.setJobDescription(None)
                self.spans.append(self._span(op_tag(rec), "bench", rec, None))
            self.ops.append(rec)

    @contextmanager
    def layer(self, rec: dict, layer: str):
        """A call from the op ``rec`` into module ``layer``."""
        if self.enabled:
            self.sc.setJobDescription(description(self.workload, rec, layer))
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["layers"][layer] = rec["layers"].get(layer, 0.0) + time.perf_counter() - t0
            if self.enabled:
                span = {"start": start, "end": time.time()}
                self.spans.append(self._span(layer, layer, span, op_tag(rec)))

    def _span(self, name: str, layer: str, rec: dict, parent: str | None) -> dict:
        return {"name": name, "layer": layer, "start": rec["start"], "end": rec["end"],
                "parent": parent, "run_id": self.run_id}


def op_tag(rec: dict) -> str:
    return f"{rec['op']}:{rec['kind']}{rec['half']}"


def description(workload: str, rec: dict, layer: str) -> str:
    return f"{workload}:{op_tag(rec)}:{layer}"


def _acc(task_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in task_info.get("Accumulables", []):
        try:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a.get("Update") or 0)
        except (KeyError, TypeError, ValueError):
            continue
    return out


def parse_event_log(lines) -> dict[str, dict]:
    """Sum Spark's own counters per job description.

    Returns ``{description: {"jobs", "stages", "intervals", <TASK_FIELDS>}}``
    where ``intervals`` are the (launch, finish) epoch-second pairs of the
    description's tasks.  Jobs without a description are filed under "".
    """
    stage_desc: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "intervals": [], **{f: 0.0 for f in TASK_FIELDS}}
    )
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            out[desc]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            out[stage_desc.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            agg = out[stage_desc.get(e.get("Stage ID"), "")]
            info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
            agg["intervals"].append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            acc = _acc(info)
            agg["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            agg["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            agg["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            agg["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
            agg["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
            agg["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
            agg["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
            agg["python_run_s"] += acc.get("time to run Python workers", 0.0) / 1000.0
            agg["python_start_s"] += acc.get("time to start Python workers", 0.0) / 1000.0
            agg["python_mb"] += (
                acc.get("data sent to Python workers", 0.0)
                + acc.get("data returned from Python workers", 0.0)
            ) / MB
    return dict(out)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] during which at least one interval is open."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def op_layers(workload: str, rec: dict, by_desc: dict[str, dict]) -> dict:
    """Spark counters of one op, per layer span and in total, plus the
    op's idle time (wall time with no task running)."""
    per_layer, total, intervals = {}, defaultdict(float), []
    for layer in rec["layers"]:
        agg = by_desc.get(description(workload, rec, layer))
        if agg is None:
            continue
        per_layer[layer] = {k: v for k, v in agg.items() if k != "intervals"}
        intervals += agg["intervals"]
        for k, v in per_layer[layer].items():
            total[k] += v
    busy = covered(intervals, rec["start"], rec["end"])
    return {"layers": per_layer, "total": dict(total), "idle_s": max(rec["wall_s"] - busy, 0.0)}


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: a span's duration minus what its children cover."""
    child_time: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        own = s["end"] - s["start"]
        if s["parent"] is None:
            own -= child_time.get(s["name"], 0.0)
        out[s["layer"]] += max(own, 0.0)
    return dict(out)

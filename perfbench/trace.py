"""Tracing for the per-layer run: in-memory spans, Spark job groups, an
offline event-log parser and a Spark-free kernel micro-benchmark.

Spans are recorded by the benchmark around its own calls into each layer
(nothing inside sparkkd is instrumented) and kept in memory until the run
ends.  Each op execution is one request: its span and its children (the
call, the action, and the Spark jobs found in the event log) share the op's
span id as their root.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds, to align with event-log timestamps
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []

    def open(self, name: str, parent: Span | None = None, **attrs) -> Span:
        s = Span(len(self.spans), parent.id if parent else None, name, time.time(), attrs=attrs)
        self.spans.append(s)
        return s

    @staticmethod
    def close(span: Span) -> None:
        span.end = time.time()

    def add_jobs(self, ops, jobs: dict) -> None:
        """Child spans for the Spark jobs of each traced op, timed from the
        event log; ops yields (op span, job ids)."""
        for top, job_ids in ops:
            for j in job_ids:
                if j in jobs:
                    js = jobs[j]
                    self.spans.append(Span(len(self.spans), top.id, "spark.job", js.start, js.end,
                                           {"job": j, "stages": js.stages, "tasks": js.tasks}))

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# ------------------------------------------------------------ event log

_KEEP = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"SparkListenerStageSubmitted"',
    '{"Event":"SparkListenerTaskEnd"',
    '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"',
    '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"',
)

_SENT = "data sent to Python workers"
_RETURNED = "data returned from Python workers"


def _python_row_accums(plan: dict, out: set[int]) -> None:
    """Accumulator ids of 'number of output rows' on plan nodes that run
    Python (the nodes carrying the Python data-transfer metrics)."""
    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _RETURNED in names and "number of output rows" in names:
        out.add(names["number of output rows"])
    for child in plan.get("children", []):
        _python_row_accums(child, out)


@dataclass
class JobStats:
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    fetch_wait_s: float = 0.0
    sent_mb: float = 0.0
    returned_mb: float = 0.0
    rows_out: int = 0


def parse_event_log(path: Path) -> dict[int, JobStats]:
    """Per-job stage, task, shuffle and Python-transfer totals."""
    events = []
    with path.open() as fh:
        for line in fh:
            if line.startswith(_KEEP):
                events.append(json.loads(line))
    row_accums: set[int] = set()
    for e in events:
        if "sparkPlanInfo" in e:
            _python_row_accums(e["sparkPlanInfo"], row_accums)
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = JobStats(start=e["Submission Time"] / 1e3)
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            job = jobs.get(stage_job.get(e["Stage Info"]["Stage ID"], -1))
            if job is not None:
                job.stages += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"], -1))
            if job is None:
                continue
            m = e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics", {})
            job.tasks += 1
            job.task_s += m.get("Executor Run Time", 0) / 1e3
            job.gc_s += m.get("JVM GC Time", 0) / 1e3
            job.shuffle_write_mb += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
            job.shuffle_read_mb += (rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0)) / 2**20
            job.fetch_wait_s += rd.get("Fetch Wait Time", 0) / 1e3
            for acc in e["Task Info"].get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name == _SENT:
                    job.sent_mb += float(upd) / 2**20
                elif name == _RETURNED:
                    job.returned_mb += float(upd) / 2**20
                elif acc.get("ID") in row_accums:
                    job.rows_out += int(float(upd))
    return jobs


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def op_layers(op_span: Span, call: Span, action: Span, job_ids, jobs: dict[int, JobStats], cores: int) -> dict:
    """Per-layer figures of one traced op execution."""
    js = [jobs[j] for j in job_ids if j in jobs]
    ivals = [(j.start, j.end) for j in js if j.end]
    in_call = covered(ivals, call.start, call.end)
    in_action = covered(ivals, action.start, action.end)
    task_s = sum(j.task_s for j in js)
    wall = op_span.dur
    return {
        "wall_s": wall,
        "call_s": call.dur,
        "action_s": action.dur,
        "span_cover": (call.dur + action.dur) / wall if wall > 0 else 1.0,
        "self.call_s": call.dur - in_call,
        "self.action_s": action.dur - in_action,
        "spark.job_s": covered(ivals, op_span.start, op_span.end),
        "spark.jobs": len(js),
        "spark.stages": sum(j.stages for j in js),
        "spark.tasks": sum(j.tasks for j in js),
        "spark.task_s": task_s,
        "spark.gc_s": sum(j.gc_s for j in js),
        "spark.shuffle_write_mb": sum(j.shuffle_write_mb for j in js),
        "spark.shuffle_read_mb": sum(j.shuffle_read_mb for j in js),
        "spark.fetch_wait_s": sum(j.fetch_wait_s for j in js),
        "spark.idle_frac": 1.0 - task_s / (wall * cores) if wall > 0 else 0.0,
        "arrow.sent_mb": sum(j.sent_mb for j in js),
        "arrow.returned_mb": sum(j.returned_mb for j in js),
        "arrow.rows_out": sum(j.rows_out for j in js),
    }


# ------------------------------------------------------- kernel, no Spark


def _groups_sample(rng, counts: np.ndarray, n_groups: int) -> np.ndarray:
    """Seeded sample of group positions, weighted by group size so the big
    partitions that dominate kernel time are represented."""
    m = min(n_groups, len(counts))
    return rng.choice(len(counts), size=m, replace=False, p=counts / counts.sum())


def _timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return time.perf_counter() - t0, out


def kernel_rates(rng, groups: list[dict], k: int, radius: float | None = None,
                 compound: dict | None = None) -> dict:
    """Time kernel.build / knn / radius / knn_compound on synthetic point
    groups sized like the index's partitions.  Each group dict has n (points),
    lo/hi (bbox) and q (query rows routed to it).  Returns us-per-unit rates."""
    from sparkkd import kernel

    tot = {"build_s": 0.0, "pts": 0, "knn_s": 0.0, "queries": 0, "radius_s": 0.0, "pairs": 0}
    for g in groups:
        lo, hi = np.asarray(g["lo"], float), np.asarray(g["hi"], float)
        span = np.maximum(hi - lo, 1e-9)
        pts = lo + rng.random((g["n"], len(lo))) * span
        qs = lo + rng.random((max(1, g["q"]), len(lo))) * span
        dt, tree = _timed(kernel.build, pts)
        tot["build_s"] += dt
        tot["pts"] += len(pts)
        if compound is None:
            dt, _ = _timed(kernel.knn, tree, qs, k)
        else:
            rot = rng.normal(size=(len(pts), 4))
            rot /= np.linalg.norm(rot, axis=1, keepdims=True)
            qrot = rng.normal(size=(len(qs), 4))
            qrot /= np.linalg.norm(qrot, axis=1, keepdims=True)
            dt, _ = _timed(
                kernel.knn_compound, tree, qs, qrot, rot, k,
                compound["rot_weight"], compound["trans_weight"],
            )
        tot["knn_s"] += dt
        tot["queries"] += len(qs)
        if radius is not None:
            dt, (qi, _, _) = _timed(kernel.radius, tree, qs, radius)
            tot["radius_s"] += dt
            tot["pairs"] += len(qi)
    out = {
        "build_us_per_pt": 1e6 * tot["build_s"] / max(tot["pts"], 1),
        "query_us_per_query": 1e6 * tot["knn_s"] / max(tot["queries"], 1),
    }
    if radius is not None:
        out["radius_us_per_pair"] = 1e6 * tot["radius_s"] / max(tot["pairs"], 1)
    return out


def partition_groups(rng, counts, lo, hi, n_queries: int, n_groups: int = 48) -> list[dict]:
    """Groups for kernel_rates from an index lineage: sampled partitions with
    their bbox, each receiving its share of n_queries by corpus density."""
    counts = np.asarray(counts, dtype=np.int64)
    keep = counts > 0
    counts, lo, hi = counts[keep], np.asarray(lo)[keep], np.asarray(hi)[keep]
    total = counts.sum()
    return [
        {"n": int(counts[i]), "lo": lo[i], "hi": hi[i],
         "q": int(round(n_queries * counts[i] / total))}
        for i in _groups_sample(rng, counts, n_groups)
    ]

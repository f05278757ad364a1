"""Traced runs: harness spans around the jobs' public calls, and per-layer
metrics read back from Spark's event log.

Spans are recorded by the benchmark's own wrappers, not by the program: the
wrappers replace, for the length of a traced run, the functions the jobs
call (``resolve_snapshot``, ``snapshot_manifest``, ``read_transcripts``,
``append_record``, ``load_manifest`` ...), ``DataFrameWriter.parquet`` and
``Observation.get``.  Each span sets ``SparkContext.setJobDescription`` to
its id while it is open, so every Spark job and SQL execution in the event
log names the span (and so the operation) that caused it.

The event log supplies the rest: per-node SQL metrics (sort and aggregation
time, rows, spill, shuffle bytes, written files) and per-task metrics (CPU,
GC, run intervals).  Operator times are task time summed over parallel
tasks; ``job.driver_gap_s`` is wall time in which no task ran.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import time
from collections import defaultdict

#: node names that only wrap another node
_WRAPPERS = ("WholeStageCodegen", "InputAdapter", "Project", "AQEShuffleRead",
             "ShuffleQueryStage", "ColumnarToRow", "CollectMetrics")


#: every per-layer metric of a traced run, with its unit
LAYER_METRICS = {
    "session.start_s": "s",
    "transcripts.snapshot_s": "s",
    "transcripts.files": "count",
    "transcripts.rows_read": "count",
    "transcripts.mb_read": "MB",
    "transcripts.scan_s": "s",
    "channels.sort_s": "s",
    "channels.sort_peak_mb": "MB",
    "channels.spill_mb": "MB",
    "channels.rows_out": "count",
    "channels.dedup_dropped": "count",
    "features.agg_s": "s",
    "features.agg_rows_out": "count",
    "features.spill_mb": "MB",
    "rollup.merge_s": "s",
    "rollup.points.1m": "count",
    "rollup.points.1h": "count",
    "rollup.points.1d": "count",
    "incremental.delta_rows": "count",
    "incremental.seam_rows": "count",
    "incremental.merge_s": "s",
    "matrix.agg_s": "s",
    "matrix.rows_out": "count",
    "exchange.count": "count",
    "exchange.mb_written": "MB",
    "exchange.records": "count",
    "exchange.write_s": "s",
    "exchange.fetch_wait_s": "s",
    "exchange.skew": "ratio",
    "rollup_job.stage_s": "s",
    "rollup_job.ranges": "count",
    "rollup_job.ranges_s": "s",
    "rollup_job.range_s_max": "s",
    "job.wall_s": "s",
    "job.actions": "count",
    "job.spark_jobs": "count",
    "job.tasks": "count",
    "job.cpu_s": "s",
    "job.gc_s": "s",
    "job.driver_gap_s": "s",
    "job.busy_frac": "fraction",
    "job.peak_rss_mb": "MB",
    "write.calls": "count",
    "write.files": "count",
    "write.mb": "MB",
    "write.s": "s",
    "write.commit_s": "s",
    "checkpoints.appends": "count",
    "checkpoints.append_s": "s",
    "checkpoints.load_s": "s",
    "reconcile.layers_s": "s",
    "reconcile.gap_in_writes_s": "s",
    "reconcile.gap_between_writes_s": "s",
    "reconcile.unexplained_s": "s",
    "reconcile.unexplained_frac": "fraction",
    "error_rate": "fraction",
}

#: the host-invariant ones: work done, which two runs of one seed must
#: report exactly equal (a wall-time change with these unchanged is noise)
WORK_COUNTS = [k for k, u in LAYER_METRICS.items()
               if (u == "count" or k in ("transcripts.mb_read", "exchange.mb_written", "write.mb",
                                         "channels.spill_mb", "features.spill_mb", "exchange.skew"))]


class Span:
    __slots__ = ("id", "name", "op", "parent", "start", "end", "attrs")

    def __init__(self, sid, name, op, parent, attrs):
        self.id, self.name, self.op, self.parent, self.attrs = sid, name, op, parent, attrs
        self.start = time.time()
        self.end = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Wraps the jobs' calls while installed; one root span per operation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple] = []

    # -- spans ---------------------------------------------------------
    def _open(self, name: str, **attrs) -> Span:
        parent = self._stack[-1] if self._stack else None
        op = parent.op if parent else len(self.ops)
        s = Span(f"pb:{op}:{len(self.spans)}", name, op, parent.id if parent else None, attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(s.id)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()
        self.sc.setJobDescription(self._stack[-1].id if self._stack else None)

    def op_begin(self, workload: str) -> Span:
        s = self._open("op", workload=workload)
        self.ops.append(s)
        return s

    def op_end(self, s: Span) -> None:
        self._close(s)

    # -- wrappers ------------------------------------------------------
    def _wrap(self, fn, name, attrs_of=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer._stack:
                return fn(*args, **kwargs)
            s = tracer._open(name, **(attrs_of(*args, **kwargs) if attrs_of else {}))
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(s)

        return wrapper

    def _patch(self, owner, attr, name, attrs_of=None) -> None:
        orig = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr, None)
        if orig is None:
            return  # the program no longer has this entry point
        if isinstance(orig, property):
            new = property(self._wrap(orig.fget, name, attrs_of))
        else:
            new = self._wrap(orig, name, attrs_of)
        setattr(owner, attr, new)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from pyspark.sql import Observation
        from pyspark.sql.readwriter import DataFrameWriter

        from jobs import features, rollup

        for mod in (rollup, features):
            for fn in ("resolve_snapshot", "snapshot_manifest", "read_transcripts",
                       "read_transcripts_delta"):
                self._patch(mod, fn, f"transcripts.{fn}")
        self._patch(rollup, "append_record", "checkpoints.append",
                    lambda *a, **k: {"rows_in": a[3], "wall_s": a[5]})
        self._patch(rollup, "load_manifest", "checkpoints.load")
        self._patch(rollup, "_build_stage", "rollup_job.stage")
        self._patch(rollup, "_build_stage_incremental", "rollup_job.stage")
        self._patch(DataFrameWriter, "parquet", "write",
                    lambda self_, path, *a, **k: {"path": str(path)})
        self._patch(Observation, "get", "observation.get")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


# -- event log ---------------------------------------------------------
def _base(node) -> str:
    return node["nodeName"].split(" (")[0].strip()


def _unwrap_down(node):
    """First descendant (or self) that is not a pure wrapper."""
    while node["children"] and _base(node).startswith(_WRAPPERS) and len(node["children"]) == 1:
        node = node["children"][0]
    return node


def _frontier(node, name):
    """Every node called ``name`` below ``node`` with no other in between."""
    if _base(node) == name:
        return [node]
    return [hit for c in node["children"] for hit in _frontier(c, name)]


def _first(node, names):
    """Pre-order search for the first node whose base name is in ``names``."""
    if _base(node) in names:
        return node
    for c in node["children"]:
        hit = _first(c, names)
        if hit is not None:
            return hit
    return None


class _Plan:
    """Accumulator id -> (layer, metric) for every plan version of one SQL
    execution, classified by the role of the span that ran it."""

    def __init__(self, role: str, input_loc: str):
        self.role, self.input_loc = role, input_loc

    def classify(self, root, acc: dict, links: list) -> None:
        self._walk(root, None, acc, links)

    def _walk(self, node, parent, acc, links):
        name, role = _base(node), self.role
        layer = None
        metrics = {m["name"]: m for m in node["metrics"]}
        if name == "Scan parquet" and self.input_loc in node.get("metadata", {}).get("Location", ""):
            layer = "transcripts"
        elif name in ("Sort", "Window") and (name == "Window" or (parent and _base(parent) == "Window")):
            layer = "rollup" if role == "tier" else "channels"
        elif name == "HashAggregate":
            if role == "matrix":
                layer = "matrix"
            elif role == "tier":
                layer = "rollup"
            elif role == "stage":
                hit = _first(node, ("Generate", "Union"))
                layer = "features" if hit is not None and _base(hit) == "Generate" else "incremental"
            if layer and "partial_" not in node["simpleString"]:
                metrics = dict(metrics)
                # rows out of the final (not the partial) aggregate only
                metrics["agg rows out"] = metrics.get("number of output rows")
            metrics.pop("number of output rows", None)
        elif name == "Filter":
            below = _unwrap_down(node["children"][0]) if node["children"] else None
            if below is not None and _base(below) == "Window":
                # dedup: the filter over the lag(turn_idx) window
                layer = "dedup"
                for exch in _frontier(below, "Exchange"):
                    links.extend(m["accumulatorId"] for m in exch["metrics"]
                                 if m["name"] == "records read")
            elif below is not None and _base(below) == "Generate":
                layer = "channels_out"
        elif name == "Exchange":
            layer = "exchange"
        elif name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
            layer = "write"
        if layer:
            for mname, m in metrics.items():
                if m is not None:
                    acc[m["accumulatorId"]] = (layer, mname, m["metricType"])
        for c in node["children"]:
            # a wrapper keeps the real parent for the Sort-under-Window test
            self._walk(c, parent if name.startswith(_WRAPPERS) else node, acc, links)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _op_of(desc) -> tuple[int, int] | None:
    """(operation, span) of a harness span id, or None."""
    m = re.match(r"pb:(\d+):(\d+)$", desc or "")
    return (int(m.group(1)), int(m.group(2))) if m else None


def read_event_log(path: str, tracer: Tracer, input_dir: str) -> list[dict]:
    """Per-operation layer metrics from one event log file."""
    spans = {s.id: s for s in tracer.spans}
    input_loc = "file:" + os.path.realpath(input_dir)

    def role_of(desc: str) -> str:
        s = spans.get(desc)
        if s is None:
            return "op"
        path = s.attrs.get("path", "")
        if s.name != "write":
            return "op"
        if tracer.ops[s.op].attrs.get("workload") == "matrix":
            return "matrix"
        return "stage" if "_stage" in path else "tier"

    acc_meta: dict[int, tuple] = {}
    acc_exec: dict[int, int] = {}
    exec_desc: dict[int, str] = {}
    dedup_in: dict[int, set] = defaultdict(set)
    acc_sum: dict[int, int] = defaultdict(int)
    acc_max: dict[int, int] = defaultdict(int)
    stage_job: dict[int, int] = {}
    job_desc: dict[int, str] = {}
    ops = [defaultdict(float) for _ in tracer.ops]
    intervals = [[] for _ in tracer.ops]
    map_stages = [set() for _ in tracer.ops]
    stage_reads: dict[int, list] = defaultdict(list)
    stage_op: dict[int, int] = {}

    def plan(ev, exec_id):
        desc = exec_desc.get(exec_id)
        if _op_of(desc) is None:
            return
        acc, links = {}, []
        _Plan(role_of(desc), input_loc).classify(ev["sparkPlanInfo"], acc, links)
        for a, meta in acc.items():
            acc_meta[a] = meta
            acc_exec[a] = exec_id
        dedup_in[exec_id].update(links)

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart"):
                exec_desc[ev["executionId"]] = ev.get("description")
                plan(ev, ev["executionId"])
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                plan(ev, ev["executionId"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for a, v in ev["accumUpdates"]:
                    acc_sum[a] += int(v)
            elif kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                job_desc[ev["Job ID"]] = desc
                for st in ev["Stage IDs"]:
                    stage_job[st] = ev["Job ID"]
                hit = _op_of(desc)
                if hit is not None:
                    ops[hit[0]]["job.spark_jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                hit = _op_of(job_desc.get(stage_job.get(ev["Stage ID"])))
                for a in ev["Task Info"].get("Accumulables", []):
                    if a.get("Metadata") == "sql":
                        v = int(a["Update"])
                        acc_sum[a["ID"]] += v
                        acc_max[a["ID"]] = max(acc_max[a["ID"]], v)
                if hit is None:
                    continue
                o, info, tm = hit[0], ev["Task Info"], ev.get("Task Metrics") or {}
                m = ops[o]
                m["job.tasks"] += 1
                m["job.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["job.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["job.task_s"] += tm.get("Executor Run Time", 0) / 1e3
                intervals[o].append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
                if ev.get("Task Type") == "ShuffleMapTask":
                    map_stages[o].add(ev["Stage ID"])
                rd = tm.get("Shuffle Read Metrics") or {}
                nbytes = rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0)
                if nbytes:
                    stage_reads[ev["Stage ID"]].append(nbytes)
                    stage_op[ev["Stage ID"]] = o

    # SQL metrics -> per-operation layer sums
    per_exec_op = {e: _op_of(d) for e, d in exec_desc.items()}
    for a, (layer, mname, mtype) in acc_meta.items():
        hit = per_exec_op.get(acc_exec[a])
        if hit is None:
            continue
        v = acc_sum.get(a, 0)
        if mtype == "timing":
            v /= 1e3
        elif mtype == "nsTiming":
            v /= 1e9
        m = ops[hit[0]]
        key = f"{layer}|{mname}"
        if mname == "peak memory":
            m[key] = max(m[key], acc_max.get(a, 0))
        else:
            m[key] += v
        if a in dedup_in[acc_exec[a]]:
            m["dedup|in"] += acc_sum.get(a, 0)
        if layer == "write" and mname == "number of output rows":
            s = spans.get(exec_desc[acc_exec[a]])
            t = re.search(r"tier=([^/]+)", s.attrs.get("path", "")) if s else None
            if t and role_of(s.id) == "tier":
                m[f"points|{t.group(1)}"] += acc_sum.get(a, 0)
    for st, reads in stage_reads.items():
        o = stage_op[st]
        total = sum(reads)
        if total > ops[o]["skew|bytes"]:
            ops[o]["skew|bytes"] = total
            ops[o]["skew|ratio"] = max(reads) / statistics.median(reads)
    sql_execs = defaultdict(int)
    for e, hit in per_exec_op.items():
        if hit is not None:
            sql_execs[hit[0]] += 1

    out = []
    for o, op_span in enumerate(tracer.ops):
        m = ops[o]
        spans_o = [s for s in tracer.spans if s.op == o and s is not op_span]
        wall = op_span.dur
        busy = _union_s([(max(a, op_span.start), min(b, op_span.end)) for a, b in intervals[o]
                         if b > op_span.start and a < op_span.end])

        def span_s(prefix):
            return sum(s.dur for s in spans_o if s.name.startswith(prefix))

        appends = [s for s in spans_o if s.name == "checkpoints.append"]
        workload = op_span.attrs["workload"]
        mb = 1 / 2**20
        r = {
            "job.wall_s": wall,
            "transcripts.snapshot_s": span_s("transcripts."),
            "transcripts.files": m["transcripts|number of files read"],
            "transcripts.rows_read": m["transcripts|number of output rows"],
            "transcripts.mb_read": m["transcripts|size of files read"] * mb,
            "transcripts.scan_s": m["transcripts|scan time"],
            "channels.sort_s": m["channels|sort time"],
            "channels.sort_peak_mb": m["channels|peak memory"] * mb,
            "channels.spill_mb": m["channels|spill size"] * mb,
            "channels.rows_out": m["channels_out|number of output rows"],
            "channels.dedup_dropped": m["dedup|in"] - m["dedup|number of output rows"],
            "features.agg_s": m["features|time in aggregation build"],
            "features.agg_rows_out": m["features|agg rows out"],
            "features.spill_mb": m["features|spill size"] * mb,
            "rollup.merge_s": m["rollup|time in aggregation build"] + m["rollup|sort time"],
            "rollup.points.1m": m["points|1m"],
            "rollup.points.1h": m["points|1h"],
            "rollup.points.1d": m["points|1d"],
            "incremental.delta_rows": 0.0,
            "incremental.seam_rows": 0.0,
            "incremental.merge_s": m["incremental|time in aggregation build"],
            "matrix.agg_s": m["matrix|time in aggregation build"],
            "matrix.rows_out": m["matrix|agg rows out"],
            "exchange.count": len(map_stages[o]),
            "exchange.mb_written": m["exchange|shuffle bytes written"] * mb,
            "exchange.records": m["exchange|shuffle records written"],
            "exchange.write_s": m["exchange|shuffle write time"],
            "exchange.fetch_wait_s": m["exchange|fetch wait time"],
            "exchange.skew": m["skew|ratio"],
            "rollup_job.stage_s": span_s("rollup_job.stage"),
            "rollup_job.ranges": len(appends),
            "rollup_job.ranges_s": sum(s.attrs["wall_s"] for s in appends),
            "rollup_job.range_s_max": max((s.attrs["wall_s"] for s in appends), default=0.0),
            "job.actions": sql_execs[o],
            "job.spark_jobs": m["job.spark_jobs"],
            "job.tasks": m["job.tasks"],
            "job.cpu_s": m["job.cpu_s"],
            "job.gc_s": m["job.gc_s"],
            "job.driver_gap_s": wall - busy,
            "job.busy_frac": busy / wall if wall else 0.0,
            "write.calls": sum(1 for s in spans_o if s.name == "write"),
            "write.files": m["write|number of written files"],
            "write.mb": m["write|written output"] * mb,
            "write.s": span_s("write"),
            "write.commit_s": m["write|job commit time"] + m["write|task commit time"],
            "checkpoints.appends": len(appends),
            "checkpoints.append_s": span_s("checkpoints.append"),
            "checkpoints.load_s": span_s("checkpoints.load"),
        }
        if workload == "refresh":
            delta = sum(s.attrs["rows_in"] for s in appends)
            r["incremental.delta_rows"] = delta
            r["incremental.seam_rows"] = max(0.0, m["dedup|in"] - delta)
        writes = [w for w in spans_o if w.name == "write"]
        gap_in_writes = sum(
            w.dur - _union_s([(max(a, w.start), min(b, w.end)) for a, b in intervals[o]
                              if b > w.start and a < w.end])
            for w in writes)
        r.update(_reconcile(r, m, busy, gap_in_writes))
        out.append(r)
    return out


def _reconcile(r: dict, m: dict, busy: float, gap_in_writes: float) -> dict:
    """Account for the operation's wall: driver gap plus busy time, and the
    busy time shared among the layers in proportion to their summed task
    time.  Task time that no layer's SQL timer covers (window evaluation,
    projection, parquet encoding) is reported as unexplained."""
    task_layers = (r["transcripts.scan_s"] + r["channels.sort_s"] + r["features.agg_s"]
                   + r["rollup.merge_s"] + r["incremental.merge_s"] + r["matrix.agg_s"]
                   + r["exchange.write_s"] + r["exchange.fetch_wait_s"]
                   + m["write|task commit time"])
    task_s = m["job.task_s"]
    covered = min(task_layers / task_s, 1.0) if task_s else 0.0
    wall = r["job.wall_s"]
    return {
        "reconcile.layers_s": busy * covered,
        "reconcile.gap_in_writes_s": gap_in_writes,
        "reconcile.gap_between_writes_s": r["job.driver_gap_s"] - gap_in_writes,
        "reconcile.unexplained_s": busy * (1.0 - covered),
        "reconcile.unexplained_frac": busy * (1.0 - covered) / wall if wall else 0.0,
    }

"""Traced runs: call spans, job tags, and the event-log parser that folds
Spark's own metrics into the per-layer numbers.

A traced run turns on Spark's event log (uncompressed, rolling
``eventlog_v2_*`` directory). ``Tracer`` records a wall-clock span and sets
the Spark job description for every timed call and for the eager engine
calls inside ``jobs`` (``lineage.run_unit``, ``LineageLog.record``,
``LineageLog.completed_units``, ``rollup.publish_cascade_wide``).
``per_layer`` then credits

* wall time: each millisecond of a timed call goes to the SQL executions
  running then (split evenly when several overlap), each execution to the
  module owning the table it writes (``tier_1m_wide`` is the 1m rollup,
  ``filled_1m`` gap-fill, ``chunks`` encode, ...) or to the eager call it
  runs in; a millisecond with no execution running goes to the innermost
  eager call, else to the driver;
* work: per-node SQL metrics (shuffle bytes, aggregation build time,
  Python worker time, rows and files written) and per-task metrics (run,
  CPU and GC time), grouped by the same owners.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from pathlib import Path

import numpy as np

ENTRIES = [
    "ts_tier_1d_cascade", "ts_tier_1h_quantiles", "ts_ohlc_1d_cascade",
    "ts_m4_downsample", "ts_tier_merge_late", "ts_hll_distinct",
    "ts_chunk_compact", "ts_chunk_range_read", "ts_gapfill_linear",
]
ROLLUP_ENTRIES = {f"entry_queries.{e}" for e in ENTRIES[:5]}
CHUNK_ENTRIES = {"entry_queries.ts_chunk_compact", "entry_queries.ts_chunk_range_read"}
SERIES_CALLS = [
    "temporal.kalman_filter", "temporal.holt_linear",
    "rolling.lttb_downsample", "chunked.kalman_filter_chunked",
]

# every per-layer metric, in BENCHMARK.json order; a layer that a workload
# bypasses reads 0 there
PER_LAYER = {
    "session.start_s": "s",
    "session.python_s": "s",
    "session.python_bytes": "bytes",
    "session.max_task_s": "s",
    "session.gc_s": "s",
    "session.cpu_s": "s",
    "session.driver_peak_rss_mb": "MB",
    "session.python_worker_peak_rss_mb": "MB",
    "jobs.spark_jobs": "count",
    "jobs.input_bytes_read": "bytes",
    "jobs.input_read_ratio": "ratio",
    "jobs.bookkeeping_s": "s",
    "jobs.driver_s": "s",
    "jobs.resume_s": "s",
    "features.window_s": "s",
    "features.shuffle_bytes": "bytes",
    "rollup.tier1m_s": "s",
    "rollup.publish_s": "s",
    "rollup.agg_s": "s",
    "rollup.shuffle_bytes": "bytes",
    "rollup.spill_bytes": "bytes",
    "gapfill.s": "s",
    "gapfill.rows_out": "count",
    "gapfill.shuffle_bytes": "bytes",
    "chunks.encode_s": "s",
    "chunks.encode_python_s": "s",
    "chunks.compact_s": "s",
    "chunks.compact_python_s": "s",
    "chunks.compaction_points_per_s": "points/s",
    "chunks.range_read_s": "s",
    "chunks.range_read_ratio": "ratio",
    "chunks.range_files_read": "count",
    "chunks.python_s": "s",
    "codec.ts_bytes_per_point": "bytes/point",
    "codec.val_bytes_per_point": "bytes/point",
    "codec.stored_bytes_per_turn": "bytes/turn",
    "lineage.s": "s",
    "lineage.spark_jobs": "count",
    "lineage.files_written": "count",
} | {f"{c}_s": "s" for c in SERIES_CALLS} | {
    "chunked.spark_jobs": "count",
} | {f"entry_queries.{e}_s": "s" for e in ENTRIES} | {
    "entry_queries.sweep_s": "s",
}

# eager engine calls wrapped in a traced run: (module, attribute path)
WRAPPED = [
    ("tsengine.lineage", "run_unit"),
    ("tsengine.lineage", "LineageLog.record"),
    ("tsengine.lineage", "LineageLog.completed_units"),
    ("tsengine.rollup", "publish_cascade_wide"),
]
# output table -> owning layer
TABLE_OWNER = {
    "tier_1m_wide": "rollup.tier1m",
    "tier_1m": "rollup.publish",
    "tier_1h_wide": "rollup.publish",
    "tier_1h": "rollup.publish",
    "tier_1d": "rollup.publish",
    "filled_1m": "gapfill",
    "chunks": "chunks.encode",
    "chunks_7d": "chunks.compact",
    "_lineage": "lineage",
}
SPAN_OWNER = {
    "lineage.record": "lineage",
    "lineage.completed_units": "lineage",
    "rollup.publish_cascade_wide": "rollup.publish",
    "chunks.decode_range": "chunks.range",
}
PYTHON_TIME = "time to run Python workers"


class Tracer:
    """Wall-clock spans (epoch ms, the event log's clock) for the timed
    calls and the wrapped eager calls, with Spark job descriptions set to
    the innermost span's name."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, int, float, float]] = []  # name, depth, t0, t1
        self._stack: list[tuple[str, float]] = []
        self._saved: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> None:
        self._stack.append((name, time.time() * 1000))
        self.sc.setJobDescription(name)

    def end(self, name: str) -> None:
        top, t0 = self._stack.pop()
        self.spans.append((top, len(self._stack), t0, time.time() * 1000))
        self.sc.setJobDescription(self._stack[-1][0] if self._stack else None)

    def install(self) -> None:
        import importlib

        for mod_name, attr in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, leaf)
            span = f"{mod_name.split('.')[1]}.{leaf}"
            setattr(owner, leaf, self._wrap(span, orig))
            self._saved.append((owner, leaf, orig))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)

    def _wrap(self, span: str, fn):
        def wrapped(*args, **kwargs):
            self.begin(span)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)

        return wrapped

    def peak_rss_mb(self, spark) -> tuple[float, float]:
        """VmHWM of the driver JVM and the largest VmHWM among the Python
        workers still alive under it (Spark reuses workers)."""
        jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        workers = []
        todo = [jvm]
        while todo:
            pid = todo.pop()
            try:
                children = [int(c) for t in Path(f"/proc/{pid}/task").glob("*/children")
                            for c in t.read_text().split()]
                if pid != jvm and b"python" in Path(f"/proc/{pid}/cmdline").read_bytes():
                    workers.append(pid)
            except OSError:  # the process exited meanwhile
                continue
            todo += children
        return _hwm_mb(jvm), max((_hwm_mb(p) for p in workers), default=0.0)


def _hwm_mb(pid: int) -> float:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    except OSError:  # the worker exited meanwhile
        pass
    return 0.0


def _walk(node, out):
    out.append(node)
    for child in node.get("children", []):
        _walk(child, out)


class Log:
    """The parts of one application's event log the metrics need."""

    def __init__(self, files):
        self.execs: dict[int, dict] = {}
        self.acc: dict[int, tuple[int, str, str, str, str]] = {}  # id -> exec, node, simple, metric, type
        self.acc_val: dict[int, float] = defaultdict(float)
        self.jobs: list[tuple[float, int | None]] = []  # submission ms, execution
        self.stage_exec: dict[int, int | None] = {}
        self.stages: dict[int, dict] = {}
        for f in files:
            with open(f) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _plan(self, xid: int, info) -> None:
        nodes = []
        _walk(info, nodes)
        ex = self.execs[xid]
        for n in nodes:
            simple = n.get("simpleString", "")
            if n["nodeName"].startswith("Execute InsertIntoHadoopFsRelationCommand"):
                m = re.search(r"InsertIntoHadoopFsRelationCommand (?:file:)?([^,\s]+)", simple)
                if m:
                    ex["out"] = m.group(1)
            loc = n.get("metadata", {}).get("Location", "")
            ex["scans"].update(re.findall(r"file:([^,\]\s]+)", loc))
            for m in n["metrics"]:
                self.acc[m["accumulatorId"]] = (
                    xid, n["nodeName"], simple, m["name"], m["metricType"])

    def _event(self, e) -> None:
        ev = e["Event"]
        if ev.endswith("SQLExecutionStart"):
            self.execs[e["executionId"]] = {
                "start": e["time"], "end": e["time"], "out": None, "scans": set()}
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif ev.endswith("SQLExecutionEnd"):
            self.execs[e["executionId"]]["end"] = e["time"]
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in e["accumUpdates"]:
                self.acc_val[aid] += float(val)
        elif ev == "SparkListenerJobStart":
            xid = e.get("Properties", {}).get("spark.sql.execution.id")
            xid = int(xid) if xid is not None else None
            self.jobs.append((e["Submission Time"], xid))
            for sid in e["Stage IDs"]:
                self.stage_exec[sid] = xid
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st["scopes"] = {
                json.loads(r["Scope"])["name"] for r in info["RDD Info"] if r.get("Scope")}
        elif ev == "SparkListenerTaskEnd":
            info, met = e["Task Info"], e.get("Task Metrics") or {}
            if info.get("Failed") or info.get("Killed"):
                return
            for a in info.get("Accumulables", []):
                if isinstance(a.get("Update"), (int, float, str)) and a.get("Metadata") == "sql":
                    self.acc_val[a["ID"]] += float(a["Update"])
            st = self._stage(e["Stage ID"])
            st["run_ms"] += met.get("Executor Run Time", 0)
            st["cpu_ns"] += met.get("Executor CPU Time", 0)
            st["gc_ms"] += met.get("JVM GC Time", 0)
            st["input_bytes"] += met.get("Input Metrics", {}).get("Bytes Read", 0)
            st["max_task_ms"] = max(st["max_task_ms"], info["Finish Time"] - info["Launch Time"])

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "scopes": set(), "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "input_bytes": 0, "max_task_ms": 0})

    def metric(self, owners: set[str], owner_of: dict, node=None, name=None,
               simple_has=None, simple_lacks=None) -> float:
        """Sum of one SQL metric over the nodes of executions in ``owners``;
        timings come back in seconds."""
        tot = 0.0
        for aid, (xid, nname, simple, mname, mtype) in self.acc.items():
            if owner_of.get(xid) not in owners or (name and mname != name):
                continue
            if node and not nname.startswith(node):
                continue
            if simple_has and simple_has not in simple:
                continue
            if simple_lacks and simple_lacks in simple:
                continue
            v = self.acc_val.get(aid, 0.0)
            tot += v / 1000 if mtype == "timing" else v / 1e9 if mtype == "nsTiming" else v
        return tot


def _innermost(spans, t: float):
    best = None
    for name, depth, t0, t1 in spans:
        if t0 <= t < t1 and (best is None or depth > best[1]):
            best = (name, depth)
    return best[0] if best else None


def per_layer(tracer: Tracer, logdir: Path, session_s: float, b, rss) -> dict:
    files = sorted(Path(logdir).glob("*/events_*"),
                   key=lambda p: int(p.name.split("_")[1]))
    log = Log(files)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    m["session.driver_peak_rss_mb"], m["session.python_worker_peak_rss_mb"] = rss
    spans = tracer.spans
    top = [s for s in spans if s[1] == 0]

    # owner of every SQL execution
    owner_of: dict[int, str] = {}
    for xid, ex in log.execs.items():
        span = _innermost(spans, ex["start"])
        if span is None:
            continue  # outside the timed calls (session start)
        table = None
        if ex["out"]:
            parts = Path(ex["out"]).parts
            table = next((p for p in reversed(parts) if p in TABLE_OWNER), None)
        if span in SPAN_OWNER:
            owner_of[xid] = SPAN_OWNER[span]
        elif span.startswith(("jobs.", "lineage.run_unit")):
            owner_of[xid] = TABLE_OWNER[table] if table else "jobs.bookkeeping"
        else:
            owner_of[xid] = span

    # wall time: every millisecond of every timed call, once
    wall: dict[str, float] = defaultdict(float)
    for name, _, t0, t1 in top:
        grid = np.arange(int(t0), int(t1)) + 0.5
        active = np.zeros(len(grid))
        masks = []
        for xid, ex in log.execs.items():
            if xid in owner_of and ex["end"] > t0 and ex["start"] < t1:
                mask = (grid >= ex["start"]) & (grid < ex["end"])
                active += mask
                masks.append((owner_of[xid], mask))
        share = np.divide(1.0, active, out=np.zeros_like(active), where=active > 0)
        for owner, mask in masks:
            wall[owner] += float((share * mask).sum()) / 1000
        # idle milliseconds go to the innermost span open at the time
        inner = np.full(len(grid), -1)
        inside = [s for s in spans if s[2] < t1 and s[3] > t0]
        for i in sorted(range(len(inside)), key=lambda i: inside[i][1]):
            _, _, s0, s1 = inside[i]  # deeper spans overwrite shallower ones
            inner[(grid >= s0) & (grid < s1)] = i
        idle = active == 0
        for i, n in zip(*np.unique(inner[idle], return_counts=True)):
            span = inside[i][0]
            owner = SPAN_OWNER.get(span, "jobs.driver" if span.startswith(
                ("jobs.", "lineage.run_unit")) else span)
            wall[owner] += n / 1000

    for owner, key in [("rollup.tier1m", "rollup.tier1m_s"),
                       ("rollup.publish", "rollup.publish_s"),
                       ("gapfill", "gapfill.s"),
                       ("chunks.encode", "chunks.encode_s"),
                       ("chunks.compact", "chunks.compact_s"),
                       ("chunks.range", "chunks.range_read_s"),
                       ("lineage", "lineage.s"),
                       ("jobs.bookkeeping", "jobs.bookkeeping_s"),
                       ("jobs.driver", "jobs.driver_s")]:
        m[key] = wall.get(owner, 0.0)

    # Spark jobs per span kind
    for t_sub, _ in log.jobs:
        span = _innermost(spans, t_sub)
        if span is None:
            continue
        m["jobs.spark_jobs"] += 1
        if span.startswith("lineage.") and span != "lineage.run_unit":
            m["lineage.spark_jobs"] += 1
        if span == "chunked.kalman_filter_chunked":
            m["chunked.spark_jobs"] += 1

    # task metrics over the stages of owned executions
    python_scopes = {"MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython"}
    for sid, st in log.stages.items():
        xid = log.stage_exec.get(sid)
        if xid not in owner_of:
            continue
        m["session.gc_s"] += st["gc_ms"] / 1000
        m["session.cpu_s"] += st["cpu_ns"] / 1e9
        m["jobs.input_bytes_read"] += st["input_bytes"]
        if st["scopes"] & python_scopes:
            m["session.max_task_s"] += st["max_task_ms"] / 1000
        if (owner_of[xid] in ("rollup.tier1m", "gapfill") and "Window" in st["scopes"]
                and "WriteFiles" not in st["scopes"]):
            m["features.window_s"] += st["run_ms"] / 1000

    everyone = set(owner_of.values())
    rollup = {"rollup.tier1m", "rollup.publish"} | ROLLUP_ENTRIES
    m["session.python_s"] = log.metric(everyone, owner_of, name=PYTHON_TIME)
    m["session.python_bytes"] = (
        log.metric(everyone, owner_of, name="data sent to Python workers")
        + log.metric(everyone, owner_of, name="data returned from Python workers"))
    m["features.shuffle_bytes"] = log.metric(
        {"rollup.tier1m", "gapfill"}, owner_of, node="Exchange",
        name="shuffle bytes written", simple_has="_chunk")
    m["rollup.agg_s"] = log.metric(rollup, owner_of, name="time in aggregation build")
    m["rollup.shuffle_bytes"] = log.metric(
        rollup, owner_of, node="Exchange", name="shuffle bytes written", simple_lacks="_chunk")
    m["rollup.spill_bytes"] = log.metric(rollup, owner_of, name="spill size")
    m["gapfill.rows_out"] = log.metric(
        {"gapfill"}, owner_of, node="Execute", name="number of output rows")
    m["gapfill.shuffle_bytes"] = log.metric(
        {"gapfill"}, owner_of, node="Exchange", name="shuffle bytes written",
        simple_lacks="_chunk")
    m["chunks.encode_python_s"] = log.metric({"chunks.encode"}, owner_of, name=PYTHON_TIME)
    m["chunks.compact_python_s"] = log.metric({"chunks.compact"}, owner_of, name=PYTHON_TIME)
    m["chunks.python_s"] = log.metric(CHUNK_ENTRIES, owner_of, name=PYTHON_TIME)
    m["lineage.files_written"] = log.metric(
        {"lineage"}, owner_of, node="Execute", name="number of written files")

    n_reads = len(b.times.get("chunks.decode_range", []))
    if n_reads:
        m["chunks.range_files_read"] = log.metric(
            {"chunks.range"}, owner_of, node="Scan", name="number of files read") / n_reads

    inputs = [str(p) for p in b.input_paths]
    scanned = sum(
        log.acc_val.get(aid, 0.0)
        for aid, (xid, nname, _, mname, _) in log.acc.items()
        if xid in owner_of and nname.startswith("Scan") and mname == "size of files read"
        and any(p in log.execs[xid]["scans"] for p in inputs))
    m["jobs.input_read_ratio"] = scanned / sum(os.path.getsize(p) for p in inputs)

    for call in SERIES_CALLS + [f"entry_queries.{e}" for e in ENTRIES]:
        if b.times.get(call):
            m[f"{call}_s"] = float(np.median(b.times[call]))
    m |= {k: v for k, v in b.extra.items() if k in m}
    return {k: (float(v), PER_LAYER[k]) for k, v in m.items()}

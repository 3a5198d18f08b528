"""Tracing for the benchmark's traced runs.

Spans are recorded around calls into the program's public functions by
wrapping them from here (the program itself is not changed), kept in
memory and turned into per-layer metrics at the end of the run. Spark's
own event log supplies jobs, stages, tasks and SQL-operator metrics,
which are attributed to the enclosing span by time window.

Wrapping a lazy function (``decode_events``, ``lww_reduce_late``) would
time only plan construction, so their execution cost is read from the
stage and operator metrics of the jobs inside the enclosing merge span.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict

METAIO_METHODS = ("read_text", "put_if_absent", "put", "append_line", "list",
                  "exists", "makedirs", "delete")


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


class Tracer:
    """Span recorder. A span is {id, name, start, end, parent, thread, attrs};
    times are wall-clock seconds so they line up with Spark's event times."""

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        sp = {"id": next(self._ids), "name": name,
              "parent": stack[-1]["id"] if stack else None,
              "thread": threading.get_ident(), "attrs": attrs,
              "start": time.time(), "end": None}
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def _wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        raw = owner.__dict__[attr]
        kind = type(raw)
        fn = raw.__func__ if kind in (classmethod, staticmethod) else raw
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_call is not None:
                    on_call(sp, args, kwargs, out)
                return out

        wrapped.__wrapped__ = fn
        setattr(owner, attr, kind(wrapped) if kind in (classmethod, staticmethod)
                else wrapped)
        self._restore.append((owner, attr, raw))

    def install(self) -> None:
        """Wrap the public calls named in the README's per-layer table."""
        from database_delta_plugins_spark.lake import metaio
        from database_delta_plugins_spark.lake.table import LakeTable
        from database_delta_plugins_spark.plans import lineage
        from database_delta_plugins_spark.streaming import pipeline

        def epoch_attr(sp, args, kwargs, out):
            sp["attrs"]["epoch"] = str(args[2] if len(args) > 2 else kwargs.get("epoch_id"))

        def merge_attr(sp, args, kwargs, out):
            extra = kwargs.get("extra_lineage") or {}
            sp["attrs"]["events_in"] = sum(
                p.get("rows", 0) for p in extra.get("partition_lineage", []))
            if isinstance(out, dict) and not out.get("skipped_replay"):
                sp["attrs"]["winners_out"] = int(out.get("rows_applied") or 0)

        def io_bytes(sp, args, kwargs, out):
            n = len(out) if isinstance(out, str) else 0
            n += sum(len(a) for a in args[2:] if isinstance(a, str))
            sp["attrs"]["bytes"] = n

        self._wrap(pipeline.CDCPipeline, "apply_batch", "pipeline.apply_batch", epoch_attr)
        for mod in (lineage, pipeline):
            for fname in ("batch_audit", "batch_audit_fast"):
                if fname in mod.__dict__:
                    self._wrap(mod, fname, "lineage.audit")
        self._wrap(LakeTable, "merge", "table.merge", merge_attr)
        for m in ("apply_ddl", "compact", "changes", "read"):
            self._wrap(LakeTable, m, f"table.{m}")
        for m in ("load", "refresh"):
            self._wrap(LakeTable, m, "table.load")
        for m in METAIO_METHODS:
            self._wrap(metaio.LocalMetaIO, m, f"metaio.{m}", io_bytes)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, raw = self._restore.pop()
            setattr(owner, attr, raw)


# ------------------------------------------------------------- event log
def parse_eventlog(path: str) -> dict:
    """Jobs, tasks and SQL-operator metric totals from a Spark event log
    (uncompressed, non-rolling JSON lines). Times are seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    execs: dict[int, dict] = {}
    metric_of: dict[int, tuple[int, str, str]] = {}  # accum -> (exec, node, name)
    values: dict[int, float] = defaultdict(float)

    def plan_metrics(exec_id: int, node: dict) -> None:
        for m in node.get("metrics", []):
            metric_of[m["accumulatorId"]] = (exec_id, node["nodeName"], m["name"])
        for c in node.get("children", []):
            plan_metrics(exec_id, c)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1000, "end": None,
                                     "desc": props.get("spark.job.description") or ""}
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif ev == "SparkListenerTaskEnd":
                info, tm = e["Task Info"], e.get("Task Metrics") or {}
                for acc in info.get("Accumulables", []):
                    if acc.get("Metadata") == "sql" and acc["ID"] in metric_of:
                        try:
                            values[acc["ID"]] += float(acc["Update"])
                        except (TypeError, ValueError):
                            pass
                sr = tm.get("Shuffle Read Metrics") or {}
                tasks.append({
                    "stage": e["Stage ID"], "job": stage_job.get(e["Stage ID"]),
                    "launch": info["Launch Time"] / 1000, "finish": info["Finish Time"] / 1000,
                    "run_s": tm.get("Executor Run Time", 0) / 1000,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000,
                    "in_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "out_bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                })
            elif ev.endswith("SQLExecutionStart"):
                execs[e["executionId"]] = {"start": e["time"] / 1000}
                plan_metrics(e["executionId"], e["sparkPlanInfo"])
            elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                plan_metrics(e["executionId"], e["sparkPlanInfo"])
            elif ev.endswith("SQLDriverAccumUpdates") or ev.endswith("DriverAccumUpdates"):
                for acc_id, v in e["accumUpdates"]:
                    if acc_id in metric_of:
                        values[acc_id] += float(v)
    sqlm: dict[int, dict[tuple[str, str], list[float]]] = defaultdict(lambda: defaultdict(list))
    for acc_id, (ex, node, name) in metric_of.items():
        if acc_id in values:
            sqlm[ex][(node, name)].append(values[acc_id])
    return {"jobs": jobs, "tasks": tasks, "execs": execs, "sql": sqlm}


# ------------------------------------------------------- per-layer metrics
def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
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


def _med(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Attribution:
    """Event-log records attributed to time windows."""

    def __init__(self, log: dict, t0: float):
        self.jobs = {j: v for j, v in log["jobs"].items() if v["start"] >= t0}
        self.tasks = [t for t in log["tasks"] if t["job"] in self.jobs]
        self.execs = {x: v for x, v in log["execs"].items() if v["start"] >= t0}
        self.sql = log["sql"]

    def jobs_in(self, lo: float, hi: float) -> list[int]:
        return [j for j, v in self.jobs.items() if lo <= v["start"] <= hi]

    def tasks_of(self, jobs: list[int]) -> list[dict]:
        js = set(jobs)
        return [t for t in self.tasks if t["job"] in js]

    def sql_items(self, lo: float, hi: float):
        """((node, metric name), values) of SQL executions started in [lo, hi]."""
        for x, v in self.execs.items():
            if lo <= v["start"] <= hi:
                yield from self.sql.get(x, {}).items()

    def sql_in(self, lo: float, hi: float, node: str, name: str) -> list[float]:
        return [v for key, vs in self.sql_items(lo, hi) if key == (node, name) for v in vs]


def layer_metrics(tracer: Tracer, log: dict, t0: float, epoch_windows: list[tuple],
                  op_windows: dict[str, list[tuple]], restarts: list[float]) -> dict:
    """Per-layer metrics of one traced run.

    ``epoch_windows``: (start, end) of each epoch as the client saw it
    (file visible .. epoch committed). ``op_windows``: kind -> [(start,
    end, segments)] of the benchmark's read operations. Per-epoch values
    are medians over the run's epochs; read values are medians over the
    reads of that kind; DDL and compaction values are run totals."""
    at = Attribution(log, t0)
    spans = [s for s in tracer.spans if s["start"] >= t0]
    by_parent: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            by_parent[s["parent"]].append(s)
    applies = sorted((s for s in spans if s["name"] == "pipeline.apply_batch"),
                     key=lambda s: s["start"])

    def inside(s: dict, lo: float, hi: float) -> bool:
        return lo <= s["start"] and s["end"] <= hi

    per: dict[str, list[float]] = defaultdict(list)
    for lo, hi in epoch_windows:
        ap = [a for a in applies if lo <= a["start"] <= hi]
        if not ap:
            continue
        a_lo, a_hi = ap[0]["start"], ap[-1]["end"]
        wall = sum(a["end"] - a["start"] for a in ap)
        per["pipeline.trigger_s"].append((hi - lo) - wall)
        per["pipeline.self_s"].append(sum(
            (a["end"] - a["start"])
            - _union([(c["start"], c["end"]) for c in by_parent[a["id"]]], a["start"], a["end"])
            for a in ap))
        jobs = at.jobs_in(a_lo, a_hi)
        tasks = at.tasks_of(jobs)
        per["pipeline.jobs"].append(len(jobs))
        per["pipeline.serial_s"].append(
            wall - _union([(t["launch"], t["finish"]) for t in tasks], a_lo, a_hi))
        per["spark.tasks"].append(len(tasks))
        per["spark.gc_s"].append(sum(t["gc_s"] for t in tasks))
        ep_spans = [s for s in spans if inside(s, a_lo, a_hi)]
        audits = [s for s in ep_spans if s["name"] == "lineage.audit"]
        per["lineage.audit_s"].append(sum(s["end"] - s["start"] for s in audits))
        per["lineage.audit_jobs"].append(sum(len(at.jobs_in(s["start"], s["end"])) for s in audits))
        merges = [s for s in ep_spans if s["name"] == "table.merge"]
        mjobs = [j for m in merges for j in at.jobs_in(m["start"], m["end"])]
        mtasks = at.tasks_of(mjobs)
        per["decode.scan_bytes"].append(sum(t["in_bytes"] for t in mtasks))
        per["lww.events_in"].append(sum(m["attrs"].get("events_in", 0) for m in merges))
        per["lww.winners_out"].append(sum(m["attrs"].get("winners_out", 0) for m in merges))
        per["lww.shuffle_bytes"].append(sum(t["shuffle_write"] for t in mtasks))
        skews = []
        for st in {t["stage"] for t in mtasks if t["shuffle_read"] > 0}:
            runs = [t["run_s"] for t in mtasks if t["stage"] == st]
            if len(runs) > 1 and statistics.median(runs) > 0:
                skews.append(max(runs) / statistics.median(runs))
        per["lww.task_skew"].append(max(skews, default=1.0))
        bc, rows, py_s, sent = 0.0, 0.0, 0.0, 0.0
        for m in merges:
            for k in ("time to collect", "time to build"):
                bc += sum(at.sql_in(m["start"], m["end"], "BroadcastExchange", k)) / 1000
            rows += max(at.sql_in(m["start"], m["end"], "ArrowEvalPython",
                                  "number of output rows"), default=0.0)
            py_s += sum(at.sql_in(m["start"], m["end"], "ArrowEvalPython",
                                  "time to run Python workers")) / 1000
            sent += sum(at.sql_in(m["start"], m["end"], "ArrowEvalPython",
                                  "data sent to Python workers"))
        per["lww.broadcast_s"].append(bc)
        per["udfs.rows"].append(rows)
        per["udfs.python_s"].append(py_s)
        per["udfs.bytes_sent"].append(sent)
        per["table.merge_s"].append(sum(m["end"] - m["start"] for m in merges))
        per["table.merge_cpu_s"].append(sum(t["cpu_s"] for t in mtasks))
        per["table.write_bytes"].append(sum(t["out_bytes"] for t in mtasks))
        commit = 0.0
        for m in merges:
            ends = [at.jobs[j]["end"] for j in at.jobs_in(m["start"], m["end"])
                    if at.jobs[j]["end"] is not None]
            commit += m["end"] - max(ends, default=m["start"])
        per["table.commit_s"].append(commit)
        # refresh() calls load(): count the outer call only
        load_ids = {s["id"] for s in ep_spans if s["name"] == "table.load"}
        loads = [s for s in ep_spans
                 if s["name"] == "table.load" and s["parent"] not in load_ids]
        per["table.loads"].append(len(loads))
        per["table.load_s"].append(sum(s["end"] - s["start"] for s in loads))
        io = [s for s in ep_spans if s["name"].startswith("metaio.")]
        per["metaio.ops"].append(len(io))
        for m in METAIO_METHODS:
            per[f"metaio.ops.{m}"].append(sum(1 for s in io if s["name"] == f"metaio.{m}"))
        per["metaio.s"].append(sum(s["end"] - s["start"] for s in io))
        per["metaio.bytes"].append(sum(s["attrs"].get("bytes", 0) for s in io))

    out = {k: _med(v) for k, v in per.items()}
    for kind, span_name in (("ddl", "table.apply_ddl"), ("compact", "table.compact")):
        ss = [s for s in spans if s["name"] == span_name]
        out[f"table.{kind}_s"] = sum(s["end"] - s["start"] for s in ss)
        if kind == "compact":
            jobs = [j for s in ss for j in at.jobs_in(s["start"], s["end"])]
            out["table.compact_bytes"] = float(sum(t["out_bytes"] for t in at.tasks_of(jobs)))
    for kind, prefix in (("scan", "table.scan"), ("point", "table.point"),
                         ("changes", "table.changes")):
        b, files, jobs_n, segs = [], [], [], []
        for lo, hi, depth in op_windows.get(kind, []):
            jobs = at.jobs_in(lo, hi)
            b.append(sum(t["in_bytes"] for t in at.tasks_of(jobs)))
            files.append(sum(v for (_node, name), vs in at.sql_items(lo, hi)
                             if name == "number of files read" for v in vs))
            jobs_n.append(len(jobs))
            segs.append(depth)
        out[f"{prefix}_bytes"] = _med(b)
        out[f"{prefix}_files"] = _med(files)
        if kind == "scan":
            out["table.scan_jobs"] = _med(jobs_n)
            out["table.segments"] = _med(segs)
    out["pipeline.restart_s"] = _med(restarts)
    return out

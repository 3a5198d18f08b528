"""CDC replication benchmark: one run of one workload.

    python3 cdcbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run builds its inputs from
the seed (cached under cdcbench/.cache), starts a fresh Spark session,
warms it on throwaway tables, drives the workload through the program's
public API (CDCPipeline, LakeTable), checks every output against DuckDB
over the generated files, and prints one JSON line last:

    {"correct": ..., "attempted": N, "failed": M, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
same workload runs with spans around the program's public calls and
Spark's event log on, and the metrics are the per-layer ones. See
cdcbench/README.md for definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "database_delta_plugins_spark"

END_TO_END = [
    ("setup_s", "s"), ("snapshot_rows_per_s", "rows/s"), ("events_per_s", "events/s"),
    ("lag_p50_s", "s"), ("point_p50_s", "s"), ("scan_p50_s", "s"),
    ("changes_p50_s", "s"), ("cpu_s", "s"), ("stored_bytes_per_row", "B"),
]
PER_LAYER = [
    ("pipeline.trigger_s", "s"), ("pipeline.self_s", "s"), ("pipeline.jobs", "count"),
    ("pipeline.serial_s", "s"), ("pipeline.restart_s", "s"),
    ("lineage.audit_s", "s"), ("lineage.audit_jobs", "count"),
    ("decode.scan_bytes", "B"), ("lww.events_in", "count"), ("lww.winners_out", "count"),
    ("lww.shuffle_bytes", "B"), ("lww.task_skew", "ratio"), ("lww.broadcast_s", "s"),
    ("udfs.rows", "count"), ("udfs.python_s", "s"), ("udfs.bytes_sent", "B"),
    ("table.merge_s", "s"), ("table.merge_cpu_s", "s"), ("table.write_bytes", "B"),
    ("table.commit_s", "s"), ("table.loads", "count"), ("table.load_s", "s"),
    ("table.ddl_s", "s"), ("table.compact_s", "s"), ("table.compact_bytes", "B"),
    ("table.scan_bytes", "B"), ("table.scan_files", "count"), ("table.scan_jobs", "count"),
    ("table.segments", "count"), ("table.point_bytes", "B"), ("table.point_files", "count"),
    ("table.changes_bytes", "B"), ("table.changes_files", "count"),
    ("metaio.ops", "count"),
    *[(f"metaio.ops.{m}", "count") for m in (
        "read_text", "put_if_absent", "put", "append_line", "list", "exists",
        "makedirs", "delete")],
    ("metaio.s", "s"), ("metaio.bytes", "B"),
    ("spark.gc_s", "s"), ("spark.tasks", "count"),
    # peak memory moves with the JVM's heap growth and the number of live
    # Python workers: ten runs spread up to 0.27, wider than any bound
    ("process.peak_rss_mb", "MB"),
]
WORKLOADS = ("backfill", "live_tail")
WARMUP_ROUNDS = 3
BASE_SCHEMA = [("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
               ("text", "string"), ("lang", "string")]


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[-1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def spark_session(work: str, trace: bool):
    """Spark pinned for the benchmark: task threads never exceed nproc,
    fixed shuffle width and memory, all scratch space inside the run's
    directory."""
    from database_delta_plugins_spark.session import get_spark

    cores = min(4, os.cpu_count() or 1)
    conf = {
        "spark.driver.memory": "2g",
        "spark.memory.offHeap.size": "1g",
        "spark.local.dir": f"{work}/spark",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # no hsperfdata file under /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp "
                                         f"-Dderby.system.home={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"{work}/eventlog",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark(master=f"local[{cores}]", app_name="cdcbench",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop Spark and its JVM, and wait for every child process to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    reap_children()


def reap_children(timeout: float = 20.0) -> None:
    from proctree import tree

    deadline = time.time() + timeout
    me = os.getpid()
    while True:
        left = [p for p in tree(me) if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)


def warmup(client, kind: str) -> tuple[float, list[float]]:
    """Warm the JVM and the Python workers on throwaway tables before
    anything is timed. Each round sets up a table (create + a 50-row
    snapshot bootstrap); the first also runs one epoch of the workload's
    kind, a scan and a change-feed read. Returns (wall of that epoch and
    those reads, [wall of each table set-up])."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from database_delta_plugins_spark.lake.table import LakeTable

    first = client.manifest["files"][0]["name"]
    setups, rest = [], 0.0
    for r in range(WARMUP_ROUNDS):
        w = f"{client.work}/warm{r}"
        os.makedirs(f"{w}/log")
        pq.write_table(pq.read_table(f"{client.gen_dir}/snapshot.parquet").slice(0, 50),
                       f"{w}/snap.parquet")
        t0 = time.perf_counter()
        pipe = client.pipeline(f"{w}/log", f"{w}/table", f"{w}/ckpt")
        pipe.bootstrap(True, client.spark.read.parquet(f"{w}/snap.parquet"))
        setups.append(time.perf_counter() - t0)
        if r:
            continue
        pq.write_table(pq.read_table(f"{client.gen_dir}/log/{first}").slice(0, 100),
                       f"{w}/ev.parquet")
        t0 = time.perf_counter()
        if kind == "backfill":
            os.rename(f"{w}/ev.parquet", f"{w}/log/ev.parquet")
            pipe.run_to_completion()
        else:
            q = pipe.start(available_now=False)
            try:
                os.rename(f"{w}/ev.parquet", f"{w}/log/ev.parquet")
                q.processAllAvailable()
            finally:
                q.stop()
        t = LakeTable.load(client.spark, f"{w}/table")
        t.read().groupBy("lang").agg(F.count(F.lit(1))).collect()
        t.changes(t.version - 1, t.version).collect()
        rest = time.perf_counter() - t0
    return rest, setups


def expected_schema(manifest: dict) -> list[tuple[str, str]]:
    fields = [list(f) for f in BASE_SCHEMA]
    for f in manifest["files"]:
        for d in f["ddl"]:
            if d["action"] == "add_column":
                fields.append([d["name"], d["type"]])
            elif d["action"] == "widen_column":
                next(x for x in fields if x[0] == d["name"])[1] = d["type"]
            elif d["action"] == "rename_column":
                next(x for x in fields if x[0] == d["name"])[0] = d["new_name"]
    return [tuple(f) for f in fields]


def check_ops(ops, oracle, manifest) -> list[tuple[object, list[str]]]:
    """Each operation with the mismatches found in its output (an
    operation that raised is reported with its error)."""
    out = []
    for op in ops:
        if op.error:
            out.append((op, [op.error]))
            continue
        a = op.arg
        if op.kind == "scan":
            bad = oracle.check_scan(op.result, a["upto"])
        elif op.kind == "point":
            bad = oracle.check_points(op.result, a["urls"], a["upto"])
        elif op.kind == "changes":
            bad = oracle.check_changes(op.result, a["lo"], a["hi"])
        elif op.kind == "state":
            rows = op.result["rows"]
            bad = oracle.check_state(rows.select(["url", "text", "lang"]), a["upto"])
            want = expected_schema(manifest)
            if op.result["schema"] != want:
                bad.append(f"schema {op.result['schema']} != {want}")
            for name, _t in want[len(BASE_SCHEMA):]:
                if rows.num_rows and rows.column(name).null_count != rows.num_rows:
                    bad.append(f"added column {name} holds values")
        elif op.kind == "restart":
            r = op.result
            bad = [] if r["before"] == r["after"] else [
                f"replayed epoch {r['replayed']} moved the table {r['before']} -> {r['after']}"]
            if not r["recommitted"]:
                bad.append(f"epoch {r['replayed']} was not replayed")
        elif op.kind == "bootstrap":
            bad = [] if op.result == 1 else [f"bootstrap left version {op.result}"]
        else:
            bad = []
        out.append((op, bad))
    return out


def med(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def _finite(v) -> float:
    """A metric with no sample (its operations all failed) prints as 0:
    the result line stays valid JSON."""
    v = float(v)
    return v if math.isfinite(v) else 0.0


def main(argv: list[str]) -> int:
    t_start = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                    help="tiny: the benchmark's own tests")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"cdcbench: no {PACKAGE}/ next to {HERE}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    import gen
    import workloads
    from oracle import Oracle
    from proctree import RssSampler
    from tools.proc_cpu import TreeCpuSampler
    from tracing import NullTracer, Tracer, layer_metrics, parse_eventlog

    plan = workloads.plan_for(a.workload, a.seconds, a.scale)
    t_gen = time.time()
    gen_dir, manifest = gen.cached(plan.spec, a.seed, os.path.join(HERE, ".cache"))
    gen_s = time.time() - t_gen

    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    try:
        rss = RssSampler().start()
        spark = None
        try:
            spark = spark_session(work, bool(a.trace))
            spark.sparkContext.setLogLevel("ERROR")
            t_ready = time.time()
            client = workloads.Client(spark, plan, gen_dir, manifest, work, NullTracer())
            warm_s, table_setups = warmup(client, a.workload)
            setup_s = (t_ready - t_start - gen_s) + warm_s + med(table_setups)
            print(f"timing spark_ready {t_ready - t_start - gen_s:.2f} gen {gen_s:.2f} "
                  f"warmup {warm_s:.2f} table_setups {[round(r, 2) for r in table_setups]}",
                  file=sys.stderr)

            tracer = Tracer() if a.trace else NullTracer()
            if a.trace:
                tracer.install()
            client.tracer = tracer
            t0 = time.time()
            with TreeCpuSampler(interval=0.2) as cpu:
                getattr(client, f"run_{a.workload}")()
            cpu_s = cpu.cpu_seconds()
            if a.trace:
                tracer.uninstall()
            state = next((op for op in client.ops if op.kind == "state" and op.result), None)
            stored = 0.0 if state is None else workloads.table_bytes_per_row(
                spark, f"{work}/table", state.result["rows"].num_rows)
            t_end = time.time()
            print(f"timing measured {time.time() - t0:.2f} ops "
                  + " ".join(f"{op.kind}:{op.wall_s:.2f}" for op in client.ops), file=sys.stderr)
        finally:
            if spark is not None:
                stop_spark(spark)
            rss.close()

        oracle = Oracle(gen_dir, [f["name"] for f in manifest["files"]])
        checked = check_ops(client.ops, oracle, manifest)
        oracle.close()
        failed = [(op, bad) for op, bad in checked if bad]
        for op, bad in failed:
            print(f"FAILED {op.kind} {json.dumps(op.arg, default=str)[:200]}: {bad}",
                  file=sys.stderr)

        walls = {k: [op.wall_s for op in client.ops
                     if op.kind == k and op.timed and not op.error]
                 for k in ("scan", "point", "changes")}
        boots = [op for op in client.ops if op.kind == "bootstrap"]
        e2e = {
            "setup_s": setup_s,
            "snapshot_rows_per_s": boots[0].arg["rows"] / med([op.wall_s for op in boots]),
            "events_per_s": client.events_applied / client.apply_s if client.apply_s else 0.0,
            "lag_p50_s": med(client.lags),
            "point_p50_s": med(walls["point"]),
            "scan_p50_s": med(walls["scan"]),
            "changes_p50_s": med(walls["changes"]),
            "cpu_s": cpu_s,
            "peak_rss_mb": rss.peak_mb(),
            "stored_bytes_per_row": stored,
        }
        print(f"timing after_measured {time.time() - t_end:.2f}", file=sys.stderr)
        print("end_to_end " + json.dumps(e2e, sort_keys=True), file=sys.stderr)
        if a.trace:
            logs = os.listdir(f"{work}/eventlog")
            layers = layer_metrics(tracer, parse_eventlog(f"{work}/eventlog/{logs[0]}"), t0,
                                   client.epoch_windows, client.op_windows, client.restart_s)
            layers["process.peak_rss_mb"] = e2e["peak_rss_mb"]
            metrics = {n: {"value": _finite(layers.get(n, 0.0)), "unit": u}
                       for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": _finite(e2e[n]), "unit": u} for n, u in END_TO_END}
        # every operation's output has been checked against the oracle; one
        # that raised or returned a wrong answer is counted in "failed" and
        # named on standard error, so "correct" speaks of the others
        print(json.dumps({"correct": True, "attempted": len(checked),
                          "failed": len(failed), "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

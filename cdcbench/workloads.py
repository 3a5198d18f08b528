"""The benchmark's workloads: input make-up, engine settings and the
client that drives each one.

A single client drives a run: a closed loop with one writer and one
reader that never overlap, so no read ever runs while an epoch is being
applied (apply and merge switch AQE off for the whole session while they
run, and an overlapping read would get a plan picked by timing).

Every operation (epoch, read, restart) is recorded with its wall time
and what it returned; results are checked against the oracle after the
timed phase, so checking costs no measured time.
"""

from __future__ import annotations

import dataclasses
import datetime
import os
import shutil
import time

from gen import Spec


@dataclasses.dataclass(frozen=True)
class Plan:
    spec: Spec
    files_per_epoch: int
    compact_every: int
    read_rounds: int          # backfill: rounds of reads after the catch-up
    read_every: int = 0       # live_tail: a point and a scan after every N-th epoch
    restarts: int = 0


NUM_BUCKETS = 8
SALT_BUCKETS = 8
SNAPSHOT_LOADS = 3

# The amount of work is a function of --seconds alone, calibrated so a
# run measures about that long on a 4-core machine; every run at one
# setting does the same operations whatever the machine's speed.
def plan_for(workload: str, seconds: int, scale: str = "bench") -> Plan:
    tiny = scale == "tiny"
    if workload == "backfill":
        spec = Spec(urls=60 if tiny else 12000, files=4 if tiny else 8,
                    redeliver_later=True)
        return Plan(spec, files_per_epoch=2 if tiny else 4, compact_every=0,
                    read_rounds=1 if tiny else max(2, seconds // 15))
    if workload == "live_tail":
        # plain epochs outnumber the DDL (files 2 and 5) and compaction
        # (every 7th) epochs, so the lag median does not land between kinds
        files = max(8, seconds * 4 // 15)
        spec = Spec(urls=files * (5 if tiny else 31), files=files, ddl_files=(2, 2, 5))
        return Plan(spec, files_per_epoch=1, compact_every=7,
                    read_rounds=0, read_every=5, restarts=2)
    raise ValueError(f"unknown workload {workload!r}")


@dataclasses.dataclass
class Op:
    """One attempted operation and what it returned."""
    kind: str                   # bootstrap | epoch | scan | point | changes | state | restart
    wall_s: float = 0.0
    arg: dict = dataclasses.field(default_factory=dict)
    result: object = None
    error: str | None = None
    timed: bool = True          # False: checked, but left out of the latency medians


def _collect(df, cols):
    """Run the read and bring its rows to the client as an Arrow table."""
    return df.select(*cols).toArrow()


class Client:
    """Drives one workload against the program's public API."""

    def __init__(self, spark, plan: Plan, gen_dir: str, manifest: dict, work: str,
                 tracer):
        self.spark = spark
        self.plan = plan
        self.gen_dir = gen_dir
        self.manifest = manifest
        self.work = work
        self.tracer = tracer
        self.ops: list[Op] = []
        self.epoch_windows: list[tuple[float, float]] = []
        self.op_windows: dict[str, list[tuple]] = {"scan": [], "point": [], "changes": []}
        self.lags: list[float] = []
        self.events_applied = 0
        self.apply_s = 0.0
        self.restart_s: list[float] = []

    # ----------------------------------------------------------- helpers
    def pipeline(self, log: str, table: str, ckpt: str):
        from database_delta_plugins_spark.streaming.pipeline import CDCPipeline

        p = self.plan
        return CDCPipeline(
            self.spark, log, table, ckpt, num_buckets=NUM_BUCKETS,
            max_files_per_trigger=p.files_per_epoch, salt_buckets=SALT_BUCKETS,
            derive_text_from_html=True, normalize_lang=True,
            write_mode="mor", compact_every=p.compact_every)

    def _timed(self, op: Op, fn):
        """Run fn as one operation; exceptions are recorded, not raised."""
        t = time.perf_counter()
        try:
            op.result = fn()
        except Exception as e:  # an operation that raises counts as failed
            op.error = f"{type(e).__name__}: {e}"[:500]
        op.wall_s = time.perf_counter() - t
        self.ops.append(op)
        return op

    def _segments(self, table_path: str) -> int:
        if not self.tracer.enabled:
            return 0
        from database_delta_plugins_spark.lake.table import LakeTable

        t = LakeTable.load(self.spark, table_path)
        return max((len(s) for s in t.segments_map().values()), default=0)

    def read_op(self, kind: str, table_path: str, upto: int, timed: bool = True,
                **arg) -> Op:
        """One read through LakeTable.read()/changes(), result collected."""
        from pyspark.sql import functions as F

        from database_delta_plugins_spark.lake.table import LakeTable

        depth = self._segments(table_path)

        def run():
            t = LakeTable.load(self.spark, table_path)
            if kind == "scan":
                df = (t.read().groupBy("lang")
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.sum(F.length("text")).alias("chars")))
                return _collect(df, ["lang", "n", "chars"])
            if kind == "point":
                df = t.read().filter(F.col("url").isin(arg["urls"]))
                return _collect(df, ["url", "text", "lang"])
            if kind == "changes":
                df = t.changes(arg["since"], arg["to"])
                return _collect(df, ["url", "_lsn", "_seq", "_change_type", "text", "lang"])
            if kind == "state":
                extra = [c for c in t.schema().fieldNames()
                         if c not in ("url", "warc_ts", "html", "text", "lang")]
                return {"rows": _collect(t.read(), ["url", "text", "lang", *extra]),
                        "schema": [(f.name, f.dataType.simpleString())
                                   for f in t.schema().fields]}
            raise ValueError(kind)

        lo = time.time()
        with self.tracer.span(f"op.{kind}"):
            op = self._timed(Op(kind, arg=dict(arg, upto=upto), timed=timed), run)
        if timed and kind in self.op_windows:
            self.op_windows[kind].append((lo, time.time(), depth))
        return op

    def bootstrap(self, pipe) -> Op:
        def run():
            snap = self.spark.read.parquet(f"{self.gen_dir}/snapshot.parquet")
            t = pipe.bootstrap(replicate_existing_data=True, snapshot_df=snap)
            return t.version

        with self.tracer.span("op.bootstrap"):
            return self._timed(Op("bootstrap", arg={"rows": self.manifest["snapshot_rows"]}),
                               run)

    def load_snapshot(self, pipe) -> None:
        """Bootstrap the snapshot into throwaway tables, then into the
        workload's table; its rate is the median over these loads, since
        one load of a small snapshot is mostly per-job fixed cost."""
        for i in range(SNAPSHOT_LOADS - 1):
            w = f"{self.work}/snap{i}"
            os.makedirs(f"{w}/log")
            self.bootstrap(self.pipeline(f"{w}/log", f"{w}/table", f"{w}/ckpt"))
        self.bootstrap(pipe)

    def lookups(self, k: int) -> list[str]:
        return self.manifest["files"][k]["lookups"]

    # ---------------------------------------------------------- backfill
    def run_backfill(self) -> None:
        """Snapshot, then a backlog present at start applied by
        run_to_completion() in a few large epochs, then rounds of reads
        across the segment stack the epochs left."""
        from database_delta_plugins_spark.lake.table import LakeTable

        files = self.manifest["files"]
        log, table, ckpt = (f"{self.work}/log", f"{self.work}/table", f"{self.work}/ckpt")
        os.makedirs(log)
        for i, f in enumerate(files):
            dst = f"{log}/{f['name']}"
            shutil.copyfile(f"{self.gen_dir}/log/{f['name']}", dst)
            # delivery order = file order: the file source orders by mtime
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        pipe = self.pipeline(log, table, ckpt)
        self.load_snapshot(pipe)

        listener = _CommitClock(self.spark)
        error = None
        t0 = time.time()
        with self.tracer.span("op.catchup"):
            try:
                pipe.run_to_completion()
            except Exception as e:  # every epoch of the catch-up counts as failed
                error = f"{type(e).__name__}: {e}"[:500]
        wall = time.time() - t0
        n_epochs = -(-len(files) // self.plan.files_per_epoch)
        ends = listener.close(0 if error else n_epochs)
        self.ops += [Op("epoch", arg={"epoch": e}, error=error) for e in range(n_epochs)]
        if error:
            # the reads planned after the catch-up count as failed too, so
            # a failed catch-up attempts as many operations as a good one
            kinds = ["scan", "point"] + ["changes"] * n_epochs
            self.ops += [Op(k, error=f"not run: {error}")
                         for _ in range(self.plan.read_rounds + 1) for k in kinds]
            self.ops.append(Op("state", error=f"not run: {error}"))
            return
        per_epoch = _epoch_files(LakeTable.load(self.spark, table))
        prev = t0
        for e in sorted(per_epoch):
            end = ends.get(e, t0 + wall)
            self.epoch_windows.append((prev, end))
            self.lags += [end - t0] * len(per_epoch[e]["files"])
            prev = end
        self.events_applied = self.manifest["events"]
        self.apply_s = wall
        order = [f["name"] for f in files]
        windows = []
        for e in sorted(per_epoch):
            idx = sorted(order.index(n) for n in per_epoch[e]["files"])
            windows.append((per_epoch[e]["version"], idx[0], idx[-1]))
        last = len(files) - 1
        # the first reads of a freshly ingested table run slower on every
        # seed (code paths the small warm-up table never made hot): one
        # checked but untimed round takes them out of the medians
        for r in range(self.plan.read_rounds + 1):
            timed = r > 0
            self.read_op("scan", table, last, timed=timed)
            self.read_op("point", table, last, timed=timed, urls=self.lookups(r % len(files)))
            for v, lo, hi in windows:
                self.read_op("changes", table, last, timed=timed, since=v - 1, to=v,
                             lo=lo, hi=hi)
        self.read_op("state", table, last)

    # --------------------------------------------------------- live_tail
    def run_live_tail(self) -> None:
        """Small snapshot, then small files appended one at a time to a
        running query; a change-feed consumer reads each epoch's window;
        a few files carry DDL; the pipeline compacts every
        compact_every epochs; the run ends with crash-shaped restarts."""
        from database_delta_plugins_spark.lake.table import LakeTable

        files = self.manifest["files"]
        log, table, ckpt = (f"{self.work}/log", f"{self.work}/table", f"{self.work}/ckpt")
        stage = f"{self.work}/stage"
        os.makedirs(log)
        os.makedirs(stage)
        pipe = self.pipeline(log, table, ckpt)
        self.load_snapshot(pipe)
        q = pipe.start(available_now=False)
        version = LakeTable.load(self.spark, table).version
        n_plain = len(files) - self.plan.restarts
        try:
            for k in range(len(files)):
                f = files[k]
                shutil.copyfile(f"{self.gen_dir}/log/{f['name']}", f"{stage}/{f['name']}")
                t0 = time.time()
                # written aside and renamed in: the file appears whole
                os.rename(f"{stage}/{f['name']}", f"{log}/{f['name']}")
                with self.tracer.span("op.epoch", epoch=k):
                    op = self._timed(Op("epoch", arg={"epoch": k}), q.processAllAvailable)
                t1 = time.time()
                self.epoch_windows.append((t0, t1))
                self.lags.append(t1 - t0)
                self.apply_s += t1 - t0
                self.events_applied += f["events"]
                if op.error:
                    break
                new = LakeTable.load(self.spark, table).version
                self.read_op("changes", table, k, since=version, to=new, lo=k, hi=k)
                version = new
                if k % self.plan.read_every == 1:
                    self.read_op("point", table, k, urls=self.lookups(k))
                    self.read_op("scan", table, k)
                if k >= n_plain:
                    q = self._crash_restart(pipe, q, table, ckpt)
        finally:
            q.stop()
        self.read_op("state", table, len(files) - 1)

    def _crash_restart(self, pipe, q, table: str, ckpt: str):
        """Stop the query and leave what a crash right after the table
        commit leaves: the epoch is in the table, Spark's commit-log
        entry is not. Restart and wait for the replayed epoch."""
        from database_delta_plugins_spark.lake.table import LakeTable

        q.stop()
        commits = f"{ckpt}/commits"
        last = max(int(n) for n in os.listdir(commits) if n.isdigit())
        for n in (str(last), f".{last}.crc"):
            if os.path.exists(f"{commits}/{n}"):
                os.remove(f"{commits}/{n}")
        before = LakeTable.load(self.spark, table).version
        box = {}

        def run():
            box["q"] = pipe.start(available_now=False)
            box["q"].processAllAvailable()
            return {"before": before, "after": LakeTable.load(self.spark, table).version,
                    "replayed": last, "recommitted": os.path.exists(f"{commits}/{last}")}

        with self.tracer.span("op.restart"):
            op = self._timed(Op("restart"), run)
        self.restart_s.append(op.wall_s)
        return box.get("q") or pipe.start(available_now=False)


class _CommitClock:
    """When each streaming batch ended, from Spark's query-progress
    events: trigger start + trigger duration, so the delivery delay of
    the event does not count."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        ends: dict[int, float] = {}

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                if "addBatch" in d:
                    start = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                    ends[p.batchId] = start.timestamp() + d["triggerExecution"] / 1000

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.ends = ends
        self.listener = L()
        spark.streams.addListener(self.listener)

    def close(self, batches: int, timeout: float = 30.0) -> dict[int, float]:
        """Wait until ``batches`` batches have reported (the events arrive
        asynchronously), then detach; returns batch id -> end time."""
        deadline = time.time() + timeout
        while len(self.ends) < batches and time.time() < deadline:
            time.sleep(0.05)
        self.spark.streams.removeListener(self.listener)
        return dict(self.ends)


def _epoch_files(t) -> dict[int, dict]:
    """Stream epoch -> its input files and committed version, from the
    table's lineage log (the audit records each input file)."""
    out: dict[int, dict] = {}
    for rec in t.lineage_log():
        se = rec.get("stream_epoch")
        if se is None or not se.isdigit():
            continue
        files = sorted({p["file"] for p in rec.get("partition_lineage", []) if "file" in p})
        out[int(se)] = {"files": files, "version": rec["committed_version"]}
    return out


def table_bytes_per_row(spark, table_path: str, live_rows: int) -> float:
    """Bytes of the data files, bucket manifests and snapshot file the
    current snapshot references, divided by its live rows."""
    from database_delta_plugins_spark.lake.table import LakeTable

    t = LakeTable.load(spark, table_path)
    total = os.path.getsize(f"{t.path}/_meta/v{t.version}.json")
    for info in t.snap["buckets"].values():
        if "manifest" in info:
            total += os.path.getsize(f"{t.path}/_meta/{info['manifest']}")
    for segs in t.segments_map().values():
        for seg in segs:
            for rel in seg["files"]:
                total += os.path.getsize(f"{t.path}/{rel}")
    return total / max(live_rows, 1)

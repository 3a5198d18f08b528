"""Streaming CDC apply pipeline (SURVEY.md §3.1's Spark mapping).

readStream over the binlog-shaped event log -> foreachBatch -> per-epoch:

  1. epoch fencing (skip if the epoch is already in the table snapshot —
     exactly-once A3; the reference's apply-then-commit contract,
     delta-plugins-common/.../DBSchemaHistory.java:63-69)
  2. split the batch at DDL events (A4: DDL-before-DML — schema changes
     exactly between sub-batches, matching the stream ordering the
     reference guarantees by construction)
  3. decode/normalize (D1-D12 column exprs), optional vectorized
     extract_text/norm_lang
  4. salted LWW reduce + key-bucketed copy-on-write MERGE
  5. lineage (offset range, rows applied, conflicts) recorded in the
     same atomic snapshot commit

Restart semantics: Spark's checkpoint restores read offsets; epoch ids
are stable for a given checkpoint, so a replayed epoch hits the fence
and is skipped; a partially-applied epoch (sub-batches) re-applies only
the missing segments (segment ids are deterministic). Tombstoned LWW
makes any residual replay idempotent. This is the replay-equivalence
contract of SURVEY.md §3.3 (reference: MySqlConstantOffsetBackingStore
.java:49-89 offset bootstrap + SqlServerRecordConsumer.java:88-97
boundary-replay dedup).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_delta_plugins_spark.functions.udfs import extract_text, norm_lang
from database_delta_plugins_spark.lake.table import LakeTable
from database_delta_plugins_spark.operators import decode
from database_delta_plugins_spark.plans.lineage import batch_audit, partition_lineage

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def event_envelope_schema(payload: T.StructType = PAGES_SCHEMA) -> T.StructType:
    return T.StructType([
        T.StructField("lsn", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("table_name", T.StringType(), True),
        T.StructField("before", payload, True),
        T.StructField("after", payload, True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("is_snapshot", T.BooleanType(), True),
        T.StructField("txn_id", T.StringType(), True),
        T.StructField("ddl", T.StringType(), True),
    ])


class CDCPipeline:
    """One replicator instance: event-log dir -> one LakeTable.

    The reference's reader lifecycle (C1: MySqlEventReader.start/stop,
    mysql/MySqlEventReader.java:85-185) maps onto the StreamingQuery;
    backpressure (C2) onto ``maxFilesPerTrigger``.
    """

    def __init__(
        self,
        spark: SparkSession,
        event_log_dir: str,
        table_path: str,
        checkpoint_dir: str,
        key: str = "url",
        num_buckets: int = 16,
        max_files_per_trigger: int = 2,
        dml_blacklist: set[str] | None = None,
        ddl_blacklist: set[str] | None = None,
        tables: dict[str, str | dict] | None = None,
        columns: list[str] | None = None,
        derive_text_from_html: bool = False,
        normalize_lang: bool = False,
        salt_buckets: int = 64,
        payload_schema: T.StructType = PAGES_SCHEMA,
        runtime_args: dict[str, str] | None = None,
        write_mode: str = "mor",
        compact_every: int = 8,
        database_base: str | None = None,
        source_format: str = "parquet",
        binary_handling: str = "bytes",
        charset_columns: dict[str, str] | None = None,
        post_epoch_hooks: list | None = None,
    ):
        # C4: runtime args prefixed 'source.connector.' override knobs
        # (reference: RuntimeArguments.java:37-45 applied at
        # MySqlEventReader.java:135-138)
        if runtime_args:
            from database_delta_plugins_spark.common import (
                CONNECTOR_PREFIX,
                merge_pipeline_config,
            )

            defaults = {
                "max_files_per_trigger": max_files_per_trigger,
                "num_buckets": num_buckets,
                "salt_buckets": salt_buckets,
                "derive_text_from_html": derive_text_from_html,
                "normalize_lang": normalize_lang,
                "source_format": source_format,
                "compact_every": compact_every,
                "binary_handling": binary_handling,
                "charset": "",
            }
            cfg = merge_pipeline_config(defaults, runtime_args)
            # a removed knob or a typo must not be a silent no-op
            unknown = sorted(set(cfg) - set(defaults))
            if unknown:
                raise ValueError("unknown runtime args: " + ", ".join(
                    CONNECTOR_PREFIX + k for k in unknown))
            max_files_per_trigger = cfg["max_files_per_trigger"]
            num_buckets = cfg["num_buckets"]
            salt_buckets = cfg["salt_buckets"]
            derive_text_from_html = cfg["derive_text_from_html"]
            normalize_lang = cfg["normalize_lang"]
            source_format = cfg["source_format"]
            compact_every = cfg["compact_every"]
            binary_handling = cfg["binary_handling"]
            # source.connector.charset=col:charset[,col:charset] — the
            # flat-string form of the per-column charset map (the
            # reference resolves charset per column from table DDL,
            # MySqlValueConverters.java:381-399,421-474)
            if cfg["charset"]:
                charset_columns = dict(
                    kv.split(":", 1) for kv in cfg["charset"].split(","))
        self.spark = spark
        # post_epoch_hooks: callables (spark, table_path, epoch_id) run
        # after EVERY table's slice of a batch has committed — the seam
        # where derived-state maintenance rides the stream (e.g.
        # dedup.minhash_index_refresh keeps a persisted dedup index
        # current with its own crash-safe cursor). Hooks run OUTSIDE the
        # table's commit: a crash between commit and hook is recovered
        # by the hook's own replay cursor, not by the epoch fence.
        self.post_epoch_hooks = list(post_epoch_hooks or [])
        self.event_log_dir = event_log_dir
        self.table_path = table_path
        self.checkpoint_dir = checkpoint_dir
        self.key = key
        self.num_buckets = num_buckets
        self.max_files_per_trigger = max_files_per_trigger
        self.dml_blacklist = dml_blacklist
        # D8: blacklisted DDL op types are skipped per config;
        # create_table is NEVER blacklistable (the reference hard-codes
        # this: mysql/MySqlRecordConsumer.java:347-356)
        self.ddl_blacklist = {a for a in (ddl_blacklist or set())
                              if a != "create_table"}
        # multi-table replication: table_name -> path (str) or a
        # per-table config dict {path, dml_blacklist, ddl_blacklist,
        # columns} — the reference binds blacklists and selected columns
        # at the TABLE level (MySqlRecordConsumer.java:199-206,244-246;
        # SourceTable.getColumns() used at :265,291). None = single-table
        # mode (every DML/DDL applies to table_path). Unset per-table
        # knobs inherit the pipeline-level defaults.
        self.tables: dict[str, dict] | None = None
        if tables is not None:
            self.tables = {}
            for tname, spec in tables.items():
                if isinstance(spec, str):
                    spec = {"path": spec}
                self.tables[tname] = {
                    "path": spec["path"],
                    "dml_blacklist": spec.get("dml_blacklist", dml_blacklist),
                    # create_table never blacklistable (D8, same rule as
                    # the global set below)
                    "ddl_blacklist": {
                        a for a in (spec.get("ddl_blacklist", ddl_blacklist)
                                    or set()) if a != "create_table"},
                    "columns": spec.get("columns", columns),
                }
        self.columns = columns
        self.derive_text_from_html = derive_text_from_html
        self.normalize_lang = normalize_lang
        self.salt_buckets = salt_buckets
        self.payload_schema = payload_schema
        # mor (merge-on-read) is the ingest default: appends scale with
        # batch size, not table size; compaction runs every N epochs to
        # bound the read-time segment stack.
        self.write_mode = write_mode
        self.compact_every = compact_every
        self.database_base = database_base
        # binlog-shaped log encoding: "parquet" (columnar, footer-stats
        # audit fast path), "json" (Debezium-JSON-lines shape: one
        # envelope object per line, binary as base64 — the wire format a
        # Kafka-connect CDC topic dump lands in), or "socket" (r4: the
        # SAME JSON-lines envelope tailed LIVE over TCP — the network-
        # shaped S2 analogue of the reference's wire tail,
        # mysql/MySqlEventReader.java:164-170; event_log_dir is then a
        # "host:port" address, sources/net.py serves one). Same envelope
        # schema, same apply semantics everywhere; json/socket batches
        # use the full-scan audit (no footers to read). The socket
        # transport is NOT replayable by the checkpoint (Spark's socket
        # source keeps no offsets) — exactly-once across a restart
        # comes from the engine's own mechanisms instead: the server is
        # asked for the tail beyond the table's committed frontier
        # (serve_jsonl_log(from_lsn=pipeline.committed_frontier) — the
        # binlog "start from position" contract, r5), and the D11
        # committed-lsn filter drops any overlap a cruder server still
        # re-serves; epoch fences are namespaced per incarnation (see
        # _fence_ns) so they guard intra-run retries only. Reconverges
        # to the identical state either way (pytest-proven).
        if source_format not in ("parquet", "json", "socket"):
            raise ValueError(
                f"source_format must be parquet|json|socket, got {source_format!r}")
        self.source_format = source_format
        # ADVICE r4: for the socket transport event_log_dir is a
        # host:port address — validate at CONSTRUCTION (a bare
        # int('') ValueError deep in read_stream is a terrible config
        # error; an unbracketed IPv6 literal would silently mis-split)
        if source_format == "socket":
            addr = event_log_dir
            if addr.startswith("["):           # [v6]:port
                h, sep, p = addr.rpartition("]:")
                ok = bool(sep) and p.isdigit()
                self._socket_addr = (h[1:], int(p)) if ok else None
            else:
                h, sep, p = addr.rpartition(":")
                ok = bool(sep) and bool(h) and ":" not in h and p.isdigit()
                self._socket_addr = (h, int(p)) if ok else None
            if self._socket_addr is None:
                raise ValueError(
                    "source_format='socket' requires event_log_dir to be "
                    f"a 'host:port' (or '[ipv6]:port') address, got {addr!r}")
        # Epoch-fence namespace (r5). File sources get "": the checkpoint
        # replays a failed micro-batch with the SAME epoch id and content,
        # so the fence makes the redo a no-op. The socket source cannot
        # checkpoint-replay — every restart is a fresh checkpoint whose
        # batch ids restart at 0 — so an un-namespaced fence COLLIDES
        # with a previous incarnation's committed "0.*" and silently
        # drops brand-new events (found by the r5 tail-restart test).
        # Namespacing per incarnation makes fences serve only intra-run
        # task retries; cross-restart exactly-once comes from the D11
        # committed-lsn frontier filter in _apply_table_log.
        if source_format == "socket":
            import uuid

            self._fence_ns = f"s{uuid.uuid4().hex[:8]}."
        else:
            self._fence_ns = ""
        # U1/C4: binary.handling.mode analogue — with 'hex'/'base64' every
        # BinaryType payload column lands as a string (the reference
        # switches the emitted schema on the knob,
        # MySqlEventReaderIntegrationTest.java:279-303); charset_columns
        # decodes named binary columns bytes->string via the column's
        # charset (vectorized, with utf-8-replace fallback).
        if binary_handling not in ("bytes", "hex", "base64"):
            raise ValueError(
                f"binary_handling must be bytes|hex|base64, got {binary_handling!r}")
        self.binary_handling = binary_handling
        self.charset_columns = charset_columns or {}
        if derive_text_from_html and (
                binary_handling != "bytes" or "html" in self.charset_columns):
            # extract_text consumes RAW html bytes; a landing conversion
            # on the same column would feed it hex/base64/charset text
            raise ValueError(
                "derive_text_from_html requires html to land as bytes "
                "(binary_handling='bytes' and no charset for 'html')")
        self.epoch_lineage: list[dict] = []
        self.listener = None

    def _all_table_paths(self) -> list[str]:
        if self.tables is None:
            return [self.table_path]
        return [cfg["path"] for cfg in self.tables.values()]

    def landed_schema(self) -> T.StructType:
        """The payload schema as it LANDS in the lake table: binary
        columns become strings under hex/base64 handling or a per-column
        charset decode; everything else passes through."""
        fields = []
        for f in self.payload_schema.fields:
            to_string = isinstance(f.dataType, T.BinaryType) and (
                self.binary_handling != "bytes" or f.name in self.charset_columns)
            fields.append(T.StructField(
                f.name, T.StringType() if to_string else f.dataType, f.nullable))
        return T.StructType(fields)

    # ----------------------------------------------------------- bootstrap
    def bootstrap(self, replicate_existing_data: bool = True,
                  snapshot_df: DataFrame | None = None) -> LakeTable:
        """S1/C5: create the target table if missing; optionally seed it
        from an existing snapshot DataFrame as epoch 'snapshot' (the
        reference's `replicateExistingData` initial snapshot,
        mysql/MySqlConfig.java:126-128). Idempotent: re-running after a
        mid-snapshot crash redoes/completes the snapshot epoch (epoch
        fencing makes the redo a no-op if it committed)."""
        landed = self.landed_schema()

        def _projected(cols: list[str] | None) -> T.StructType:
            # D6 at the table level: a projected table is CREATED with
            # only its selected columns (+ key), matching the reference's
            # per-table SourceTable.getColumns() contract — not null-
            # padded to the full source schema.
            if not cols:
                return landed
            keep = set(cols) | {self.key}
            return T.StructType([f for f in landed.fields if f.name in keep])

        if self.tables is None:
            specs = [(self.table_path, self.columns)]
        else:
            specs = [(cfg["path"], cfg["columns"])
                     for cfg in self.tables.values()]
        for p, cols in specs:
            if not LakeTable.exists(p):
                LakeTable.create(self.spark, p, _projected(cols),
                                 key=self.key, num_buckets=self.num_buckets,
                                 write_mode=self.write_mode)
        t = LakeTable.load(self.spark, self._all_table_paths()[0])
        if replicate_existing_data and snapshot_df is not None:
            snap = (
                # snapshot rows take the same binary/charset landing
                # conversion as streamed events — without it, merge's
                # schema normalization would lossy-UTF8-cast raw bytes
                # while the tail lands hex/base64/charset text
                self._convert_binary(snapshot_df)
                .withColumn("op_type", F.lit("I"))
                .withColumn("lsn", F.lit(-1).cast("long"))
                .withColumn("seq", F.monotonically_increasing_id())
                .withColumn("ts_ms", F.lit(None).cast("long"))
            )
            t.merge(snap, epoch_id="snapshot", extra_lineage={"is_snapshot": True},
                    salt_buckets=self.salt_buckets)
            t = t.refresh()
        return t

    # ---------------------------------------------------------- batch body
    def _decoded(self, dml: DataFrame, last_lsn: int | None = None,
                 dml_blacklist: set[str] | None = None,
                 columns: list[str] | None = None) -> DataFrame:
        """Catalyst-only decode of the whole batch. The expensive pandas
        UDFs (extract_text / norm_lang) do NOT run here: they run in
        ``_winner_transform`` AFTER the LWW reduce, on winners only —
        deterministic row transforms commute with winner selection, and
        at bench skew that is ~200x less Arrow/pandas work. The before
        image is pruned to the key (deletes tombstone the payload), so
        nested-schema pruning drops before.html/text from the scan.
        ``dml_blacklist``/``columns`` override the pipeline defaults for
        one table's slice (per-table binding, reference
        MySqlRecordConsumer.java:199-206,244-246)."""
        cols = self.columns if columns is None else columns
        if cols and self.key not in cols:
            cols = [self.key, *cols]
        d = decode.decode_events(
            dml,
            blacklist=self.dml_blacklist if dml_blacklist is None else dml_blacklist,
            last_committed_lsn=last_lsn,
            columns=cols,
            before_key_only=self.key, keep_unknown=True,
        )
        return self._convert_binary(d)

    def _binary_converted_cols(self) -> list[str]:
        return [f.name for f in self.payload_schema.fields
                if isinstance(f.dataType, T.BinaryType)
                and (self.binary_handling != "bytes"
                     or f.name in self.charset_columns)]

    def _convert_binary(self, d: DataFrame) -> DataFrame:
        """U1/C4 binary landing conversion, applied at DECODE time (it
        must precede the merge's schema normalization — casting raw bytes
        to the landed string type there would be a lossy utf-8 cast).
        hex/base64 are pure Catalyst (fused into the decode projection);
        a per-column charset decode is one Arrow pass over the after
        images (before images are already pruned to the key)."""
        from database_delta_plugins_spark.functions.types import (
            binary_handling as _bh, make_charset_decoder)

        for name in self._binary_converted_cols():
            if name not in d.columns:
                continue
            if not isinstance(d.schema[name].dataType, T.BinaryType):
                # already landed as a string (e.g. a snapshot re-seeded
                # from a converted table) — converting again would
                # double-encode or crash the charset decoder
                continue
            if name in self.charset_columns:
                dec = make_charset_decoder(self.charset_columns[name])
                d = d.withColumn(name, dec(F.col(name)))
            else:
                d = d.withColumn(name, _bh(F.col(name), self.binary_handling))
        return d

    def _winner_transform(self, d: DataFrame) -> DataFrame:
        """Vectorized per-record transforms (north rule: pandas/Arrow UDFs,
        zero per-row Python) — applied post-LWW, O(winners) not O(batch)."""
        if self.derive_text_from_html and "html" in d.columns:
            d = d.withColumn("text", extract_text(F.col("html")))
        if self.normalize_lang and "lang" in d.columns:
            d = d.withColumn("lang", norm_lang(F.col("lang")))
        return d

    def _batch_files(self, epoch_id: int | str) -> list[str] | None:
        """Resolve the micro-batch's input files from the streaming
        source's offset log. DSv1 foreachBatch hands the batch over as a
        Scan-ExistingRDD DataFrame — NO column pruning, NO filter
        pushdown, NO parquet footer access: every job over it would
        materialize every column (the 4 KB before/after html!) of every
        event. Re-reading the same files as a real file scan restores
        nested-schema pruning + pushdown for the whole apply path
        (measured: the per-epoch audit job alone drops 2.6 s -> 0.6 s,
        and the LWW tiny scan stops decompressing page payloads).
        Returns None when the batch isn't file-log-backed (direct
        apply_log_batch calls) — caller keeps the handed-over DataFrame.
        """
        if not isinstance(epoch_id, int):
            return None
        if self.source_format == "socket":
            # socket offsets are row counts, not file paths — nothing to
            # rebind; the handed-over DataFrame is the batch
            return None
        import os

        d = os.path.join(self.checkpoint_dir, "sources", "0")
        for name in (str(epoch_id), f"{epoch_id}.compact"):
            p = os.path.join(d, name)
            if not os.path.exists(p):
                continue
            files = []
            try:
                with open(p) as f:
                    f.readline()  # "v1" header
                    for line in f:
                        line = line.strip()
                        if not line:
                            continue
                        e = json.loads(line)
                        if e.get("batchId", epoch_id) == epoch_id:
                            files.append(e["path"])
            except (OSError, json.JSONDecodeError, AttributeError,
                    TypeError, KeyError):
                # unrecognized offset-log shape (non-file source) —
                # keep the handed-over DataFrame
                return None
            return files or None
        return None

    def _grouped_segment_lineage(
        self, dml: DataFrame,
        specs: list[tuple[str | None, list[int], set[str] | None]],
    ) -> dict[tuple[str | None, int], list[dict]]:
        """ONE agg job computing per-(table, DDL-segment, input-partition)
        lineage for every table's slice of the batch (r3 directive #9).
        Previously each table's each segment re-aggregated its own
        lineage — an extra driver job per table per epoch; folded, the
        per-epoch driver job count stays flat in table count.

        ``specs``: (table_name | None for the single-table slice,
        ddl-boundary lsns ascending, dml blacklist). Segment index =
        count of boundaries <= lsn (matching _apply_table_log's
        half-open [lo, hi) split); blacklisted rows are excluded per
        table exactly as decode's null-safe D7 filter does (unknown-op
        rows pass through to be counted)."""
        op_type = decode.op_type_expr("op")
        seg_e, keep_e, name_e = None, None, None
        for tname, bounds, bl in specs:
            cond = F.lit(True) if tname is None else (F.col("table_name") == tname)
            seg = F.lit(0)
            for b in bounds:
                seg = seg + (F.col("lsn") >= F.lit(b)).cast("int")
            keep = (F.lit(True) if not bl else
                    op_type.isNull() | ~op_type.isin(*sorted(bl)))
            name = (F.lit(tname) if tname is not None
                    else F.lit(None).cast("string"))
            seg_e = F.when(cond, seg) if seg_e is None else seg_e.when(cond, seg)
            keep_e = F.when(cond, keep) if keep_e is None else keep_e.when(cond, keep)
            name_e = F.when(cond, name) if name_e is None else name_e.when(cond, name)
        rows = (
            dml.withColumn("_t", name_e).withColumn("_seg", seg_e)
            .withColumn("_keep", keep_e).withColumn("_ot", op_type)
            .filter(F.col("_seg").isNotNull() & F.col("_keep"))
            .groupBy("_t", "_seg", F.spark_partition_id().alias("partition"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.min("lsn").alias("min_lsn"),
                F.max("lsn").alias("max_lsn"),
                F.sum(F.col("_ot").isNull().cast("long")).alias("unknown_ops"),
            )
            .collect()
        )
        out: dict[tuple[str | None, int], list[dict]] = {}
        for r in sorted(rows, key=lambda r: (r["_seg"], r["partition"])):
            out.setdefault((r["_t"], int(r["_seg"])), []).append({
                "partition": int(r["partition"]), "rows": int(r["rows"]),
                "min_lsn": int(r["min_lsn"]), "max_lsn": int(r["max_lsn"]),
                "unknown_ops": int(r["unknown_ops"]),
            })
        return out

    def apply_batch(self, batch_df: DataFrame, epoch_id: int | str) -> list[dict]:
        """foreachBatch body. Deterministically splits the batch at DDL
        boundaries so every DML applies under the schema in force at its
        lsn; each segment commits as its own fenced sub-epoch.

        Driver-side job budget (per-epoch fixed cost bounds streaming
        throughput, so every job must earn its place): per-file lineage
        comes from parquet FOOTERS (zero scan); ONE pushdown probe job
        yields DDL rows + unknown-op counts (row groups skipped on
        footer stats for all-DML batches); the common (no-DDL) batch
        then runs exactly one more action — the merge write, with batch
        totals riding it via observe() and the winner reduce/broadcast
        folded in as its subjobs. AQE is scoped OFF for the batch (see
        apply_batch)."""
        from database_delta_plugins_spark.common import job_desc
        from database_delta_plugins_spark.plans.lineage import batch_audit_fast

        # AQE off for the apply plan: its shuffles are a fixed-width
        # bucket exchange and a tiny salted reduce, its joins broadcast —
        # AQE has nothing to re-plan, but splits every shuffle stage into
        # its own job with a driver re-optimization between (measured
        # ~1-2 s driver latency per epoch). Per-epoch driver time is the
        # serial section that caps N->4N scaling, so it must stay flat.
        # Restored after the batch: analytical queries on the same
        # session keep AQE's skew handling.
        aqe_before = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return self._apply_batch_inner(batch_df, epoch_id)
        finally:
            self.spark.conf.set("spark.sql.adaptive.enabled", aqe_before)

    def _apply_batch_inner(self, batch_df: DataFrame,
                           epoch_id: int | str) -> list[dict]:
        from database_delta_plugins_spark.common import job_desc
        from database_delta_plugins_spark.plans.lineage import batch_audit_fast

        files = self._batch_files(epoch_id)
        if files:
            reader = self.spark.read.schema(
                event_envelope_schema(self.payload_schema))
            batch_df = (reader.json(list(files)) if self.source_format == "json"
                        else reader.parquet(*files))
        dml, _ = decode.split_ddl(batch_df)
        with job_desc(self.spark, f"audit epoch={epoch_id}"):
            # manifest-style audit from parquet footers + pushdown probes
            # (~0.6 s/epoch vs 2.6 s for the full scan); constructed
            # (non-file) batches fall back to the one-job full audit.
            audited = batch_audit_fast(batch_df)
            plin, all_ddls = audited if audited is not None else batch_audit(batch_df)

        # split database-scope ops out, keep table DDLs with their parsed
        # action — D8 blacklist filtering happens PER TABLE below (the
        # reference binds the ddl blacklist at table level,
        # MySqlRecordConsumer.java:244-246).
        tbl_ddls: list[tuple[int, str, str, str | None]] = []
        db_ops: list[tuple[int, dict]] = []
        for lsn, dj, tname in all_ddls:
            action = json.loads(dj).get("action")
            if action in ("create_database", "drop_database"):
                db_ops.append((lsn, json.loads(dj)))
            else:
                tbl_ddls.append((lsn, action, dj, tname))

        # database-scope ops (DD4): catalog-level, applied first — the
        # reference creates/drops the target dataset namespace.
        if db_ops and self.database_base:
            from database_delta_plugins_spark.sources import registry

            for _lsn, op in sorted(db_ops, key=lambda x: x[0]):
                if op["action"] == "create_database":
                    registry.create_database(self.database_base, op["name"])
                else:
                    registry.drop_database(self.database_base, op["name"])

        # the batch's DML lsn high-water mark (from the already-computed
        # audit — no extra job); used to advance idle tables' replay
        # frontiers in socket mode so min-frontier restarts stay
        # tail-sized (r5 review: an event-less table otherwise pins the
        # frontier and every reconnect re-ships the whole history)
        batch_max = max((e["max_lsn"] for e in plin
                         if e.get("max_lsn") is not None), default=None)
        if batch_max is None and self.source_format == "socket":
            # footer-based audits carry no lsn stats for columns the
            # files never wrote (constructed/hybrid batches) — one
            # narrow agg recovers the high-water mark; the normal
            # socket path (full-scan audit) never reaches this
            batch_max = dml.agg(F.max("lsn")).head()[0]
        out = []
        if self.tables is None:
            ddl_rows = [(lsn, dj) for lsn, a, dj, _t in tbl_ddls
                        if a not in self.ddl_blacklist]
            seg_lineage = None
            if ddl_rows:
                # DDL-split epoch: ONE grouped agg replaces a
                # partition_lineage job per segment
                seg_lineage = self._grouped_segment_lineage(
                    dml, [(None, [b for b, _ in ddl_rows],
                           self.dml_blacklist)])
            out += self._apply_table_log(
                self.table_path, dml, ddl_rows,
                epoch_id, plin, len(tbl_ddls) - len(ddl_rows), seg_prefix="",
                seg_lineage=None if seg_lineage is None else {
                    i: seg_lineage.get((None, i), [])
                    for i in range(len(ddl_rows) + 1)},
                batch_max_lsn=batch_max)
        else:
            # per-table dispatch from one interleaved log
            # (MySqlRecordConsumer.java:199-206): DML routes on
            # table_name; a table's DDL only splits ITS segments; each
            # table applies ITS OWN blacklists and column projection.
            per_table: dict[str, list[tuple[int, str]]] = {}
            skipped: dict[str, int] = {}
            for tname, cfg in self.tables.items():
                t_all = [(lsn, a, dj) for lsn, a, dj, tn in tbl_ddls
                         if tn == tname]
                per_table[tname] = [(lsn, dj) for lsn, a, dj in t_all
                                    if a not in cfg["ddl_blacklist"]]
                skipped[tname] = len(t_all) - len(per_table[tname])
            # r3 directive #9: one grouped agg for EVERY table's every
            # segment — per-epoch driver job count flat in table count
            grouped = self._grouped_segment_lineage(
                dml, [(tname, [b for b, _ in per_table[tname]],
                       cfg["dml_blacklist"])
                      for tname, cfg in self.tables.items()])
            for tname, cfg in self.tables.items():
                t_dml = dml.filter(F.col("table_name") == tname)
                t_ddls = per_table[tname]
                out += self._apply_table_log(
                    cfg["path"], t_dml, t_ddls, epoch_id, plin,
                    skipped[tname], seg_prefix=f"{tname}.",
                    dml_blacklist=cfg["dml_blacklist"],
                    columns=cfg["columns"],
                    seg_lineage={i: grouped.get((tname, i), [])
                                 for i in range(len(t_ddls) + 1)},
                    batch_max_lsn=batch_max)
        def _run_hooks() -> None:
            # only tables that exist: in multi-table mode a table is
            # created at its first event, and a hook loading a
            # never-created path would fail the micro-batch
            for tpath in self._all_table_paths():
                if not LakeTable.exists(tpath):
                    continue
                for hook in self.post_epoch_hooks:
                    hook(self.spark, tpath, epoch_id)

        if self.post_epoch_hooks:
            # pass 1, BEFORE compaction: refreshers consume this epoch's
            # changes through a window that spans no file rewrite
            _run_hooks()
        # bound the mor segment-stack depth
        compacted = False
        if (self.compact_every and isinstance(epoch_id, int)
                and epoch_id > 0 and epoch_id % self.compact_every == 0):
            for tpath in self._all_table_paths():
                if LakeTable.exists(tpath):
                    LakeTable.load(self.spark, tpath).compact(
                        max_segments_per_bucket=1)
                    compacted = True
        if compacted and self.post_epoch_hooks:
            # pass 2, AFTER compaction: advances each refresher's cursor
            # past the rewrite version in a window that contains ONLY
            # the compaction commit, so the NEXT epoch's window starts
            # above the rewrite and does not re-read its files
            _run_hooks()
        self.epoch_lineage.extend(out)
        if self.listener is not None:
            self.listener.record_sink_rows(
                epoch_id, sum(r.get("rows_applied", 0) for r in out))
        return out

    def _apply_table_log(self, table_path: str, dml: DataFrame,
                         ddl_rows: list[tuple[int, str]],
                         epoch_id: int | str, plin: list[dict],
                         ddl_skipped: int, seg_prefix: str,
                         dml_blacklist: set[str] | None = None,
                         columns: list[str] | None = None,
                         seg_lineage: dict[int, list[dict]] | None = None,
                         batch_max_lsn: int | None = None
                         ) -> list[dict]:
        """Apply one table's DML+DDL slice of the batch: split at DDL
        boundaries, merge each segment as its own fenced sub-epoch,
        apply each DDL transactionally between segments (A4)."""
        table = LakeTable.load(self.spark, table_path)
        # D11 replay frontier, fixed at batch entry — SOCKET TRANSPORT
        # ONLY. The wire delivers the log in lsn order, so a new batch's
        # events all sit above the committed frontier and anything at or
        # below it is a replay (a reconnect re-serve, a re-delivered
        # batch in a fresh incarnation) — the reference's consumer-side
        # offset dedup (SqlServerRecordConsumer.java:88-97). File
        # sources must NOT frontier-filter: Spark's file source orders
        # batches by file mtime, not lsn (a 4-file write with tied
        # mtimes measurably delivered lsn ranges out of order), so the
        # premise fails — and they don't need it, because the checkpoint
        # replays a failed batch with identical content and the epoch
        # fence already makes that redo a no-op.
        frontier = (table.last_committed_lsn()
                    if self.source_format == "socket" else None)
        boundaries = [lsn for lsn, _ in ddl_rows]
        segments: list[tuple[str, int | None, int | None, list[tuple[int, str]]]] = []
        lo = None
        ns = self._fence_ns
        for i, b in enumerate(boundaries):
            segments.append((f"{ns}{epoch_id}.{seg_prefix}{i}", lo, b,
                             [(b, ddl_rows[i][1])]))
            lo = b
        segments.append((f"{ns}{epoch_id}.{seg_prefix}{len(boundaries)}",
                         lo, None, []))

        out = []
        # half-open segments [lo, hi): a DML sharing the DDL's lsn applies
        # in the NEXT segment (after the DDL) — deterministic, never lost.
        for seg_idx, (seg_id, lo_b, hi_b, ddls) in enumerate(segments):
            seg = dml
            if lo_b is not None:
                seg = seg.filter(F.col("lsn") >= lo_b)
            if hi_b is not None:
                seg = seg.filter(F.col("lsn") < hi_b)
            if seg_id not in table.committed_epochs() and table.is_dropped:
                # DML addressed to a dropped table is discarded — but the
                # segment must still FENCE, or a replay after a later
                # create_table revive would apply it (see record_epoch).
                table.record_epoch(seg_id, note="table_dropped")
                table = table.refresh()
            if seg_id not in table.committed_epochs() and not table.is_dropped:
                d = self._decoded(seg, last_lsn=frontier,
                                  dml_blacklist=dml_blacklist,
                                  columns=columns)
                if seg_lineage is not None:
                    # pre-folded by _grouped_segment_lineage (one job for
                    # ALL tables/segments of the epoch)
                    seg_lin = seg_lineage.get(seg_idx, [])
                elif boundaries or seg_prefix:
                    # DDL-split or multi-table slice without a fold (not
                    # reachable from apply_batch; direct callers)
                    seg_lin = partition_lineage(d, op_col="op_type")
                else:
                    seg_lin = plin
                d = d.filter(F.col("op_type").isNotNull())
                rec = table.merge(
                    d,
                    epoch_id=seg_id,
                    salt_buckets=self.salt_buckets,
                    transform=self._winner_transform,
                    extra_lineage={
                        "stream_epoch": str(epoch_id),
                        "table": table.table_name,
                        "partition_lineage": seg_lin,
                        "events_skipped_unknown_op": sum(
                            p.get("unknown_ops", 0) for p in seg_lin),
                        "ddl_skipped_blacklist": ddl_skipped,
                    },
                )
                table = table.refresh()
                out.append(rec)
            # apply DDL(s) that close this segment (dedup by lsn inside)
            for lsn, ddl_json in ddls:
                changed = table.apply_ddl(json.loads(ddl_json), lsn=lsn)
                if changed:
                    table = table.refresh()
        # Frontier advance for event-less slices (socket mode, r5): the
        # wire delivers the log in lsn order and the batch is a
        # contiguous prefix of undelivered events, so once THIS table's
        # segments are committed it has logically seen everything up to
        # the batch's DML high-water mark — record it, or an idle table
        # pins the multi-table MIN frontier at its last event forever
        # and every reconnect re-ships the whole history. One metadata-
        # only commit per table per batch, only when the frontier would
        # actually move; fenced by the same per-incarnation epoch id
        # scheme as data segments (idempotent on replay). Sound under a
        # partial-batch crash: the advance claims only this table's
        # slice, which is fully committed by this point.
        if self.source_format == "socket" and batch_max_lsn is not None:
            table = table.refresh()
            cur = table.last_committed_lsn()
            if cur is None or cur < batch_max_lsn:
                table.record_epoch(f"{ns}{epoch_id}.{seg_prefix}adv",
                                   note="frontier_advance",
                                   max_lsn=int(batch_max_lsn))
        return out

    # ------------------------------------------------------------- runners
    def committed_frontier(self) -> int:
        """The durable replay frontier: the MINIMUM committed lsn across
        this pipeline's tables (0 before any commit, and 0 while any
        table has no commit yet). This is the binlog position the
        reference's connector stores in its offset state — here it lives
        in the lake tables' commit lineage, so it survives restarts with
        the data it fences. Pass as the tail server's ``from_lsn``
        callable (``sources/net.serve_jsonl_log``) so a reconnect
        streams only events beyond what is already applied — at 100 TB
        a from-0 re-tail re-ships the whole history over the wire just
        for D11 to discard it.

        Min, NOT max: tables commit sequentially within a batch, so a
        crash between two tables' commits leaves their frontiers split.
        A max-frontier restart would never re-serve the lagging table's
        gap — silent divergence; with min, the overlap the leading table
        re-receives is dropped per table by the D11 committed-lsn
        filter (the r4 from-0 replay relied on exactly that, this is
        the same mechanism over a shorter tail)."""
        frontiers = []
        for p in self._all_table_paths():
            f = (LakeTable.load(self.spark, p).last_committed_lsn()
                 if LakeTable.exists(p) else None)
            frontiers.append(0 if f is None else f)
        return min(frontiers, default=0)

    def read_stream(self) -> DataFrame:
        if self.source_format == "socket":
            host, port = self._socket_addr
            lines = (
                self.spark.readStream.format("socket")
                .option("host", host).option("port", port).load()
            )
            env = event_envelope_schema(self.payload_schema)
            # from_json decodes BinaryType from base64 exactly like the
            # json file reader, so the wire and file encodings land the
            # same envelope columns
            return lines.select(
                F.from_json(F.col("value"), env).alias("e")).select("e.*")
        reader = (
            self.spark.readStream.schema(event_envelope_schema(self.payload_schema))
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
        )
        return (reader.json(self.event_log_dir) if self.source_format == "json"
                else reader.parquet(self.event_log_dir))

    def start(self, available_now: bool = True, with_metrics: bool = False):
        """C1 lifecycle: returns the StreamingQuery (stop() to halt).
        with_metrics attaches a ThroughputListener (C3 health/metrics)."""
        if not all(LakeTable.exists(p) for p in self._all_table_paths()):
            self.bootstrap(replicate_existing_data=False)
        if with_metrics and self.listener is None:
            from database_delta_plugins_spark.plans.metrics import ThroughputListener

            self.listener = ThroughputListener()
            self.spark.streams.addListener(self.listener)
        writer = (
            self.read_stream()
            .writeStream.foreachBatch(lambda df, eid: self.apply_batch(df, eid))
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, timeout_sec: int | None = None) -> LakeTable:
        q = self.start(available_now=True)
        q.awaitTermination(timeout_sec) if timeout_sec else q.awaitTermination()
        return LakeTable.load(self.spark, self._all_table_paths()[0])

    def apply_log_batch(self, events: DataFrame) -> LakeTable:
        """Batch-mode convenience: apply a whole (bounded) event log in one
        epoch — used by tests/queries; same code path as streaming."""
        if not all(LakeTable.exists(p) for p in self._all_table_paths()):
            self.bootstrap(replicate_existing_data=False)
        self.apply_batch(events, "batch-0")
        return LakeTable.load(self.spark, self._all_table_paths()[0])

"""LakeTable — a minimal from-scratch ACID snapshot table format on parquet.

No Iceberg/Delta jars ship in this environment, so the lake layer the
north rule needs (transactional MERGE upsert, schema evolution applied
before the batch commit, epoch-fenced exactly-once) is implemented from
scratch with Iceberg-equivalent *semantics*:

* **Snapshots**: immutable metadata JSON ``_meta/v{N}.json`` listing the
  data files per key-bucket; the COMMIT POINT is a conditional
  put-if-absent of that file (lake/metaio.py — POSIX hardlink in the
  sandbox, S3 If-None-Match at 100 TB); ``_meta/CURRENT`` is only a
  fast-path hint, with a listing fallback — atomic commits, time
  travel, and consistent reads for free, no rename primitive needed.
* **Key-bucketed MERGE, two write modes**: rows are hash-bucketed on
  the primary key (``pmod(xxhash64(url), num_buckets)``; the Iceberg
  ``bucket(N, url)`` partition transform).
  - ``cow`` (copy-on-write): a merge joins updates against the touched
    buckets and rewrites them — reads stay cheap (one segment/bucket),
    writes cost O(touched buckets). Right when updates cluster.
  - ``mor`` (merge-on-read, LSM-style): a merge only APPENDS the batch's
    per-key winners as a new segment per bucket — write cost is
    O(batch), independent of table size; reads resolve last-writer-wins
    across the bucket's segment stack; ``compact()`` folds stacks back
    to one segment. This is the 10^10-events ingest path: CoW would
    rewrite the whole table every epoch once updates spread across all
    buckets; MoR never does. (Iceberg MoR delete-file analogue, with
    equality-delete semantics folded into the LWW reduce.)
* **Soft deletes**: tombstone rows (``_is_deleted``) keep (key, _lsn,
  _seq) so out-of-order replay converges — mirrors the reference
  target's ``_is_deleted``/``_sequence_num`` bookkeeping
  (mysql-delta-plugins/src/e2e-test/java/io/cdap/plugin/BQValidation.java:86-87).
* **Epoch fencing**: the epoch commit record lives INSIDE the snapshot
  JSON, so data-apply and offset-commit are one atomic swap — the
  apply-then-commit ordering the reference documents at
  delta-plugins-common/.../DBSchemaHistory.java:63-69 becomes impossible
  to violate, and a replayed epoch is detected and skipped (analogue of
  SqlServerRecordConsumer.java:88-97 replay dedup).
* **Schema evolution by field id**: schemas carry stable field ids;
  rename is metadata-only, add null-fills old files, widen casts on
  read (int->bigint, float->double) — Iceberg's evolution rules
  (reference analogue: ALTER handling at
  mysql-delta-plugins/.../MySqlRecordConsumer.java:247-269).

Single writer per table (matching the reference: one replicator
instance per source, C7 in SURVEY.md); concurrent commits are detected
via exclusive metadata-file creation and fail cleanly.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# _commit_version is row lineage (Iceberg v3 _last_updated_sequence_number,
# Delta row_commit_version): the version of the commit that last CHANGED
# the row; rewrites (cow carry-over, compact, rebucket) keep it. Null on
# rows written before the column existed (see row_lineage_from).
SYSTEM_COLS = ["_lsn", "_seq", "_is_deleted", "_ingest_ms", "_commit_version"]
_SYSTEM_FIELDS = [
    T.StructField("_lsn", T.LongType(), True),
    T.StructField("_seq", T.LongType(), True),
    T.StructField("_is_deleted", T.BooleanType(), False),
    T.StructField("_ingest_ms", T.LongType(), True),
    T.StructField("_commit_version", T.LongType(), True),
]
# segment body of a bucket whose commit wrote no file
_NO_FILES = {"files": [], "rows": 0, "min_lsn": None, "max_lsn": None}

_WIDEN_OK = {("int", "bigint"), ("float", "double"), ("int", "double")}


def _type_from_str(s: str) -> T.DataType:
    return T._parse_datatype_string(s)


class LakeTable:
    def __init__(self, spark: SparkSession, path: str, snap: dict, io=None):
        from database_delta_plugins_spark.lake.metaio import LocalMetaIO

        self.spark = spark
        self.path = path.rstrip("/")
        self.snap = snap
        # all _meta/ access goes through the MetaIO abstraction (POSIX in
        # the sandbox, put-if-absent object-store semantics at 100 TB —
        # see lake/metaio.py). Data-file I/O stays on Spark's Hadoop
        # filesystem layer, which already speaks s3a/gs/abfs.
        self.io = io if io is not None else LocalMetaIO()
        # per-bucket manifest bodies are immutable once written (unique
        # uuid-suffixed names), so resolved segment lists cache safely
        # for this instance's lifetime — refresh() starts a fresh cache.
        self._manifest_cache: dict[str, list[dict]] = {}

    # ------------------------------------------------------------ lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key: str = "url",
        num_buckets: int = 16,
        properties: dict | None = None,
        write_mode: str = "cow",
        io=None,
    ) -> "LakeTable":
        from database_delta_plugins_spark.lake.metaio import LocalMetaIO

        io = io if io is not None else LocalMetaIO()
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be cow|mor, got {write_mode!r}")
        path = path.rstrip("/")
        io.makedirs(f"{path}/_meta", exist_ok=False)
        fields = [
            {"id": i + 1, "name": f.name, "type": f.dataType.simpleString(),
             "nullable": bool(f.nullable)}
            for i, f in enumerate(schema.fields)
        ]
        if key not in [f["name"] for f in fields]:
            raise ValueError(f"key column {key!r} not in schema")
        snap = {
            "format_version": 3,
            "table_uuid": str(uuid.uuid4()),
            "version": 0,
            "table_name": os.path.basename(path),
            "dropped": False,
            "key": key,
            "write_mode": write_mode,
            "num_buckets": int(num_buckets),
            "last_field_id": len(fields),
            "current_schema_id": 0,
            "schemas": {"0": fields},
            "buckets": {},
            "epochs": {},
            "schema_history": [],
            "properties": properties or {},
            "created_ms": int(time.time() * 1000),
        }
        t = cls(spark, path, snap, io=io)
        t._write_snapshot(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str, io=None) -> "LakeTable":
        from database_delta_plugins_spark.lake.metaio import LocalMetaIO

        io = io if io is not None else LocalMetaIO()
        path = path.rstrip("/")
        meta = f"{path}/_meta"
        # CURRENT is a fast-path HINT: the commit point is the
        # put-if-absent of v{N}.json itself, so a crash between that put
        # and the hint update must not lose the commit — take the max
        # PARSEABLE version at or above the hint (an unparseable v{N} is
        # a legacy partial-write artifact, ignored here and cleared by
        # the next commit at that version).
        try:
            v = int(io.read_text(f"{meta}/CURRENT").strip())
        except FileNotFoundError:
            v = -1
        best: dict | None = None
        for fn in io.list(meta):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            try:
                n = int(fn[1:-5])
            except ValueError:
                continue
            if n < v or (best is not None and n <= best["version"]):
                continue
            try:
                snap = json.loads(io.read_text(f"{meta}/{fn}"))
            except (json.JSONDecodeError, FileNotFoundError):
                continue
            if best is None or snap["version"] > best["version"]:
                best = snap
        if best is None:
            raise FileNotFoundError(f"no readable snapshot under {meta}")
        return cls(spark, path, best, io=io)

    @staticmethod
    def exists(path: str, io=None) -> bool:
        from database_delta_plugins_spark.lake.metaio import LocalMetaIO

        io = io if io is not None else LocalMetaIO()
        return io.exists(f"{path.rstrip('/')}/_meta/CURRENT")

    def refresh(self) -> "LakeTable":
        return LakeTable.load(self.spark, self.path, io=self.io)

    # ------------------------------------------------------------ accessors
    @property
    def version(self) -> int:
        return self.snap["version"]

    @property
    def key(self) -> str:
        return self.snap["key"]

    @property
    def num_buckets(self) -> int:
        return self.snap["num_buckets"]

    @property
    def write_mode(self) -> str:
        return self.snap.get("write_mode", "cow")

    @property
    def table_name(self) -> str:
        return self.snap.get("table_name", os.path.basename(self.path))

    @property
    def is_dropped(self) -> bool:
        return bool(self.snap.get("dropped"))

    def _schema_fields(self, schema_id: int | None = None) -> list[dict]:
        sid = self.snap["current_schema_id"] if schema_id is None else schema_id
        return self.snap["schemas"][str(sid)]

    def schema(self) -> T.StructType:
        """Current payload schema (no system columns)."""
        return T.StructType([
            T.StructField(f["name"], _type_from_str(f["type"]), f["nullable"])
            for f in self._schema_fields()
        ])

    def full_schema(self) -> T.StructType:
        return T.StructType(list(self.schema().fields) + _SYSTEM_FIELDS)

    def committed_epochs(self) -> dict:
        return self.snap["epochs"]

    def last_committed_lsn(self) -> int | None:
        eps = self.snap["epochs"].values()
        return max((e["max_lsn"] for e in eps if e.get("max_lsn") is not None), default=None)

    # ----------------------------------------------------- bucket manifests
    # r3 directive #2 (Iceberg-style manifest sharding): the snapshot
    # carries only bucket -> manifest POINTERS; each bucket's segment/file
    # list lives in an immutable per-bucket manifest object written only
    # when that bucket changes. Commit-time metadata I/O is therefore
    # O(touched buckets), not O(table files): a 512-bucket, 10^7-file
    # table committing one hot bucket writes one small manifest + a
    # pointer-sized snapshot. format_version 2 snapshots (inline
    # "segments") still read transparently.

    def _segments_of(self, info: dict) -> list[dict]:
        """Resolve one bucket's segment list — inline (v2) or via its
        manifest pointer (v3, cached; manifests are immutable)."""
        if "segments" in info:
            return info["segments"]
        rel = info["manifest"]
        segs = self._manifest_cache.get(rel)
        if segs is None:
            segs = self._fetch_manifest(rel)
            self._manifest_cache[rel] = segs
        return segs

    def _fetch_manifest(self, rel: str) -> list[dict]:
        """The one place that knows the manifest wire format (path layout
        + JSON envelope) — shared by lazy resolution and the concurrent
        prefetch so they can never diverge."""
        return json.loads(
            self.io.read_text(f"{self.path}/_meta/{rel}"))["segments"]

    def _prefetch_manifests(self, snap: dict,
                            buckets: list[int] | None = None) -> None:
        """Warm the manifest cache CONCURRENTLY for the selected buckets
        (thread pool over MetaIO gets — read_text must be concurrency-
        safe, part of the MetaIO contract; see lake/metaio.py). On an
        object store a 512-bucket scan would otherwise pay 512
        sequential driver round-trips (~50-100 ms each) before any Spark
        job starts; fetched in parallel it is one round-trip-time deep.
        No-op for cached or inline (v2) entries."""
        missing = []
        for b, info in snap["buckets"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            if "manifest" in info and info["manifest"] not in self._manifest_cache:
                missing.append(info["manifest"])
        if len(missing) < 2:
            return
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(missing))) as ex:
            for rel, segs in zip(missing, ex.map(self._fetch_manifest, missing)):
                self._manifest_cache[rel] = segs

    @staticmethod
    def _nseg(info: dict) -> int:
        """Segment-stack depth without loading the manifest body."""
        if "segments" in info:
            return len(info["segments"])
        return int(info["nseg"])

    def _write_manifest(self, version: int, b: int,
                        segments: list[dict]) -> dict:
        """Write one bucket's manifest object; returns the snapshot
        pointer entry. Unique name per write — no conditional put needed
        (the snapshot's put-if-absent is the only commit point)."""
        rel = f"manifests/b{b}-v{version}-{uuid.uuid4().hex[:8]}.json"
        self.io.makedirs(f"{self.path}/_meta/manifests", exist_ok=True)
        self.io.put(f"{self.path}/_meta/{rel}",
                    json.dumps({"bucket": b, "segments": segments}))
        self._manifest_cache[rel] = segments
        return {"manifest": rel, "nseg": len(segments)}

    def segments_map(self, buckets: list[int] | None = None
                     ) -> dict[int, list[dict]]:
        """Public view of the current snapshot's per-bucket segment
        stacks (tests/tooling; resolves manifest pointers)."""
        out = {}
        for b, info in self.snap["buckets"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            out[int(b)] = self._segments_of(info)
        return out

    # ------------------------------------------------------------ read path
    def bucket_expr(self, col) -> F.Column:
        return F.pmod(F.xxhash64(col), F.lit(self.num_buckets)).cast("int")

    def _read_files(self, rels: list[str], schema: T.StructType) -> DataFrame:
        """The one reader of committed data files. The schema comes from
        the snapshot, never from parquet footers: ``spark.read.parquet``
        without one runs a footer-inference job per call, a fixed cost
        that dominated short reads."""
        return self.spark.read.schema(schema).parquet(
            *[f"{self.path}/{p}" for p in rels])

    def _read_group(self, snap: dict, sid: int, rels: list[str],
                    target: list[dict], with_file: bool = False) -> DataFrame:
        """Read files written under schema ``sid`` with that write-time
        schema (+ system columns), projected onto ``target`` by field id:
        rename is metadata-only, added columns null-fill, widened types
        cast. ``with_file`` appends the source file path as ``_src_file``
        (the mor resolve's tie-break)."""
        written = snap["schemas"][str(sid)]
        df = self._read_files(rels, T.StructType(
            [T.StructField(f["name"], _type_from_str(f["type"]), True)
             for f in written] + _SYSTEM_FIELDS))
        old = {f["id"]: f for f in written}
        cols = [
            (F.col(old[f["id"]]["name"]) if f["id"] in old else F.lit(None))
            .cast(f["type"]).alias(f["name"])
            for f in sorted(target, key=lambda f: f["id"])
        ] + [F.col(c) for c in SYSTEM_COLS]
        if with_file:
            cols.append(F.col("_metadata.file_path").alias("_src_file"))
        return df.select(*cols)

    def scan(self, buckets: list[int] | None = None,
             version: int | None = None) -> DataFrame:
        """Internal scan: payload + system columns, tombstones included.

        Schema-on-read: every file group is read with the schema the
        snapshot recorded when it was written (no footer inference) and
        projected to the current schema by field id (rename =
        metadata-only; added columns null-fill; widened types cast). Only
        the requested buckets' files are read — manifest-level pruning,
        the analogue of Iceberg partition pruning.

        Merge-on-read resolve is LATE-MATERIALIZED — the payload never
        enters an exchange. A bucket's stack is BASE (segments[0], the
        compacted bulk) + DELTA (appended epoch segments — small,
        ``compact()`` bounds the stack). Only keys present in a delta
        segment can need resolution, so:

          1. candidates C = the rows of the stack whose key appears in
             the delta (a broadcast semi join on the delta's keys),
             NARROW columns only — (key, _lsn, _seq, source file);
             column pruning reaches the parquet scan, so the 4 KB html
             payload of losing versions is never read;
          2. result = rows of the stack with no row of C that has the
             same key and orders strictly above them by (_lsn, _seq,
             source file) — one broadcast ANTI join, payload map-side.

        The source file path makes the order total: an at-least-once
        source can commit the same (key, _lsn, _seq) into two segments
        (a winning event re-delivered in a later epoch), and exactly one
        copy survives. Keys are unique within a file (_bucket_local_dedup
        collapses each segment to one row per key), so no two rows of a
        key tie. Three jobs: two broadcast builds and the read itself
        (Spark adds a file-listing job for a schema group of more files
        than ``spark.sql.sources.parallelPartitionDiscovery.threshold``).
        When the manifest says the delta is too big to broadcast
        (``properties.mor_resolve_broadcast_rows``, default 4M delta rows
        — C holds at most twice that; i.e. compaction is far behind),
        falls back to the one-shuffle payload-wide max_by reduce."""
        snap = self.snap
        if version is not None and version != snap["version"]:
            snap = json.loads(self.io.read_text(f"{self.path}/_meta/v{version}.json"))
        self._prefetch_manifests(snap, buckets)
        # group files by schema_id: every segment, and the delta alone
        # (appended epoch segments — every segment after a bucket's first)
        all_groups: dict[int, list[str]] = {}
        delta_groups: dict[int, list[str]] = {}
        delta_rows = 0
        delta_rows_unknown = False
        for b, info in snap["buckets"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            for i, seg in enumerate(self._segments_of(info)):
                all_groups.setdefault(seg["schema_id"], []).extend(seg["files"])
                if i == 0:
                    continue
                delta_groups.setdefault(seg["schema_id"], []).extend(seg["files"])
                # manifest row stats (None for legacy v2 segments). A
                # stat-less delta is UNSIZEABLE: counting it as 0 could
                # broadcast an arbitrarily large delta (driver OOM), so it
                # forces the shuffle fallback instead.
                if seg.get("rows") is None:
                    delta_rows_unknown = True
                else:
                    delta_rows += seg["rows"]
        limit = int(self.snap.get("properties", {}).get(
            "mor_resolve_broadcast_rows", 4_000_000))
        broadcast = not (delta_rows_unknown or delta_rows > limit)
        target = snap["schemas"][str(snap["current_schema_id"])]

        def _read_groups(groups: dict[int, list[str]],
                         with_file: bool) -> DataFrame | None:
            parts = [self._read_group(snap, sid, rels, target, with_file)
                     for sid, rels in groups.items() if rels]
            return reduce(DataFrame.unionByName, parts) if parts else None

        has_delta = any(delta_groups.values())
        rows = _read_groups(all_groups, with_file=has_delta and broadcast)
        if rows is None:
            return self.spark.createDataFrame([], self.full_schema())
        if not has_delta:
            return rows
        if broadcast:
            delta_keys = _read_groups(delta_groups, with_file=False)
            return self._resolve_lww_broadcast(rows, delta_keys, snap["key"])
        return self._resolve_lww_shuffle(rows, snap["key"])

    @staticmethod
    def _resolve_lww_broadcast(rows: DataFrame, delta: DataFrame,
                               key: str) -> DataFrame:
        """Late-materialized mor resolve (see scan): one narrow candidate
        set, one broadcast anti join, payload never shuffled."""
        order = ["_lsn", "_seq", "_src_file"]
        cand = (
            rows.select(key, *order)
            .join(F.broadcast(delta.select(key)), key, "semi")
            .select(F.col(key).alias("_c_key"),
                    F.struct(*order).alias("_c_order"))
        )
        return rows.join(
            F.broadcast(cand),
            (F.col(key) == F.col("_c_key"))
            & (F.col("_c_order") > F.struct(*order)),
            "left_anti",
        ).drop("_src_file")

    def _resolve_lww_shuffle(self, out: DataFrame, key: str) -> DataFrame:
        """Fallback mor resolve: one payload-wide shuffle with map-side
        partial combine (max_by over the full struct). Used when the
        delta exceeds the broadcast budget — compaction has fallen far
        behind — or has no row stats to size it by."""
        others = [c for c in out.columns if c != key]
        winner = F.max_by(
            F.struct(*[F.col(c) for c in others]),
            F.struct(F.col("_lsn"), F.col("_seq")),
        ).alias("_w")
        return out.groupBy(key).agg(winner).select(
            key, *[F.col(f"_w.{c}").alias(c) for c in others]
        )

    def read(self, include_deleted: bool = False, version: int | None = None) -> DataFrame:
        """User-facing view: payload columns, tombstones filtered.

        Time travel projects the REQUESTED version's schema, not HEAD's —
        scan(version=v) returns version-v columns, so selecting HEAD field
        names would break across any add/rename/drop since v (Iceberg
        semantics: a snapshot pins its schema)."""
        df = self.scan(version=version)
        if not include_deleted:
            df = df.filter(~F.col("_is_deleted"))
        snap = self.snap
        if version is not None and version != snap["version"]:
            snap = json.loads(self.io.read_text(f"{self.path}/_meta/v{version}.json"))
        fields = snap["schemas"][str(snap["current_schema_id"])]
        return df.select(*[f["name"] for f in fields])

    # -------------------------------------------------------------- commits
    def _write_snapshot(self, snap: dict) -> None:
        from database_delta_plugins_spark.lake.metaio import AlreadyExists

        v = snap["version"]
        meta = f"{self.path}/_meta"
        target = f"{meta}/v{v}.json"
        # THE COMMIT POINT: conditional put of v{N}.json — optimistic
        # concurrency on the one primitive object stores provide
        # (put-if-absent; see lake/metaio.py). Data files were written
        # before this, so a crash before the put leaves only
        # unreferenced data (expire_snapshots cleans it), and a crash
        # after it is a COMPLETED commit that load() finds by listing
        # even though the CURRENT hint was never updated.
        #
        # AlreadyExists disambiguation: a PARSEABLE v{N} is a genuine
        # competing commit -> raise (the caller lost the race). An
        # unparseable one is a partial-write artifact from a legacy
        # non-atomic writer crash -> clear it and retry once.
        #
        # The delete+retry recovery is SINGLE-WRITER ONLY (ADVICE r2):
        # two RACING writers could both classify the artifact as partial,
        # A delete+put commits, then B deletes A's now-valid snapshot and
        # puts its own — A's commit silently lost. Plain put-if-absent
        # cannot order a re-validate after a delete (that needs a
        # conditional delete / generation match the MetaIO contract
        # doesn't require), so under the multi-writer OCC contract
        # (properties.strict_occ) AlreadyExists is terminal: the caller
        # reloads and retries at the next version; an unparseable
        # artifact needs out-of-band repair. The default single-writer
        # mode (the reference's one-replicator-per-source contract, C7)
        # keeps the recovery: with one writer the artifact can only be
        # OUR OWN prior crash.
        #
        # row_lineage_from: the first version whose data files all carry
        # _commit_version — 0 for a new table, the first commit after the
        # upgrade for an older one. changes() refuses windows before it.
        snap.setdefault("row_lineage_from", v)
        body = json.dumps(snap)
        try:
            self.io.put_if_absent(target, body)
        except AlreadyExists as ae:
            try:
                json.loads(self.io.read_text(target))
                raise  # valid snapshot: true concurrent commit
            except (json.JSONDecodeError, FileNotFoundError):
                if snap.get("properties", {}).get("strict_occ"):
                    raise ae
                self.io.delete(target)
                self.io.put_if_absent(target, body)
        self.io.put(f"{meta}/CURRENT", str(v))  # fast-path hint
        self.snap = snap

    # ------------------------------------------------------ schema evolution
    def apply_ddl(self, ddl: dict, lsn: int | None = None) -> bool:
        """Apply one structured DDL event transactionally (metadata-only;
        next snapshot carries the new schema id). Returns False if this
        DDL (by lsn) was already applied — history dedup, the analogue of
        DBSchemaHistory.java:60-88.

        Actions (all seven reference DDL op kinds,
        mysql/MySqlRecordConsumer.java:246-318):
        add_column {name,type[,nullable]} · rename_column {name,new_name}
        · widen_column {name,type} · drop_column {name} · truncate_table
        · drop_table · rename_table {new_name} · create_table
        [{schema:[{name,type[,nullable]}...], key}]. Database-level ops
        (create/drop database) are catalog-scope — see
        sources.registry.create_database/drop_database; the pipeline
        routes them there.

        drop_table clears the data manifest and marks the snapshot
        dropped; a later create_table revives the table (fresh schema if
        given, else the current one) — the reference's DROP then CREATE
        sequence on the target. create_table on a live table is a no-op
        (first-sight dedup, DD6). rename_table is metadata-only (the
        catalog name changes; the storage path is an immutable uuid-like
        location, as in Iceberg).
        """
        snap = json.loads(json.dumps(self.snap))
        if lsn is not None:
            applied = [h["lsn"] for h in snap["schema_history"] if h.get("lsn") is not None]
            if applied and lsn <= max(applied):
                return False
        fields = json.loads(json.dumps(self._schema_fields()))
        action = ddl["action"]
        by_name = {f["name"]: f for f in fields}
        if action == "add_column":
            if ddl["name"] in by_name:
                raise ValueError(f"column exists: {ddl['name']}")
            snap["last_field_id"] += 1
            fields.append({
                "id": snap["last_field_id"], "name": ddl["name"],
                "type": ddl["type"], "nullable": bool(ddl.get("nullable", True)),
            })
        elif action == "rename_column":
            f = by_name[ddl["name"]]
            if f["name"] == snap["key"]:
                snap["key"] = ddl["new_name"]
            f["name"] = ddl["new_name"]
        elif action == "widen_column":
            f = by_name[ddl["name"]]
            if (f["type"], ddl["type"]) not in _WIDEN_OK:
                raise ValueError(f"illegal widen {f['type']} -> {ddl['type']}")
            f["type"] = ddl["type"]
        elif action == "drop_column":
            if ddl["name"] == snap["key"]:
                raise ValueError("cannot drop key column")
            fields = [f for f in fields if f["name"] != ddl["name"]]
        elif action == "truncate_table":
            # DD4: metadata-only truncate — next snapshot references no
            # files (old snapshots still time-travel to the data).
            snap["buckets"] = {}
        elif action == "drop_table":
            snap["buckets"] = {}
            snap["dropped"] = True
        elif action == "rename_table":
            snap["table_name"] = ddl["new_name"]
        elif action == "create_table":
            if not snap.get("dropped"):
                # DD6/DD3: CREATE for an existing live table — first-sight
                # dedup, record in history only (no schema change).
                pass
            else:
                snap["dropped"] = False
                snap["buckets"] = {}
                if "schema" in ddl:
                    fields = []
                    for i, f in enumerate(ddl["schema"]):
                        fields.append({
                            "id": snap["last_field_id"] + i + 1,
                            "name": f["name"], "type": f["type"],
                            "nullable": bool(f.get("nullable", True)),
                        })
                    snap["last_field_id"] += len(fields)
                    if "key" in ddl:
                        if ddl["key"] not in [f["name"] for f in fields]:
                            raise ValueError(f"key {ddl['key']!r} not in schema")
                        snap["key"] = ddl["key"]
                    if snap["key"] not in [f["name"] for f in fields]:
                        raise ValueError(f"key {snap['key']!r} not in new schema")
        else:
            raise ValueError(f"unknown ddl action {action!r}")
        new_sid = int(snap["current_schema_id"]) + 1
        snap["schemas"][str(new_sid)] = fields
        snap["current_schema_id"] = new_sid
        snap["schema_history"].append({"lsn": lsn, "ddl": ddl, "schema_id": new_sid,
                                       "ts_ms": int(time.time() * 1000)})
        snap["version"] += 1
        self._write_snapshot(snap)
        return True

    # ---------------------------------------------------------------- merge
    def merge(self, updates: DataFrame, epoch_id: str | int | None = None,
              extra_lineage: dict | None = None,
              transform=None, salt_buckets: int = 64) -> dict:
        """MERGE the update batch into the table — see _merge_inner for
        the full semantics (LWW reduce, tombstones, epoch fencing,
        transform contract). This wrapper only scopes AQE off."""
        # AQE scoped OFF for the merge plan (restored after): every join
        # here is either an explicit broadcast (winners) or 1:1 on the
        # key (post-LWW updates x target — one row per key on both
        # sides, no skew to re-plan), and the write exchange is
        # fixed-width; adaptive re-planning only adds driver latency
        # between stages (measured: cow merge 8.6 s -> 4.5 s at sf0.1).
        aqe = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return self._merge_inner(updates, epoch_id, extra_lineage,
                                     transform, salt_buckets)
        finally:
            self.spark.conf.set("spark.sql.adaptive.enabled", aqe)

    def _merge_inner(self, updates: DataFrame, epoch_id: str | int | None,
                     extra_lineage: dict | None,
                     transform, salt_buckets: int) -> dict:
        """Key-partitioned copy-on-write MERGE (SURVEY.md §2.4 A1-A3).

        ``updates`` columns: <payload per current schema> + op_type(I|U|D)
        + lsn + seq [+ ts_ms]. Rows need NOT be pre-deduped: a salted
        two-stage LWW reduce runs first (A2). Semantics per key (cow):

          WHEN MATCHED AND newer AND op='D'  -> tombstone
          WHEN MATCHED AND newer             -> UPDATE SET *
          WHEN MATCHED AND older/equal       -> keep target (replay no-op)
          WHEN NOT MATCHED AND op!='D'       -> INSERT
          WHEN NOT MATCHED AND op='D'        -> tombstone (out-of-order safe)

        In ``mor`` mode the same end state is produced lazily: the batch's
        winners (tombstones included) append as a segment and the
        WHEN-MATCHED resolution happens in scan()'s read-time LWW resolve —
        so ``rows_updated``/``conflicts_lost`` read 0 in mor lineage (the
        conflicts haven't been *observed* yet; compact() materializes them).

        Exactly-once: if ``epoch_id`` was already committed, the merge is
        a no-op returning the recorded stats (epoch fencing, A3).
        Returns the lineage/commit record.

        ``transform``: optional DataFrame -> DataFrame applied AFTER the
        LWW winner selection — late materialization for expensive
        per-record work (pandas-UDF text extraction): deterministic
        row-wise transforms commute with winner selection (winners depend
        only on (key, lsn, seq)), so running them post-reduce is
        semantically identical and costs O(winners), not O(batch). At
        bench skew (~240 revisions/key) that is a ~200x compute cut.

        ``salt_buckets``: stage-1 fan-out of the salted winner reduce
        over (key, lsn, seq) (operators/lww.py::lww_reduce_late).
        """
        from database_delta_plugins_spark.operators.lww import lww_reduce_late

        key = self.key
        if self.is_dropped:
            raise ValueError(
                f"table {self.table_name!r} is dropped; apply a create_table "
                "DDL (revive) before merging DML")
        eid = str(epoch_id) if epoch_id is not None else None
        if eid is not None and eid in self.snap["epochs"]:
            rec = dict(self.snap["epochs"][eid])
            rec["skipped_replay"] = True
            return rec

        payload_names = [f["name"] for f in self._schema_fields()]
        if key not in updates.columns:
            raise ValueError(f"updates missing key column {key!r}")

        # normalize updates to current schema (missing payload cols -> null)
        upd = updates
        for f in self._schema_fields():
            if f["name"] not in upd.columns:
                upd = upd.withColumn(f["name"], F.lit(None).cast(f["type"]))
            else:
                upd = upd.withColumn(f["name"], F.col(f["name"]).cast(f["type"]))
        if "ts_ms" not in upd.columns:
            upd = upd.withColumn("ts_ms", F.lit(None).cast("long"))
        upd = upd.select(key, *[c for c in payload_names if c != key],
                         "op_type", "lsn", "seq", "ts_ms")

        # A2: salted tiny reduce over (key, lsn, seq) only; the winners
        # broadcast back onto the payload rows. Skew-proof AND
        # payload-shuffle-free.
        # mor defers replay-duplicate removal to the bucket-partitioned
        # write's max-per-key reduce (partition-local, exchange-reusing)
        # — which also licenses the smaller hashed-key broadcast; cow
        # dedups here, ahead of the target join, with the exact
        # string-key broadcast.
        mor = self.write_mode == "mor"
        upd = lww_reduce_late(upd, key=key, salt_buckets=salt_buckets,
                              dedup=not mor, hash_key=mor)
        if transform is not None:
            upd = transform(upd)
            # re-assert the merge contract after user code
            upd = upd.select(key, *[c for c in payload_names if c != key],
                             "op_type", "lsn", "seq", "ts_ms")

        # shape the post-apply row for each winner
        upd = upd.select(
            F.col(key),
            *[
                F.when(F.col("op_type") == "D", F.lit(None).cast(dict(
                    (f["name"], f["type"]) for f in self._schema_fields()
                )[c])).otherwise(F.col(c)).alias(c)
                for c in payload_names if c != key
            ],
            F.col("lsn").alias("_u_lsn"),
            F.col("seq").alias("_u_seq"),
            (F.col("op_type") == "D").alias("_u_deleted"),
            F.col("ts_ms").alias("_u_ingest_ms"),
        ).withColumn("_bucket", self.bucket_expr(F.col(key)))

        upd_persisted = None
        if mor:
            # LSM-style append: no target read/join — the batch's winners
            # become a new segment per bucket; reads resolve LWW across
            # the stack. Write cost O(batch) regardless of table size.
            # ONE action per epoch: global stats ride the write via
            # observe(); per-bucket segment stats come from the written
            # parquet FOOTERS (num_rows + _lsn column min/max) — no
            # second pass, no persist, no separate stats job. Per-epoch
            # fixed job cost is what bounds streaming throughput.
            return self._merge_mor_commit(upd, key, payload_names, eid,
                                          extra_lineage)
        else:
            # persist: the shaped post-LWW updates feed both the
            # affected-bucket listing and the merge join — without this
            # the decode+LWW runs twice.
            upd = upd.persist()
            upd_persisted = upd
            t0 = time.time()
            brows = upd.groupBy("_bucket").agg(
                F.count(F.lit(1)).alias("n")).collect()
            affected = [r["_bucket"] for r in brows]
            n_upd = sum(int(r["n"]) for r in brows)
            t_lww = time.time() - t0
            tgt = self.scan(buckets=affected).withColumnRenamed(key, "_t_key")
            limit = int(self.snap.get("properties", {}).get(
                "mor_resolve_broadcast_rows", 4_000_000))
            result = self._cow_merge_result(upd, tgt, key, payload_names,
                                            broadcast_keys=n_upd <= limit)
        # ONE pass over the merged result (r4 — the persist + stats-agg
        # + write double materialization was the cdc_merge_upsert hot
        # spot, and at 10^10 rows it CACHED the whole merged table):
        # global conflict accounting rides the write via observe(), and
        # per-bucket (rows, lsn range) comes from the written parquet
        # FOOTERS — the same shape the mor commit already uses.
        obs = Observation()
        result = result.observe(
            obs,
            F.sum(F.col("_is_deleted").cast("long")).alias("tombstones"),
            F.sum(F.col("_took_update").cast("long")).alias("applied"),
            F.sum((F.col("_matched") & ~F.col("_took_update")).cast("long")
                  ).alias("conflicts_lost"),
            F.sum((F.col("_matched") & F.col("_took_update")).cast("long")
                  ).alias("updated"),
        )
        try:
            new_version = self.version + 1
            # unique data dir per attempt: the exclusive v{N}.json create in
            # _write_snapshot is the single commit-conflict point; a losing
            # writer's orphan data dir is never referenced by any snapshot.
            commit_rel = f"data/commit-{new_version}-{uuid.uuid4().hex[:8]}"
            t0 = time.time()
            (
                result.drop("_took_update", "_matched")
                .repartition(max(len(affected), 1), "_bucket")
                .write.partitionBy("_bucket")
                .mode("errorifexists")
                .parquet(f"{self.path}/{commit_rel}")
            )
            t_write = time.time() - t0
        finally:
            if upd_persisted is not None:
                upd_persisted.unpersist()

        g = obs.get
        per_bucket = self._commit_segments(commit_rel)
        # cow keeps the pre-write affected list; the footer-derived set
        # must be a subset (empty buckets write no file) — assert the
        # invariant instead of silently diverging (ADVICE r4)
        if not set(per_bucket) <= set(affected):
            raise RuntimeError(
                f"cow commit wrote buckets {sorted(set(per_bucket) - set(affected))} "
                "outside the affected set — bucket routing diverged")
        lsns = [b["min_lsn"] for b in per_bucket.values()
                if b["min_lsn"] is not None]
        lsns_max = [b["max_lsn"] for b in per_bucket.values()
                    if b["max_lsn"] is not None]
        totals = {
            "rows_applied": int(g["applied"] or 0),
            "rows_updated": int(g["updated"] or 0),
            "conflicts_lost": int(g["conflicts_lost"] or 0),
            "tombstones": int(g["tombstones"] or 0),
            "min_lsn": min(lsns, default=None),
            "max_lsn": max(lsns_max, default=None),
        }
        return self._finalize_commit(
            eid=eid, new_version=new_version, affected=affected,
            per_bucket=per_bucket, totals=totals,
            phase_sec={"lww": round(t_lww, 2), "write": round(t_write, 2)},
            extra_lineage=extra_lineage, append_segments=False)

    def _cow_merge_result(self, upd: DataFrame, tgt: DataFrame, key: str,
                          payload_names: list[str],
                          broadcast_keys: bool) -> DataFrame:
        """Build the cow post-merge bucket contents (r3: late-materialized
        like the mor read resolve). With ``broadcast_keys`` (update winner
        set under the broadcast budget — the common case; post-LWW keys
        are unique), the affected buckets' UNTOUCHED rows take a
        broadcast ANTI join and never enter a join shuffle — only the
        O(batch) touched rows and the updates meet in the full_outer
        merge join. The one remaining payload-wide movement is the write
        repartition itself. Fallback (huge batch): the plain full_outer
        over the whole affected-bucket scan."""
        u = upd.alias("u")
        untouched = None
        if broadcast_keys:
            keys = F.broadcast(upd.select(F.col(key).alias("_t_key")))
            untouched = tgt.join(keys, "_t_key", "left_anti")
            tgt = tgt.join(keys, "_t_key", "semi")
        t = tgt.alias("t")
        j = u.join(t, F.col(f"u.{key}") == F.col("t._t_key"), "full_outer")
        u_newer = (
            F.col("t._t_key").isNull()
            | (F.col("u._u_lsn") > F.col("t._lsn"))
            | ((F.col("u._u_lsn") == F.col("t._lsn")) & (F.col("u._u_seq") >= F.col("t._seq")))
        )
        take_u = F.col(f"u.{key}").isNotNull() & u_newer
        result = j.select(
            F.when(take_u, F.col(f"u.{key}")).otherwise(F.col("t._t_key")).alias(key),
            *[
                F.when(take_u, F.col(f"u.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
                for c in payload_names if c != key
            ],
            F.when(take_u, F.col("u._u_lsn")).otherwise(F.col("t._lsn")).alias("_lsn"),
            F.when(take_u, F.col("u._u_seq")).otherwise(F.col("t._seq")).alias("_seq"),
            F.when(take_u, F.col("u._u_deleted")).otherwise(F.col("t._is_deleted")).alias("_is_deleted"),
            F.when(take_u, F.col("u._u_ingest_ms")).otherwise(F.col("t._ingest_ms")).alias("_ingest_ms"),
            F.when(take_u, F.lit(self.version + 1).cast("long"))
            .otherwise(F.col("t._commit_version")).alias("_commit_version"),
            take_u.alias("_took_update"),
            (F.col(f"u.{key}").isNotNull() & F.col("t._t_key").isNotNull()).alias("_matched"),
        )
        result = result.withColumn("_bucket", self.bucket_expr(F.col(key)))
        if untouched is not None:
            un = untouched.select(
                F.col("_t_key").alias(key),
                *[F.col(c) for c in payload_names if c != key],
                *SYSTEM_COLS,
                F.lit(False).alias("_took_update"),
                F.lit(False).alias("_matched"),
            ).withColumn("_bucket", self.bucket_expr(F.col(key)))
            result = result.unionByName(un)
        return result

    def _merge_mor_commit(self, upd: DataFrame, key: str,
                          payload_names: list[str], eid: str | None,
                          extra_lineage: dict | None) -> dict:
        """Merge-on-read commit in ONE Spark action: batch totals ride
        the write via observe(); per-bucket segment stats (rows, _lsn
        min/max) come from the written parquet footers."""

        new_version = self.version + 1
        result = upd.select(
            F.col(key),
            *[F.col(c) for c in payload_names if c != key],
            F.col("_u_lsn").alias("_lsn"),
            F.col("_u_seq").alias("_seq"),
            F.col("_u_deleted").alias("_is_deleted"),
            F.col("_u_ingest_ms").alias("_ingest_ms"),
            F.lit(new_version).cast("long").alias("_commit_version"),
            F.col("_bucket"),
        )
        # ONE payload shuffle: hash-repartition on the bucket, then a
        # partition-local dedup that REUSES that exchange (window over
        # _bucket adds only a sort, which the partitioned write needs
        # anyway) — replay duplicates of the winner event (same key,
        # lsn, seq) are dropped without a second payload shuffle.
        result = result.repartition(self.num_buckets, "_bucket")
        result = self._bucket_local_dedup(result, key)
        obs = Observation()
        result = result.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.min("_lsn").alias("min_lsn"),
            F.max("_lsn").alias("max_lsn"),
            F.sum(F.col("_is_deleted").cast("long")).alias("tombstones"),
        )
        commit_rel = f"data/commit-{new_version}-{uuid.uuid4().hex[:8]}"
        t0 = time.time()
        from database_delta_plugins_spark.common import job_desc
        with job_desc(self.spark, f"mor-merge-write epoch={eid}"):
            (
                result.write.partitionBy("_bucket")
                .mode("errorifexists")
                .parquet(f"{self.path}/{commit_rel}")
            )
        t_write = time.time() - t0
        g = obs.get
        per_bucket = self._commit_segments(commit_rel)
        totals = {
            "rows_applied": int(g["rows"]),
            # mor appends winners without observing the target: matched/
            # conflict accounting materializes at compaction (see merge
            # docstring)
            "rows_updated": 0,
            "conflicts_lost": 0,
            "tombstones": int(g["tombstones"] or 0),
            "min_lsn": int(g["min_lsn"]) if g["min_lsn"] is not None else None,
            "max_lsn": int(g["max_lsn"]) if g["max_lsn"] is not None else None,
        }
        return self._finalize_commit(
            eid=eid, new_version=new_version, affected=sorted(per_bucket),
            per_bucket=per_bucket, totals=totals,
            phase_sec={"write": round(t_write, 2)},
            extra_lineage=extra_lineage, append_segments=True)

    @staticmethod
    def _bucket_local_dedup(df: DataFrame, key: str) -> DataFrame:
        """Reduce to ONE row per key — the max-(_lsn, _seq) one — WITHOUT
        a dedicated shuffle: the window partitions by ``_bucket``, whose
        hash partitioning the caller just established, so Catalyst reuses
        the exchange and inserts only a within-partition sort (ordered
        (_bucket, key, _lsn DESC, _seq DESC) — which the dynamic-partition
        parquet write wants anyway, and which clusters keys for row-group
        stats). This collapses both exact replay duplicates AND any
        stale row a hash_key broadcast collision could admit (see
        lww_reduce_late): each key's FIRST row in the sort order is its
        LWW winner, everything after is dropped."""
        from pyspark.sql.window import Window

        w = Window.partitionBy("_bucket").orderBy(
            F.col(key), F.desc("_lsn"), F.desc("_seq"))
        prev = F.lag(F.col(key)).over(w)
        return (
            df.withColumn("_is_dup", prev.isNotNull() & (prev == F.col(key)))
            .filter(~F.col("_is_dup"))
            .drop("_is_dup")
        )

    def _commit_segments(self, commit_rel: str) -> dict[int, dict]:
        """The one listing of a commit directory's data files: per bucket,
        the segment body — its files (sorted, table-relative) plus rows
        and _lsn min/max from their parquet footers (driver-side metadata
        reads, no second data pass; the Iceberg analogue is manifests
        carrying per-file column stats emitted at write time). Footers
        are fetched CONCURRENTLY (r6): this runs once per commit on the
        driver — a serial per-epoch section — and at num_buckets=32 the
        sequential loop cost ~0.2-0.4 s/epoch locally (worse on an object
        store at ~50-100 ms/GET); a thread pool makes it one
        round-trip-time deep, the same trade as ``_prefetch_manifests``."""
        import pyarrow.parquet as pq

        def _file_stats(rel: str) -> tuple[int, int | None, int | None]:
            md = pq.ParquetFile(f"{self.path}/{rel}").metadata
            mn = mx = None
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    if col.path_in_schema != "_lsn":
                        continue
                    st = col.statistics
                    if st is not None and st.has_min_max:
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
            return md.num_rows, mn, mx

        commit_dir = f"{self.path}/{commit_rel}"
        jobs: list[tuple[int, str]] = []
        for entry in sorted(os.listdir(commit_dir)):
            if not entry.startswith("_bucket="):
                continue
            b = int(entry.split("=", 1)[1])
            jobs.extend((b, f"{commit_rel}/{entry}/{fn}")
                        for fn in sorted(os.listdir(f"{commit_dir}/{entry}"))
                        if fn.endswith(".parquet"))
        if len(jobs) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(jobs))) as ex:
                stats = list(ex.map(lambda j: _file_stats(j[1]), jobs))
        else:
            stats = [_file_stats(rel) for _, rel in jobs]
        per_bucket: dict[int, dict] = {}
        for (b, rel), (rows, mn, mx) in zip(jobs, stats):
            cur = per_bucket.setdefault(b, {**_NO_FILES, "files": []})
            cur["files"].append(rel)
            cur["rows"] += rows
            if mn is not None:
                cur["min_lsn"] = (int(mn) if cur["min_lsn"] is None
                                  else min(cur["min_lsn"], int(mn)))
            if mx is not None:
                cur["max_lsn"] = (int(mx) if cur["max_lsn"] is None
                                  else max(cur["max_lsn"], int(mx)))
        return per_bucket

    def _finalize_commit(self, *, eid: str | None, new_version: int,
                         affected: list[int], per_bucket: dict[int, dict],
                         totals: dict, phase_sec: dict,
                         extra_lineage: dict | None,
                         append_segments: bool) -> dict:
        # manifest update: cow replaces the bucket's segment stack with
        # the merged segment; mor appends the batch segment to the stack.
        snap = json.loads(json.dumps(self.snap))
        for b in affected:
            segment = {"schema_id": snap["current_schema_id"],
                       **per_bucket.get(int(b), _NO_FILES)}
            if append_segments and str(b) in snap["buckets"]:
                segs = list(self._segments_of(snap["buckets"][str(b)])) + [segment]
            else:
                segs = [segment]
            # one small manifest object per TOUCHED bucket; untouched
            # buckets keep their pointer (no metadata rewritten for them)
            snap["buckets"][str(b)] = self._write_manifest(new_version, int(b), segs)

        lineage = {
            "epoch_id": eid,
            "committed_version": new_version,
            "buckets_rewritten": sorted(int(b) for b in affected),
            "ts_ms": int(time.time() * 1000),
            "phase_sec": phase_sec,
            **totals,
        }
        if extra_lineage:
            lineage.update(extra_lineage)
        if eid is not None:
            # Snapshot metadata is bounded: the snapshot carries only a
            # COMPACT fencing record per epoch — full per-partition
            # lineage goes to the append-only sidecar log (O(epochs²)
            # cumulative rewrite cost otherwise; fencing needs only the
            # ids). Records are trimmed to the most recent keep_epochs
            # (default 256): a streaming restart replays at most the
            # last uncommitted micro-batch, so the fence window only has
            # to cover recent epochs; anything older is also below the
            # committed-lsn frontier (D11 replay filter).
            snap["epochs"][eid] = {
                "epoch_id": eid,
                "committed_version": new_version,
                "rows_applied": totals["rows_applied"],
                "max_lsn": lineage["max_lsn"],
                "skipped_replay": False,
            }
            keep = int(self.snap.get("properties", {}).get("keep_epochs", 256))
            if len(snap["epochs"]) > keep:
                ordered = sorted(snap["epochs"].items(),
                                 key=lambda kv: kv[1].get("committed_version", 0))
                snap["epochs"] = dict(ordered[-keep:])
        snap["version"] = new_version
        self._write_snapshot(snap)
        self._append_lineage(lineage)
        return lineage

    def _append_lineage(self, lineage: dict) -> None:
        """Append the full epoch lineage record to the sidecar audit log
        (one JSON line per commit; never rewritten — O(1) per epoch)."""
        self.io.append_line(f"{self.path}/_meta/lineage.jsonl",
                            json.dumps(lineage) + "\n")

    def lineage_log(self) -> list[dict]:
        """Read the full per-epoch lineage audit trail (sidecar log)."""
        p = f"{self.path}/_meta/lineage.jsonl"
        try:
            body = self.io.read_text(p)
        except FileNotFoundError:
            return []
        return [json.loads(ln) for ln in body.splitlines() if ln.strip()]

    def record_epoch(self, epoch_id: str | int, note: str = "skipped",
                     max_lsn: int | None = None) -> dict:
        """Metadata-only epoch fence: commits a zero-row record so a
        deliberately-skipped segment (e.g. DML addressed to a dropped
        table) is NOT re-applied on replay — without this, a restart
        after a later create_table revive would apply DML that the
        original run correctly discarded (replay-equivalence).
        ``max_lsn`` (r5) lets the pipeline advance the table's replay
        frontier past a batch it received but had no rows in — an idle
        table otherwise pins the multi-table min-frontier forever and
        every tail reconnect re-ships the whole history."""
        eid = str(epoch_id)
        if eid in self.snap["epochs"]:
            rec = dict(self.snap["epochs"][eid])
            rec["skipped_replay"] = True
            return rec
        snap = json.loads(json.dumps(self.snap))
        rec = {"epoch_id": eid, "committed_version": self.version + 1,
               "rows_applied": 0, "max_lsn": max_lsn,
               "skipped_replay": False, "note": note}
        snap["epochs"][eid] = rec
        snap["version"] = self.version + 1
        self._write_snapshot(snap)
        self._append_lineage(dict(rec))
        return rec

    # ------------------------------------------------------- change feed
    def changes(self, since_version: int, to_version: int | None = None) -> DataFrame:
        """Change-data-feed read (Iceberg/Delta CDF analogue): the rows
        APPLIED between two snapshots — payload + (_lsn, _seq) ordering +
        ``_change_type`` ('delete' for tombstones, else 'upsert') — so a
        downstream consumer can incrementally follow the table without
        re-reading it.

        Manifest diff + row lineage: diff the two snapshots' file sets
        (O(metadata), no data pass), read just the NEW files, and keep
        the rows whose ``_commit_version`` is above ``since_version``.
        Every rewrite (cow carry-over, compaction, rebucket) keeps a
        row's stored version, so rows that were already visible at
        ``since_version`` drop out whatever their lsn and whatever the
        commit order — exact in both write modes. Windows reaching back
        before ``row_lineage_from`` (files written before the column
        existed) are refused."""
        if to_version is None:
            to_version = self.version
        if since_version > to_version:
            raise ValueError(f"since {since_version} > to {to_version}")

        def _snap_at(v: int) -> dict:
            if v == self.snap["version"]:
                return self.snap
            return json.loads(self.io.read_text(f"{self.path}/_meta/v{v}.json"))

        s_from, s_to = _snap_at(since_version), _snap_at(to_version)
        # a purge-compaction inside the window dropped tombstone rows —
        # the deletes they carried are unrecoverable from the file diff,
        # so a CDF read across it would silently retain deleted keys
        # downstream. Refuse rather than lie (Delta CDF refuses similarly
        # when vacuumed files fall inside the requested range).
        lp = s_to.get("last_purge_version")
        if lp is not None and since_version < lp:
            raise ValueError(
                f"changes({since_version}, {to_version}) spans a "
                f"tombstone-purging compaction at version {lp}: delete "
                "events inside the window were physically removed. Read "
                f"from version >= {lp}, or compact without purge_tombstones "
                "when a CDF consumer is behind.")
        # files written before row lineage carry no _commit_version: in a
        # window that starts before row_lineage_from a null could be a
        # real change, so refuse rather than guess. Inside an allowed
        # window a null is always an old carried-over row.
        rl = s_to.get("row_lineage_from")
        if rl is None or since_version < rl:
            raise ValueError(
                f"changes({since_version}, {to_version}) reaches before row "
                f"lineage (version {rl}): older data files carry no "
                "_commit_version. Read from a version written after the "
                "upgrade.")
        fields = s_to["schemas"][str(s_to["current_schema_id"])]
        names = [f["name"] for f in fields]
        out_schema = T.StructType(
            [T.StructField(f["name"], _type_from_str(f["type"]), True)
             for f in fields]
            + [T.StructField("_lsn", T.LongType(), True),
               T.StructField("_seq", T.LongType(), True),
               T.StructField("_change_type", T.StringType(), False)])
        # group NEW files by their write-time schema id (segments carry
        # it), projecting to the target schema by field id — renames and
        # widenings across the change window resolve like scan() does.
        # Manifest-pointer fast path: a bucket whose pointer (or inline
        # body) is IDENTICAL across the window was untouched — skip it
        # without loading its manifest. The diff is O(changed buckets),
        # not O(table files); a file never moves buckets (path embeds
        # _bucket=b), so per-bucket diffing equals the global file diff.
        changed = [int(b) for b, info in s_to["buckets"].items()
                   if s_from["buckets"].get(b) != info]
        self._prefetch_manifests(s_to, changed)
        self._prefetch_manifests(s_from, changed)
        groups: dict[int, list[str]] = {}
        for b, info in s_to["buckets"].items():
            finfo = s_from["buckets"].get(b)
            if finfo == info:
                continue
            old_b: set[str] = set()
            if finfo is not None:
                for seg in self._segments_of(finfo):
                    old_b.update(seg["files"])
            for seg in self._segments_of(info):
                for p in seg["files"]:
                    if p not in old_b:
                        groups.setdefault(seg["schema_id"], []).append(p)
        if not groups:
            return self.spark.createDataFrame([], out_schema)
        parts = [self._read_group(s_to, sid, sorted(paths), fields)
                 for sid, paths in groups.items()]
        return (
            reduce(DataFrame.unionByName, parts)
            .filter(F.col("_commit_version") > since_version)
            .select(*names, "_lsn", "_seq",
                    F.when(F.col("_is_deleted"), F.lit("delete"))
                    .otherwise(F.lit("upsert")).alias("_change_type")))

    # -------------------------------------------------------- maintenance
    def compact(self, max_segments_per_bucket: int = 1,
                purge_tombstones: bool = False) -> dict:
        """Segment-stack compaction: fold every bucket holding more than
        ``max_segments_per_bucket`` segments into one LWW-resolved segment
        (tombstones preserved by default — they must keep suppressing
        late arrivals). For mor tables this bounds read-time reduce
        fan-in; at 100 TB it is the scheduled maintenance job (Iceberg
        rewrite_data_files analogue). The rewrite is ``scan()`` output,
        so every row keeps its ``_commit_version``: a ``changes()``
        window spanning the compaction reads the new files and emits
        none of their already-visible rows.

        ``purge_tombstones``: physically drop tombstone rows whose _lsn
        is at or below the committed replay frontier (last_committed_lsn)
        — the Iceberg equality-delete-compaction analogue. Safe because
        any replayed event at-or-below the frontier is already dropped
        by the D11 replay filter / epoch fence before it could resurrect
        the key; tombstones above the frontier are retained."""
        over = [int(b) for b, info in self.snap["buckets"].items()
                if self._nseg(info) > max_segments_per_bucket]
        if not over:
            return {"buckets_compacted": [], "version": self.version}
        # scan() resolves LWW across segments when stacks are deep
        df = self.scan(buckets=over).withColumn("_bucket", self.bucket_expr(F.col(self.key)))
        purge_obs = None
        if purge_tombstones:
            frontier = self.last_committed_lsn()
            if frontier is not None:
                cond = F.col("_is_deleted") & (F.col("_lsn") <= F.lit(frontier))
                # purge count rides the write via observe() — ONE job,
                # no separate existence probe re-running the whole
                # resolve; the flag is decided after the write, before
                # the snapshot commit
                purge_obs = Observation()
                df = df.observe(
                    purge_obs, F.sum(cond.cast("long")).alias("purged"))
                df = df.filter(~cond)
        new_version = self.version + 1
        commit_rel = f"data/compact-{new_version}-{uuid.uuid4().hex[:8]}"
        (
            df.repartition(max(len(over), 1), "_bucket")
            .write.partitionBy("_bucket")
            .mode("errorifexists")
            .parquet(f"{self.path}/{commit_rel}")
        )
        # only claim a purge (and poison CDF windows across this
        # version) when tombstone rows were ACTUALLY dropped — a routine
        # purge-compaction of a delete-free table must not force
        # changes() consumers to resync
        purged = bool(purge_obs is not None
                      and int(purge_obs.get["purged"] or 0) > 0)
        per_bucket = self._commit_segments(commit_rel)
        snap = json.loads(json.dumps(self.snap))
        for b in over:
            snap["buckets"][str(b)] = self._write_manifest(new_version, b, [{
                "schema_id": snap["current_schema_id"],
                **per_bucket.get(b, _NO_FILES)}])
        snap["version"] = new_version
        if purged:
            # ADVICE r2: a purge physically drops delete tombstones whose
            # file was the ONLY carrier of _change_type='delete' for the
            # key — a CDF window spanning this version can no longer see
            # those deletes. Record the version so changes() can refuse
            # such windows instead of silently omitting deletes.
            snap["last_purge_version"] = new_version
        self._write_snapshot(snap)
        return {"buckets_compacted": over, "version": new_version,
                "purged_tombstones": purged}

    def rebucket(self, new_num_buckets: int) -> dict:
        """Rewrite the table to a new bucket count as ONE fenced commit —
        the Iceberg partition-spec-evolution analogue for the bucket
        transform (r3 directive #10). A table created at 16 buckets that
        grew to 10^10 rows can move to 512 without losing snapshots:
        old versions pin their own num_buckets + manifests and keep
        time-traveling; epoch fencing records survive (replay of an
        already-committed epoch stays a no-op); tombstones and
        (_lsn,_seq) ride through, so late arrivals still lose LWW.

        The rewrite itself is one full-table pass (read LWW-resolved
        state -> hash on the new bucket expr -> partitioned write), the
        same cost class as a full compaction. Like compaction it writes
        ``scan()`` output, so rows keep their ``_commit_version`` and a
        ``changes()`` window spanning the rebucket emits none of them."""
        new_num_buckets = int(new_num_buckets)
        if new_num_buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {new_num_buckets}")
        if new_num_buckets == self.num_buckets:
            return {"rebucketed": False, "num_buckets": self.num_buckets,
                    "version": self.version}
        old_num_buckets = self.num_buckets
        df = self.scan()  # LWW-resolved, tombstones included
        df = df.withColumn(
            "_bucket",
            F.pmod(F.xxhash64(F.col(self.key)), F.lit(new_num_buckets)).cast("int"))
        new_version = self.version + 1
        commit_rel = f"data/rebucket-{new_version}-{uuid.uuid4().hex[:8]}"
        (
            df.repartition(new_num_buckets, "_bucket")
            .write.partitionBy("_bucket")
            .mode("errorifexists")
            .parquet(f"{self.path}/{commit_rel}")
        )
        snap = json.loads(json.dumps(self.snap))
        snap["num_buckets"] = new_num_buckets
        snap["buckets"] = {
            str(b): self._write_manifest(new_version, b, [{
                "schema_id": snap["current_schema_id"], **seg}])
            for b, seg in self._commit_segments(commit_rel).items()}
        snap["version"] = new_version
        self._write_snapshot(snap)
        self._append_lineage({
            "epoch_id": None, "committed_version": new_version,
            "rebucket": {"from": old_num_buckets, "to": new_num_buckets},
            "ts_ms": int(time.time() * 1000),
        })
        return {"rebucketed": True, "num_buckets": new_num_buckets,
                "version": new_version}

    def expire_snapshots(self, keep_last: int = 3) -> dict:
        """Delete data files and metadata unreferenced by the most recent
        ``keep_last`` snapshots (time travel beyond that horizon stops
        working — standard retention semantics).

        Concurrency: like every mutator, expire_snapshots is called from
        the single maintenance/writer thread. Under ``strict_occ``
        multi-writer mode it additionally must not race a COMMITTING
        writer, which writes its bucket manifests BEFORE the
        put-if-absent commit point — an unreferenced manifest may be a
        commit in flight, not garbage. Manifest GC therefore only
        deletes manifests whose encoded target version is <= the current
        committed version: an in-flight writer always targets
        current+1 (kept), while a manifest targeting <= current either
        belonged to a commit that already resolved (referenced ->
        protected, expired -> garbage) or to one that can never succeed
        (its v{target}.json exists, so its put-if-absent must fail)."""
        meta = f"{self.path}/_meta"
        versions = sorted(
            int(fn[1:-5]) for fn in self.io.list(meta)
            if fn.startswith("v") and fn.endswith(".json") and fn[1:-5].isdigit()
        )
        keep = set(versions[-keep_last:]) | {self.version}
        referenced: set[str] = set()
        referenced_manifests: set[str] = set()
        for v in keep:
            s = json.loads(self.io.read_text(f"{meta}/v{v}.json"))
            for info in s["buckets"].values():
                if "manifest" in info:
                    referenced_manifests.add(info["manifest"])
                for seg in self._segments_of(info):
                    referenced.update(seg["files"])
        removed_files = 0
        data_root = f"{self.path}/data"
        if os.path.isdir(data_root):
            for dirpath, _dirs, files in os.walk(data_root):
                for fn in files:
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, self.path)
                    if fn.endswith(".parquet") and rel not in referenced:
                        os.remove(full)
                        removed_files += 1
        removed_meta = 0
        for v in versions:
            if v not in keep:
                self.io.delete(f"{meta}/v{v}.json")
                removed_meta += 1
        # GC bucket manifests referenced only by expired snapshots.
        # In-flight-writer guard (see docstring): never delete a
        # manifest targeting a version NEWER than the committed one —
        # it may belong to a writer between manifest write and the
        # put-if-absent commit point.
        removed_manifests = 0
        cur_v = self.version
        for fn in self.io.list(f"{meta}/manifests"):
            if not fn.endswith(".json") or f"manifests/{fn}" in referenced_manifests:
                continue
            m = re.match(r"b\d+-v(\d+)-", fn)
            if m is not None and int(m.group(1)) > cur_v:
                continue
            self.io.delete(f"{meta}/manifests/{fn}")
            removed_manifests += 1
        return {"removed_files": removed_files, "removed_snapshots": removed_meta,
                "removed_manifests": removed_manifests,
                "kept_versions": sorted(keep)}

    # ------------------------------------------------------------- utility
    def to_view(self, name: str, include_deleted: bool = False) -> None:
        """Register the current snapshot as a Spark SQL temp view —
        `spark.sql(f"SELECT ... FROM {name}")` queries the table with
        full snapshot isolation (the view pins this snapshot's file set;
        refresh + re-register to see newer commits)."""
        self.read(include_deleted=include_deleted).createOrReplaceTempView(name)

    def history(self) -> list[dict]:
        meta = f"{self.path}/_meta"
        out = []
        for fn in self.io.list(meta):
            if fn.startswith("v") and fn.endswith(".json") and fn[1:-5].isdigit():
                s = json.loads(self.io.read_text(f"{meta}/{fn}"))
                out.append({"version": s["version"], "epochs": len(s["epochs"]),
                            "schema_id": s["current_schema_id"]})
        return out

"""Lake maintenance: compaction, snapshot expiry, truncate DDL —
and merge-on-read (mor) state equivalence with copy-on-write (cow)."""
import os

from pyspark.sql import functions as F

from database_delta_plugins_spark.lake.table import LakeTable
from tests.test_lake import SCHEMA, _mk, _upd


def _mk_mor(spark, tmp_path, name="m", num_buckets=2):
    return LakeTable.create(spark, str(tmp_path / name), SCHEMA, key="url",
                            num_buckets=num_buckets, write_mode="mor")


def _epochs(spark, t):
    batches = [
        [("a", "a1", "en", "I", 1, 0), ("b", "b1", "de", "I", 2, 0)],
        [("a", "a2", "en", "U", 3, 0), ("c", "c1", "fr", "I", 4, 0)],
        [("b", None, None, "D", 5, 0), ("d", "d1", "es", "I", 6, 0)],
        [("a", "a3", "en", "U", 7, 0)],
    ]
    for e, rows in enumerate(batches):
        t.merge(_upd(spark, rows), epoch_id=e)
        t = t.refresh()
    return t


def test_mor_equals_cow_state(spark, tmp_path):
    tc = _epochs(spark, _mk(spark, tmp_path, "cow_t", num_buckets=2))
    tm = _epochs(spark, _mk_mor(spark, tmp_path, "mor_t"))
    a = tc.read().orderBy("url").collect()
    b = tm.read().orderBy("url").collect()
    assert a == b
    assert {r["url"]: r["text"] for r in b} == {"a": "a3", "c": "c1", "d": "d1"}
    # mor appended segments instead of rewriting
    assert any(len(s) > 1 for s in tm.segments_map().values())
    assert all(len(s) == 1 for s in tc.segments_map().values())


def test_mor_stale_update_loses_at_read(spark, tmp_path):
    t = _mk_mor(spark, tmp_path)
    t.merge(_upd(spark, [("a", "new", "en", "I", 10, 0)]), epoch_id=1)
    t = t.refresh()
    t.merge(_upd(spark, [("a", "stale", "en", "U", 5, 0)]), epoch_id=2)
    t = t.refresh()
    assert t.read().head()["text"] == "new"
    # delete-then-late-update stays dead (tombstone wins at read)
    t.merge(_upd(spark, [("a", None, None, "D", 20, 0)]), epoch_id=3)
    t = t.refresh()
    t.merge(_upd(spark, [("a", "late", "en", "U", 15, 0)]), epoch_id=4)
    t = t.refresh()
    assert t.read().count() == 0


def test_compact_folds_mor_stack(spark, tmp_path):
    t = _epochs(spark, _mk_mor(spark, tmp_path))
    before = t.read().orderBy("url").collect()
    assert any(len(s) > 1 for s in t.segments_map().values())
    res = t.compact(max_segments_per_bucket=1)
    assert res["buckets_compacted"]
    t = t.refresh()
    assert all(len(s) == 1 for s in t.segments_map().values())
    assert t.read().orderBy("url").collect() == before
    # idempotent while nothing new arrived
    assert t.compact(max_segments_per_bucket=1)["buckets_compacted"] == []
    # tombstones survive compaction (late arrival still suppressed)
    t.merge(_upd(spark, [("b", "late", "de", "U", 3, 0)]), epoch_id="late")
    t = t.refresh()
    assert "b" not in {r["url"] for r in t.read().collect()}


def test_expire_snapshots_gc(spark, tmp_path):
    t = _mk(spark, tmp_path, num_buckets=2)
    for e in range(5):
        t.merge(_upd(spark, [("a", f"v{e}", "en", "U" if e else "I", e, 0)]), epoch_id=e)
        t = t.refresh()
    state = t.read().collect()
    res = t.expire_snapshots(keep_last=2)
    assert res["removed_snapshots"] > 0 and res["removed_files"] > 0
    t2 = LakeTable.load(spark, t.path)
    assert t2.read().collect() == state
    for segs in t2.segments_map().values():
        for seg in segs:
            for f in seg["files"]:
                assert os.path.exists(os.path.join(t2.path, f))


def test_truncate_table_ddl(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_upd(spark, [("a", "v", "en", "I", 1, 0)]), epoch_id=1)
    t = t.refresh()
    v_before = t.version
    assert t.apply_ddl({"action": "truncate_table"}, lsn=50)
    t = t.refresh()
    assert t.read().count() == 0
    # time travel to pre-truncate still sees data
    assert t.read(version=v_before).count() == 1
    # inserts after truncate work
    t.merge(_upd(spark, [("b", "w", "de", "I", 51, 0)]), epoch_id=2)
    t = t.refresh()
    assert t.read().count() == 1


def test_snapshot_metadata_bounded(spark, tmp_path):
    """Snapshot size is O(buckets + keep_epochs), NOT O(total epochs):
    full lineage spills to the append-only sidecar (lineage_log), the
    snapshot keeps only compact fencing records for the last K epochs."""
    import json as _json
    import os as _os

    from pyspark.sql import types as T

    from database_delta_plugins_spark.lake.table import LakeTable

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "bounded"), schema, key="url",
                         num_buckets=2, write_mode="mor",
                         properties={"keep_epochs": 10})
    upd_schema = "url string, text string, op_type string, lsn long, seq long"
    for e in range(30):
        df = spark.createDataFrame([("a", f"v{e}", "U" if e else "I", e + 1, 0)], upd_schema)
        t.merge(df, epoch_id=e)
        t = t.refresh()
        if e % 8 == 7:  # the pipeline's periodic compaction bounds the
            t.compact()  # mor segment-stack term of the manifest
            t = t.refresh()
    assert len(t.committed_epochs()) == 10            # trimmed
    assert len(t.lineage_log()) == 30                 # full audit retained
    # recent epochs still fence
    rec = t.merge(spark.createDataFrame([("a", "dup", "U", 30, 0)], upd_schema),
                  epoch_id=29)
    assert rec["skipped_replay"] is True
    # snapshot JSON size stays flat as epochs accumulate
    meta = str(tmp_path / "bounded") + "/_meta"
    sizes = sorted((int(fn[1:-5]), _os.path.getsize(f"{meta}/{fn}"))
                   for fn in _os.listdir(meta)
                   if fn.startswith("v") and fn.endswith(".json"))
    # final snapshot no bigger than ~the mid-run one (both past the
    # keep_epochs window and compaction cycle): O(buckets + K), not O(epochs)
    v_mid, s_mid = sizes[len(sizes) // 2]
    v_end, s_end = sizes[-1]
    assert s_end < 1.6 * s_mid, f"snapshot grew v{v_mid}:{s_mid} -> v{v_end}:{s_end}"
    snap = _json.load(open(f"{meta}/v{v_end}.json"))
    assert all(set(v.keys()) <= {"epoch_id", "committed_version", "rows_applied",
                                 "max_lsn", "skipped_replay"}
               for v in snap["epochs"].values())


def test_compact_purge_tombstones(spark, tmp_path):
    """purge_tombstones drops tombstone rows at/below the replay
    frontier during compaction; later replay of the delete is fenced, so
    the key stays gone."""
    from pyspark.sql import types as T

    from database_delta_plugins_spark.lake.table import LakeTable

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t_purge"), schema, key="url",
                         num_buckets=2, write_mode="mor")
    upd = spark.createDataFrame(
        [("a", "v1", "I", 1, 0), ("b", "w1", "I", 2, 0), ("a", None, "D", 3, 0)],
        "url: string, text: string, op_type: string, lsn: long, seq: long")
    t.merge(upd, epoch_id=1)
    t = t.refresh()
    assert t.scan().filter(F.col("_is_deleted")).count() == 1
    t.compact(max_segments_per_bucket=0, purge_tombstones=True)
    t = t.refresh()
    # tombstone physically gone, visible state unchanged
    assert t.scan().filter(F.col("_is_deleted")).count() == 0
    assert {r["url"] for r in t.read().collect()} == {"b"}
    # a replayed epoch containing the delete is fenced -> still no zombie
    rec = t.merge(upd, epoch_id=1)
    assert rec["skipped_replay"]
    assert {r["url"] for r in t.refresh().read().collect()} == {"b"}


def test_orphan_data_dir_ignored_and_expired(spark, tmp_path):
    """A commit dir written by a crashed attempt (data files exist, no
    snapshot references them) is invisible to readers and removed by
    expire_snapshots — the put-if-absent protocol's crash story for the
    data side."""
    from pyspark.sql import types as T

    from database_delta_plugins_spark.lake.table import LakeTable

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t_orph"), schema, key="url",
                         num_buckets=2)
    upd = spark.createDataFrame([("a", "v1", "I", 1, 0)],
                                "url: string, text: string, op_type: string, lsn: long, seq: long")
    t.merge(upd, epoch_id=1)
    t = t.refresh()
    # crashed attempt: data written, snapshot put never happened
    orphan = f"{t.path}/data/commit-99-deadbeef/_bucket=0"
    spark.createDataFrame([("zombie", "x", 9, 9, False, None)],
                          "url: string, text: string, _lsn: long, _seq: long,"
                          " _is_deleted: boolean, _ingest_ms: long") \
         .write.parquet(orphan)
    assert {r["url"] for r in t.refresh().read().collect()} == {"a"}
    res = t.refresh().expire_snapshots(keep_last=10)
    assert res["removed_files"] >= 1
    import os
    assert not any(f.endswith(".parquet") for f in
                   (os.listdir(orphan) if os.path.isdir(orphan) else []))
    assert {r["url"] for r in t.refresh().read().collect()} == {"a"}


def test_sql_view_over_table(spark, tmp_path):
    from pyspark.sql import types as T

    from database_delta_plugins_spark.lake.table import LakeTable

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t_view"), schema, key="url",
                         num_buckets=2)
    upd = spark.createDataFrame(
        [("a", "v1", "I", 1, 0), ("b", None, "D", 2, 0)],
        "url: string, text: string, op_type: string, lsn: long, seq: long")
    t.merge(upd, epoch_id=1)
    t.refresh().to_view("pages_v")
    got = spark.sql("SELECT url, text FROM pages_v ORDER BY url").collect()
    assert [(r["url"], r["text"]) for r in got] == [("a", "v1")]


def test_changes_refuses_window_spanning_purge(spark, tmp_path):
    """ADVICE r2: purge_tombstones physically drops the only file that
    carried _change_type='delete' for a key — a CDF window spanning the
    purge would silently omit the delete and a downstream consumer would
    retain the row forever. changes() must refuse such windows and keep
    serving windows that start at/after the purge."""
    import pytest
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t_cdfp"), schema, key="url",
                         num_buckets=2, write_mode="mor")
    v0 = t.version
    t.merge(spark.createDataFrame(
        [("a", "v1", "I", 1, 0), ("b", "w1", "I", 2, 0)],
        "url string, text string, op_type string, lsn long, seq long"),
        epoch_id=1)
    t = t.refresh()
    t.merge(spark.createDataFrame(
        [("a", None, "D", 3, 0)],
        "url string, text string, op_type string, lsn long, seq long"),
        epoch_id=2)
    t = t.refresh()
    # pre-purge window still sees the delete
    pre = t.changes(v0).collect()
    assert any(r["_change_type"] == "delete" for r in pre)
    res = t.compact(max_segments_per_bucket=0, purge_tombstones=True)
    assert res["purged_tombstones"]
    t = t.refresh()
    purge_v = t.version
    with pytest.raises(ValueError, match="tombstone-purging compaction"):
        t.changes(v0)
    # windows starting at/after the purge are fine
    t.changes(purge_v).collect()
    # a compact WITHOUT purge does not poison later windows
    t.merge(spark.createDataFrame(
        [("c", "x1", "I", 4, 0)],
        "url string, text string, op_type string, lsn long, seq long"),
        epoch_id=3)
    t = t.refresh()
    t.compact(max_segments_per_bucket=0, purge_tombstones=False)
    t = t.refresh()
    got = t.changes(purge_v).collect()
    assert {r["url"] for r in got} == {"c"}


class _CountingIO:
    """LocalMetaIO wrapper tallying metadata bytes/objects written —
    proves commit metadata I/O is O(touched buckets), not O(table)."""

    def __init__(self):
        from database_delta_plugins_spark.lake.metaio import LocalMetaIO
        self._inner = LocalMetaIO()
        self.bytes_written = 0
        self.objects_written = 0

    def put(self, path, text):
        self.bytes_written += len(text)
        self.objects_written += 1
        self._inner.put(path, text)

    def put_if_absent(self, path, text):
        self.bytes_written += len(text)
        self.objects_written += 1
        self._inner.put_if_absent(path, text)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def test_commit_metadata_is_o_touched_buckets(spark, tmp_path):
    """r3 directive #2: per-bucket manifest sharding. A commit touching
    ONE bucket of a 64-bucket table writes one manifest + a pointer-only
    snapshot — the snapshot never embeds file paths, untouched buckets'
    manifests are never rewritten, and per-commit metadata bytes stay
    flat as the table's total file count grows."""
    io = _CountingIO()
    t = LakeTable.create(spark, str(tmp_path / "t_meta"), SCHEMA, key="url",
                         num_buckets=64, write_mode="mor", io=io)
    # spread epoch: populate all 64 buckets
    spread = [(f"u{i}", f"v{i}", "en", "I", i + 1, 0) for i in range(512)]
    t.merge(_upd(spark, spread), epoch_id=0)
    t = LakeTable.load(spark, t.path, io=io)
    assert len(t.snap["buckets"]) == 64

    # hot-key epochs: each touches exactly one bucket
    per_commit = []
    manifests_dir = str(tmp_path / "t_meta" / "_meta" / "manifests")
    for e in range(1, 9):
        n_manifests_before = len(os.listdir(manifests_dir))
        b0 = io.bytes_written
        o0 = io.objects_written
        t.merge(_upd(spark, [("u0", f"w{e}", "en", "U", 1000 + e, 0)]),
                epoch_id=e)
        t = LakeTable.load(spark, t.path, io=io)
        # exactly 1 new manifest (+ snapshot + CURRENT hint)
        assert len(os.listdir(manifests_dir)) == n_manifests_before + 1
        assert io.objects_written - o0 == 3
        per_commit.append(io.bytes_written - b0)

    # the snapshot carries pointers only — no data-file paths
    snap_body = open(str(tmp_path / "t_meta" / "_meta" /
                         f"v{t.version}.json")).read()
    assert ".parquet" not in snap_body
    # untouched buckets share manifest pointers across versions
    prev = __import__("json").loads(open(str(
        tmp_path / "t_meta" / "_meta" / f"v{t.version - 1}.json")).read())
    same = sum(1 for b, info in t.snap["buckets"].items()
               if prev["buckets"].get(b) == info)
    assert same == 63
    # per-commit metadata bytes grow only by the epoch record (~120B)
    # plus the HOT bucket's own stack (one segment entry per epoch —
    # bounded by compaction), never by the other 63 buckets' file lists
    # (an inline-file-list snapshot would re-serialize all ~71+ paths
    # every commit)
    assert per_commit[-1] < per_commit[0] + 8 * 400
    # exact accounting: a commit writes the pointer snapshot + the ONE
    # touched manifest + the CURRENT hint — nothing else (untouched
    # buckets' manifests/file lists contribute zero bytes)
    hot_manifest = max(
        (os.path.join(manifests_dir, f) for f in os.listdir(manifests_dir)),
        key=os.path.getmtime)
    assert per_commit[-1] <= (len(snap_body)
                              + os.path.getsize(hot_manifest) + 16)
    # state stays correct through it all
    assert {r["url"]: r["text"] for r in t.read().collect()}["u0"] == "w8"
    assert t.read().count() == 512


def test_rebucket(spark, tmp_path):
    """r3 directive #10: rebucket 4 -> 16 as a fenced commit — state
    identical, old snapshots time-travel with their own layout, CDF
    windows across the rebucket stay artifact-free, epoch replay stays
    fenced, and new merges route on the new bucket expr."""
    t = _mk_mor(spark, tmp_path, "t_rb", num_buckets=4)
    t.merge(_upd(spark, [("a", "v1", "en", "I", 1, 0),
                         ("b", "w1", "de", "I", 2, 0),
                         ("c", "x1", "fr", "I", 3, 0)]), epoch_id=1)
    t = t.refresh()
    t.merge(_upd(spark, [("a", "v2", "en", "U", 4, 0),
                         ("b", None, None, "D", 5, 0)]), epoch_id=2)
    t = t.refresh()
    v_pre = t.version
    state_pre = t.read().orderBy("url").collect()

    lineage_pre = {r["url"]: r["_commit_version"] for r in t.scan().collect()}
    res = t.rebucket(16)
    assert res["rebucketed"] and res["num_buckets"] == 16
    t = t.refresh()
    # the rewrite keeps each row's commit version
    assert {r["url"]: r["_commit_version"]
            for r in t.scan().collect()} == lineage_pre
    assert t.num_buckets == 16
    assert t.read().orderBy("url").collect() == state_pre
    # tombstone survived the rewrite with its lsn
    dead = t.scan().filter(F.col("_is_deleted")).collect()
    assert len(dead) == 1 and dead[0]["url"] == "b" and dead[0]["_lsn"] == 5

    # time travel: the pre-rebucket snapshot still reads (old manifests)
    assert t.read(version=v_pre).orderBy("url").collect() == state_pre

    # CDF across the rebucket: only genuinely-new rows appear (rewritten
    # rows keep a commit version at or below the window start)
    v_rb = t.version
    t.merge(_upd(spark, [("d", "y1", "es", "I", 6, 0)]), epoch_id=3)
    t = t.refresh()
    assert [r["url"] for r in t.changes(v_pre).collect()] == ["d"]
    assert [r["url"] for r in t.changes(v_rb).collect()] == ["d"]

    # replay of a pre-rebucket epoch stays fenced
    rec = t.merge(_upd(spark, [("a", "STALE", "en", "U", 99, 0)]), epoch_id=2)
    assert rec["skipped_replay"]
    assert t.refresh().read().filter("url = 'a'").head()["text"] == "v2"

    # new keys route on the 16-bucket expr (scan pruning agrees)
    t = t.refresh()
    b_d = t.bucket_expr(F.lit("d"))
    bd = spark.range(1).select(b_d.alias("b")).head()["b"]
    assert {r["url"] for r in t.scan(buckets=[bd]).collect()} >= {"d"}
    # no-op path
    assert t.rebucket(16)["rebucketed"] is False


def test_purge_without_tombstones_does_not_poison_cdf(spark, tmp_path):
    """review r3: compact(purge_tombstones=True) on a delete-free table
    must NOT record a purge — CDF windows across it stay readable."""
    t = _mk_mor(spark, tmp_path, "t_nopurge")
    t.merge(_upd(spark, [("a", "v1", "en", "I", 1, 0),
                         ("b", "w1", "de", "I", 2, 0)]), epoch_id=1)
    t = t.refresh()
    v1 = t.version
    t.merge(_upd(spark, [("a", "v2", "en", "U", 3, 0)]), epoch_id=2)
    t = t.refresh()
    res = t.compact(max_segments_per_bucket=0, purge_tombstones=True)
    assert res["purged_tombstones"] is False
    t = t.refresh()
    assert t.snap.get("last_purge_version") is None
    t.merge(_upd(spark, [("c", "x1", "fr", "I", 4, 0)]), epoch_id=3)
    t = t.refresh()
    # window across the no-op purge still reads
    urls = {r["url"] for r in t.changes(v1).collect()}
    assert urls == {"a", "c"}


def test_expire_keeps_inflight_future_manifest(spark, tmp_path):
    """ADVICE r3: manifests are written BEFORE the snapshot commit
    point, so an unreferenced manifest targeting a FUTURE version may
    be a concurrent writer's commit in flight — expire_snapshots must
    not delete it. One targeting <= the current version is provably
    garbage and must go."""
    t = _mk(spark, tmp_path, num_buckets=2)
    for e in range(4):
        t.merge(_upd(spark, [("a", f"v{e}", "en", "U" if e else "I", e, 0)]),
                epoch_id=e)
        t = t.refresh()
    mdir = os.path.join(t.path, "_meta", "manifests")
    os.makedirs(mdir, exist_ok=True)
    inflight = f"b0-v{t.version + 1}-deadbeef.json"
    stale = "b0-v0-cafebabe.json"
    for fn in (inflight, stale):
        with open(os.path.join(mdir, fn), "w") as f:
            f.write('{"bucket": 0, "segments": []}')
    res = t.expire_snapshots(keep_last=1)
    assert os.path.exists(os.path.join(mdir, inflight)), \
        "future-version manifest (commit in flight) was GC'd"
    assert not os.path.exists(os.path.join(mdir, stale))
    assert res["removed_manifests"] >= 1
    # cleanup the fake so later loads don't trip on it
    os.remove(os.path.join(mdir, inflight))


def test_mor_unknown_delta_rows_forces_shuffle(spark, tmp_path, monkeypatch):
    """ADVICE r3: a delta segment with no row stats (legacy v2 layout)
    is unsizeable — scan() must take the shuffle resolve, never count
    it as 0 rows and risk broadcasting an oversized delta."""
    import json as _json

    t = _epochs(spark, _mk_mor(spark, tmp_path, "m_unsized"))
    expected = t.read().orderBy("url").collect()
    # strip row stats from every DELTA segment in the referenced manifests
    for b, info in t.snap["buckets"].items():
        rel = info.get("manifest")
        if rel is None:
            continue
        p = os.path.join(t.path, "_meta", rel)
        with open(p) as f:
            m = _json.load(f)
        for i, seg in enumerate(m["segments"]):
            if i > 0:
                seg["rows"] = None
        with open(p, "w") as f:
            _json.dump(m, f)
    t2 = LakeTable.load(spark, t.path)

    def _boom(*a, **k):
        raise AssertionError("broadcast resolve chosen for unsizeable delta")

    monkeypatch.setattr(LakeTable, "_resolve_lww_broadcast", staticmethod(_boom))
    assert t2.read().orderBy("url").collect() == expected


def test_changes_exact_when_compaction_absorbs_out_of_order_epoch(spark, tmp_path):
    """ADVICE r5 (medium): an epoch with lsns BELOW the since-frontier
    commits inside the CDF window, then a same-window compaction absorbs
    its commit files — the compact-* artifact becomes the rows' only
    carrier, and the `_lsn > lo` rewrite filter used to silently drop
    those real changes. Row lineage keeps them: the compacted rows carry
    the _commit_version of the epoch that wrote them."""
    t = LakeTable.create(spark, str(tmp_path / "t_ooo"), SCHEMA, key="url",
                         num_buckets=1, write_mode="mor")
    t.merge(_upd(spark, [("a", "a1", "en", "I", 100, 0),
                         ("b", "b1", "de", "I", 101, 0)]), epoch_id=1)
    t = t.refresh()
    v1 = t.version
    # out-of-lsn-order epoch: lsns 1,2 < the v1 frontier (101)
    t.merge(_upd(spark, [("c", "c1", "fr", "I", 1, 0),
                         ("d", "d1", "es", "I", 2, 0)]), epoch_id=2)
    t = t.refresh()
    # compaction inside the window absorbs epoch 2's commit files
    res = t.compact(max_segments_per_bucket=1)
    assert res["buckets_compacted"]
    t = t.refresh()
    ch = {r["url"]: r for r in t.changes(v1).collect()}
    assert set(ch) == {"c", "d"}, ch
    assert ch["c"]["_lsn"] == 1 and ch["d"]["_lsn"] == 2
    assert all(r["_change_type"] == "upsert" for r in ch.values())
    # the in-order window (v0 -> v1) is exact too
    assert {r["url"] for r in t.changes(0, v1).collect()} == {"a", "b"}


def test_changes_cow_out_of_order_epoch_not_dropped(spark, tmp_path):
    """cow merge files carry previously-visible rows by construction, so
    a filter on lsn dropped every row of an out-of-lsn-order epoch (no
    rewrite needed). changes() must emit the low-lsn inserts and still
    suppress the rewritten old rows sharing the same files, which keep
    the _commit_version of the epoch that wrote them."""
    t = _mk(spark, tmp_path, "t_cow_ooo", num_buckets=1)
    t.merge(_upd(spark, [("a", "a1", "en", "I", 100, 0),
                         ("b", "b1", "de", "I", 101, 0)]), epoch_id=1)
    t = t.refresh()
    v1 = t.version
    t.merge(_upd(spark, [("c", "c1", "fr", "I", 1, 0),
                         ("d", "d1", "es", "I", 2, 0)]), epoch_id=2)
    t = t.refresh()
    ch = {r["url"]: r for r in t.changes(v1).collect()}
    # c,d are the window's real changes; a,b ride the rewritten cow file
    # with lsns ABOVE the naive filter and must still be suppressed
    assert set(ch) == {"c", "d"}, ch
    assert ch["c"]["_lsn"] == 1 and ch["d"]["_lsn"] == 2
    # the merge touched the bucket but not keys a, b: their rows were
    # rewritten with their original commit version
    assert {r["url"]: r["_commit_version"] for r in t.scan().collect()} == {
        "a": v1, "b": v1, "c": t.version, "d": t.version}

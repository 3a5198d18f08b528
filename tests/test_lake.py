"""LakeTable ACID semantics: merge upsert, tombstones, epoch fencing,
order-independence, schema evolution, concurrency guard."""
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_delta_plugins_spark.lake.table import LakeTable

SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


def _mk(spark, tmp_path, name="t", **kw):
    return LakeTable.create(spark, str(tmp_path / name), SCHEMA, key="url",
                            num_buckets=kw.pop("num_buckets", 4), **kw)


_UPD_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("op_type", T.StringType(), False),
    T.StructField("lsn", T.LongType(), False),
    T.StructField("seq", T.LongType(), False),
])


def _upd(spark, rows):
    return spark.createDataFrame(rows, _UPD_SCHEMA)


def test_insert_update_delete(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_upd(spark, [("a", "v1", "en", "I", 1, 0), ("b", "w1", "de", "I", 2, 0)]), epoch_id=1)
    t = t.refresh()
    assert {r["url"]: r["text"] for r in t.read().collect()} == {"a": "v1", "b": "w1"}
    t.merge(_upd(spark, [("a", "v2", "en", "U", 3, 0), ("b", None, None, "D", 4, 0)]), epoch_id=2)
    t = t.refresh()
    state = {r["url"]: r["text"] for r in t.read().collect()}
    assert state == {"a": "v2"}
    # tombstone retained internally with its lsn
    dead = t.scan().filter(F.col("_is_deleted")).collect()
    assert len(dead) == 1 and dead[0]["url"] == "b" and dead[0]["_lsn"] == 4


def test_stale_update_loses(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_upd(spark, [("a", "new", "en", "I", 10, 0)]), epoch_id=1)
    t = t.refresh()
    rec = t.merge(_upd(spark, [("a", "stale", "en", "U", 5, 0)]), epoch_id=2)
    t = t.refresh()
    assert t.read().head()["text"] == "new"
    assert rec["conflicts_lost"] == 1


def test_delete_then_late_update_stays_dead(spark, tmp_path):
    """Out-of-order: DELETE(lsn 10) applied before UPDATE(lsn 5) — the
    tombstone's lsn wins; resurrect only with a newer insert."""
    t = _mk(spark, tmp_path)
    t.merge(_upd(spark, [("a", None, None, "D", 10, 0)]), epoch_id=1)
    t = t.refresh()
    t.merge(_upd(spark, [("a", "late", "en", "U", 5, 0)]), epoch_id=2)
    t = t.refresh()
    assert t.read().count() == 0
    t.merge(_upd(spark, [("a", "reborn", "en", "I", 11, 0)]), epoch_id=3)
    t = t.refresh()
    assert t.read().head()["text"] == "reborn"


def test_epoch_fencing_idempotent(spark, tmp_path):
    t = _mk(spark, tmp_path)
    batch = _upd(spark, [("a", "v1", "en", "I", 1, 0)])
    r1 = t.merge(batch, epoch_id="e1")
    t = t.refresh()
    v = t.version
    r2 = t.merge(batch, epoch_id="e1")
    assert r2.get("skipped_replay") is True
    assert t.refresh().version == v
    assert r1["rows_applied"] == r2["rows_applied"]


def test_epoch_order_independence(spark, tmp_path):
    e1 = [("a", "v1", "en", "I", 1, 0), ("b", "w1", "de", "I", 2, 0)]
    e2 = [("a", "v2", "en", "U", 3, 0), ("c", "x1", "fr", "I", 4, 0)]
    ta = _mk(spark, tmp_path, "fwd")
    ta.merge(_upd(spark, e1), epoch_id=1)
    ta.refresh().merge(_upd(spark, e2), epoch_id=2)
    tb = _mk(spark, tmp_path, "rev")
    tb.merge(_upd(spark, e2), epoch_id=2)
    tb.refresh().merge(_upd(spark, e1), epoch_id=1)
    a = LakeTable.load(spark, str(tmp_path / "fwd")).read().orderBy("url").collect()
    b = LakeTable.load(spark, str(tmp_path / "rev")).read().orderBy("url").collect()
    assert a == b


def test_schema_evolution(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_upd(spark, [("a", "v1", "en", "I", 1, 0)]), epoch_id=1)
    t = t.refresh()
    assert t.apply_ddl({"action": "add_column", "name": "score", "type": "int"}, lsn=100)
    t = t.refresh()
    # old rows null-fill
    assert t.read().head()["score"] is None
    # history dedup: same-or-older lsn skipped (DBSchemaHistory.java:60-88)
    assert not t.apply_ddl({"action": "add_column", "name": "zz", "type": "int"}, lsn=100)
    # widen int -> bigint
    assert t.apply_ddl({"action": "widen_column", "name": "score", "type": "bigint"}, lsn=101)
    t = t.refresh()
    up = _upd(spark, [("b", "w1", "de", "I", 2, 0)]).withColumn("score", F.lit(7).cast("bigint"))
    t.merge(up, epoch_id=2)
    t = t.refresh()
    got = {r["url"]: r["score"] for r in t.read().collect()}
    assert got == {"a": None, "b": 7}
    # rename is metadata-only
    assert t.apply_ddl({"action": "rename_column", "name": "score", "new_name": "rank"}, lsn=102)
    t = t.refresh()
    assert {r["url"]: r["rank"] for r in t.read().collect()} == {"a": None, "b": 7}
    # illegal widen rejected
    with pytest.raises(ValueError):
        t.apply_ddl({"action": "widen_column", "name": "rank", "type": "int"}, lsn=103)
    # drop key rejected
    with pytest.raises(ValueError):
        t.apply_ddl({"action": "drop_column", "name": "url"}, lsn=104)


def test_concurrent_commit_detected(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_upd(spark, [("a", "v1", "en", "I", 1, 0)]), epoch_id=1)
    stale = LakeTable.load(spark, str(t.path))
    t2 = LakeTable.load(spark, str(t.path))
    t2.merge(_upd(spark, [("b", "w", "de", "I", 2, 0)]), epoch_id=2)
    # stale handle now races to the same version -> exclusive create fails
    with pytest.raises(FileExistsError):
        stale.merge(_upd(spark, [("c", "x", "fr", "I", 3, 0)]), epoch_id=3)


def test_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_upd(spark, [("a", "v1", "en", "I", 1, 0)]), epoch_id=1)
    t = t.refresh()
    v1 = t.version
    t.merge(_upd(spark, [("a", "v2", "en", "U", 2, 0)]), epoch_id=2)
    t = t.refresh()
    assert t.read().head()["text"] == "v2"
    assert t.read(version=v1).head()["text"] == "v1"


def test_orphan_snapshot_recovered_after_crash(spark, tmp_path):
    """A kill between v{N}.json create and the CURRENT swap leaves an
    orphan; the next commit at that version must unlink it and proceed
    (advice r1: crash-recovery deadlock)."""
    t = _mk(spark, tmp_path)
    t.merge(_upd(spark, [("a", "v1", "en", "I", 1, 0)]), epoch_id=1)
    t = t.refresh()
    # simulate the crashed attempt: orphan v{N+1}.json, CURRENT untouched
    orphan = f"{t.path}/_meta/v{t.version + 1}.json"
    with open(orphan, "w") as f:
        f.write('{"partial": true')  # even truncated JSON must be cleared
    rec = t.merge(_upd(spark, [("b", "w1", "de", "I", 2, 0)]), epoch_id=2)
    t = t.refresh()
    assert rec["rows_applied"] == 1
    assert {r["url"] for r in t.read().collect()} == {"a", "b"}
    # and the committed snapshot at that version is valid JSON
    with open(orphan) as f:
        json.load(f)


def test_time_travel_across_schema_evolution(spark, tmp_path):
    """read(version=v) must project version-v's schema, not HEAD's
    (advice r1: UNRESOLVED_COLUMN after add/rename/drop since v)."""
    t = _mk(spark, tmp_path)
    t.merge(_upd(spark, [("a", "v1", "en", "I", 1, 0)]), epoch_id=1)
    t = t.refresh()
    v1 = t.version
    t.apply_ddl({"action": "add_column", "name": "score", "type": "int"}, lsn=100)
    t = t.refresh()
    t.apply_ddl({"action": "rename_column", "name": "text", "new_name": "body"}, lsn=101)
    t = t.refresh()
    t.apply_ddl({"action": "drop_column", "name": "lang"}, lsn=102)
    t = t.refresh()
    old = t.read(version=v1)
    assert old.columns == ["url", "text", "lang"]
    assert old.head()["text"] == "v1"
    assert t.read().columns == ["url", "body", "score"]


def test_change_feed_between_versions(spark, tmp_path):
    """CDF read: changes(since) returns exactly the rows applied after
    `since` — upserts and deletes typed, compaction artifacts excluded by
    their commit version, schema evolution projected by field id."""
    t = _mk(spark, tmp_path, "t_cdf", write_mode="mor")
    t.merge(_upd(spark, [("a", "v1", "en", "I", 1, 0),
                         ("b", "w1", "de", "I", 2, 0)]), epoch_id=1)
    t = t.refresh()
    v1 = t.version
    t.merge(_upd(spark, [("a", "v2", "en", "U", 3, 0),
                         ("b", None, None, "D", 4, 0),
                         ("c", "x1", "fr", "I", 5, 0)]), epoch_id=2)
    t = t.refresh()
    ch = {r["url"]: r for r in t.changes(v1).collect()}
    assert set(ch) == {"a", "b", "c"}
    assert ch["a"]["_change_type"] == "upsert" and ch["a"]["text"] == "v2"
    assert ch["b"]["_change_type"] == "delete"
    assert ch["c"]["_lsn"] == 5
    # compaction rewrites old rows into new files; they keep their commit
    # version, which keeps them out of the NEXT window's feed
    v2 = t.version
    lineage = {r["url"]: r["_commit_version"] for r in t.scan().collect()}
    assert lineage == {"a": v2, "b": v2, "c": v2}
    t.compact(max_segments_per_bucket=1)
    t = t.refresh()
    assert {r["url"]: r["_commit_version"]
            for r in t.scan().collect()} == lineage
    t.merge(_upd(spark, [("d", "y1", "en", "I", 6, 0)]), epoch_id=3)
    t = t.refresh()
    ch2 = [r["url"] for r in t.changes(v2).collect()]
    assert ch2 == ["d"]
    # schema evolution inside the window: rename resolves by field id
    t.apply_ddl({"action": "rename_column", "name": "text", "new_name": "body"}, lsn=100)
    t = t.refresh()
    v3 = t.version
    up = _upd(spark, [("e", "z1", "en", "I", 7, 0)]).withColumnRenamed("text", "body")
    t.merge(up, epoch_id=4)
    t = t.refresh()
    ch3 = t.changes(v3).collect()
    assert [r["url"] for r in ch3] == ["e"] and ch3[0]["body"] == "z1"
    # empty window
    assert t.changes(t.version).count() == 0


def test_snapshot_isolation_reader_pinned(spark, tmp_path):
    """A reader holding version N's DataFrame keeps seeing N's state
    after a concurrent commit to N+1 (immutable files + pinned manifest
    = snapshot isolation)."""
    t = _mk(spark, tmp_path, "t_iso")
    t.merge(_upd(spark, [("a", "v1", "en", "I", 1, 0)]), epoch_id=1)
    t = t.refresh()
    pinned = t.read()          # plan resolved against version-N manifest
    t.merge(_upd(spark, [("a", "v2", "en", "U", 2, 0)]), epoch_id=2)
    assert [r["text"] for r in pinned.collect()] == ["v1"]
    assert [r["text"] for r in t.refresh().read().collect()] == ["v2"]


def _formatted_plan(df) -> str:
    import io as _io
    from contextlib import redirect_stdout
    buf = _io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _exchange_inputs(plan: str) -> list[str]:
    """Input-column lines of every Exchange/BroadcastExchange node in a
    formatted plan — what actually crosses the wire."""
    import re
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if re.match(r"\(\d+\) (Broadcast)?Exchange", ln.strip()):
            for j in range(i + 1, min(i + 5, len(lines))):
                if lines[j].strip().startswith("Input"):
                    out.append(lines[j])
                    break
    return out


def test_mor_scan_payload_never_shuffled(spark, tmp_path):
    """r3 directive #1: multi-segment mor scan resolves LWW late-
    materialized — every Exchange in the plan carries only narrow
    (key, _lsn, _seq) columns, never the payload; the resolve joins are
    broadcast. The over-budget fallback (properties.
    mor_resolve_broadcast_rows=0) shuffles but returns identical state."""
    rows1 = [("a", "v1", "en", "I", 1, 0), ("b", "w1", "de", "I", 2, 0),
             ("c", "x1", "fr", "I", 3, 0)]
    rows2 = [("a", "v2", "en", "U", 4, 0), ("b", None, None, "D", 5, 0),
             ("d", "y1", "en", "I", 6, 0)]
    rows3 = [("a", "v3", "en", "U", 7, 0)]

    def _fill(name, **props):
        t = LakeTable.create(spark, str(tmp_path / name), SCHEMA, key="url",
                             num_buckets=4, write_mode="mor",
                             properties=props or None)
        for i, rows in enumerate((rows1, rows2, rows3)):
            t.merge(_upd(spark, rows), epoch_id=i + 1)
            t = t.refresh()
        return t

    t = _fill("t_late")
    # 3-deep stack on touched buckets
    assert any(len(s) >= 2 for s in t.segments_map().values())
    df = t.scan()
    plan = _formatted_plan(df)
    exch = _exchange_inputs(plan)
    assert exch, "expected at least one exchange (winner reduce)"
    for ln in exch:
        assert "text#" not in ln, f"payload entered an exchange: {ln}"
    assert "BroadcastHashJoin" in plan
    state = {r["url"]: (r["text"], r["_lsn"]) for r in df.collect()}
    assert state == {"a": ("v3", 7), "b": (None, 5), "c": ("x1", 3),
                     "d": ("y1", 6)}
    assert df.filter(F.col("_is_deleted")).count() == 1

    # fallback: broadcast budget 0 -> payload-wide shuffle reduce,
    # identical result
    t2 = _fill("t_fallback", mor_resolve_broadcast_rows=0)
    df2 = t2.scan()
    plan2 = _formatted_plan(df2)
    assert "BroadcastHashJoin" not in plan2
    state2 = {r["url"]: (r["text"], r["_lsn"]) for r in df2.collect()}
    assert state2 == state


def test_cow_merge_untouched_rows_broadcast_anti(spark, tmp_path):
    """r3: the cow merge joins updates only against TOUCHED target rows —
    untouched rows of affected buckets ride a broadcast anti join
    (map-side, no join shuffle); the fallback (broadcast budget 0) keeps
    the plain full_outer and produces the identical state."""
    rows0 = [(f"k{i}", f"v{i}", "en", "I", i + 1, 0) for i in range(50)]
    upd1 = [("k0", "V0", "en", "U", 100, 0), ("k1", None, None, "D", 101, 0),
            ("new", "n1", "de", "I", 102, 0)]

    def _fill(name, **props):
        t = LakeTable.create(spark, str(tmp_path / name), SCHEMA, key="url",
                             num_buckets=4, properties=props or None)
        t.merge(_upd(spark, rows0), epoch_id=1)
        t = t.refresh()
        rec = t.merge(_upd(spark, upd1), epoch_id=2)
        return t.refresh(), rec

    t, rec = _fill("t_cowb")
    assert rec["conflicts_lost"] == 0 and rec["rows_updated"] == 2
    assert set(rec["phase_sec"]) == {"lww", "write"}
    state = {r["url"]: r["text"] for r in t.read().collect()}
    assert state["k0"] == "V0" and "k1" not in state and state["new"] == "n1"
    assert len(state) == 50  # 49 originals + new
    # rows that took the update carry the merge's version; rewritten
    # target rows keep version 1
    lineage = {r["url"]: r["_commit_version"] for r in t.scan().collect()}
    assert lineage == {**{f"k{i}": 1 for i in range(2, 50)},
                       "k0": 2, "k1": 2, "new": 2}

    # plan shape: anti/semi of target vs broadcast keys
    upd_shaped = _upd(spark, upd1).select(
        "url", "text", "lang",
        F.col("lsn").alias("_u_lsn"), F.col("seq").alias("_u_seq"),
        (F.col("op_type") == "D").alias("_u_deleted"),
        F.lit(None).cast("long").alias("_u_ingest_ms"),
    ).withColumn("_bucket", t.bucket_expr(F.col("url")))
    res = t._cow_merge_result(upd_shaped, t.scan().withColumnRenamed("url", "_t_key"),
                              "url", ["url", "text", "lang"], broadcast_keys=True)
    plan = _formatted_plan(res)
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan and ("LeftSemi" in plan or "Semi" in plan)

    # fallback path: budget 0 -> full_outer over the scan, same state
    t2, rec2 = _fill("t_cowf", mor_resolve_broadcast_rows=0)
    assert {r["url"]: r["text"] for r in t2.read().collect()} == state
    assert {r["url"]: r["_commit_version"]
            for r in t2.scan().collect()} == lineage
    assert rec2["rows_updated"] == rec["rows_updated"]
    assert rec2["tombstones"] == rec["tombstones"]


def test_v2_inline_snapshot_reads_and_upgrades(spark, tmp_path):
    """Back-compat: a format_version-2 snapshot (inline per-bucket
    segment lists, pre-manifest-sharding) still reads, merges, compacts
    — touched buckets upgrade to manifest pointers on their next commit,
    untouched inline entries keep working side by side."""
    t = _mk(spark, tmp_path, "t_v2", write_mode="mor")
    t.merge(_upd(spark, [("a", "v1", "en", "I", 1, 0),
                         ("b", "w1", "de", "I", 2, 0),
                         ("c", "x1", "fr", "I", 3, 0)]), epoch_id=1)
    t = t.refresh()
    # rewrite the head snapshot in legacy inline form
    snap = json.loads(json.dumps(t.snap))
    snap["format_version"] = 2
    snap["buckets"] = {b: {"segments": t._segments_of(info)}
                       for b, info in t.snap["buckets"].items()}
    snap["version"] += 1
    t._write_snapshot(snap)
    t = t.refresh()
    assert all("segments" in i for i in t.snap["buckets"].values())
    assert {r["url"] for r in t.read().collect()} == {"a", "b", "c"}

    # a new commit touches one bucket -> that bucket gets a pointer,
    # others stay inline; reads resolve the mixed state
    t.merge(_upd(spark, [("a", "v2", "en", "U", 4, 0)]), epoch_id=2)
    t = t.refresh()
    kinds = {("manifest" in i) for i in t.snap["buckets"].values()}
    assert kinds == {True, False} or kinds == {True}
    state = {r["url"]: r["text"] for r in t.read().collect()}
    assert state == {"a": "v2", "b": "w1", "c": "x1"}
    # compaction folds the mixed stacks; CDF across it stays clean
    t.compact(max_segments_per_bucket=1)
    t = t.refresh()
    assert {r["url"]: r["text"] for r in t.read().collect()} == state


def test_cdf_incremental_consumer_converges(spark, tmp_path):
    """The CDF contract from the consumer side: a downstream state
    maintained ONLY from changes() windows (apply upserts, drop deletes)
    equals the table read at every version — the incremental-follow use
    case changes() exists for."""
    t = _mk(spark, tmp_path, "t_cdf_con", write_mode="mor")
    epochs = [
        [("a", "v1", "en", "I", 1, 0), ("b", "w1", "de", "I", 2, 0)],
        [("a", "v2", "en", "U", 3, 0), ("c", "x1", "fr", "I", 4, 0)],
        [("b", None, None, "D", 5, 0), ("d", "y1", "es", "I", 6, 0)],
        [("c", "x2", "fr", "U", 7, 0), ("a", None, None, "D", 8, 0)],
    ]
    downstream: dict = {}
    last_v = t.version
    for e, rows in enumerate(epochs):
        t.merge(_upd(spark, rows), epoch_id=e)
        t = t.refresh()
        for r in t.changes(last_v).collect():
            if r["_change_type"] == "delete":
                downstream.pop(r["url"], None)
            else:
                downstream[r["url"]] = r["text"]
        last_v = t.version
        table_state = {r["url"]: r["text"] for r in t.read().collect()}
        assert downstream == table_state, f"diverged after epoch {e}"


@pytest.mark.parametrize("props", [None, {"mor_resolve_broadcast_rows": 0}],
                         ids=["broadcast", "shuffle"])
def test_mor_redelivered_winner_reads_once(spark, tmp_path, props):
    """An at-least-once source can commit the same (url, _lsn, _seq) in
    two epochs — base + delta, or two deltas. The mor resolve orders
    rows totally (source file breaks the tie), so read() returns one
    row per url on both the broadcast and the over-budget shuffle path."""
    t = LakeTable.create(spark, str(tmp_path / "t_redeliver"), SCHEMA,
                         key="url", num_buckets=2, write_mode="mor",
                         properties=props)
    a = ("a", "v1", "en", "I", 5, 0)
    c = ("c", "x1", "fr", "I", 8, 0)
    for e, rows in enumerate([[a, ("b", "w1", "de", "I", 6, 0)],
                              [("b", "w2", "de", "U", 7, 0), c],
                              [a, c]]):
        rec = t.merge(_upd(spark, rows), epoch_id=e)
        t = t.refresh()
    # the mor winner reduce runs inside the write action: one timed phase
    assert set(rec["phase_sec"]) == {"write"}
    assert max(len(s) for s in t.segments_map().values()) == 3
    assert sorted((r["url"], r["text"]) for r in t.read().collect()) == [
        ("a", "v1"), ("b", "w2"), ("c", "x1")]
    assert t.scan().count() == 3


def test_changes_exact_when_since_snapshot_has_no_files(spark, tmp_path):
    """The frontier was advanced past an epoch's lsns on a table with no
    files (record_epoch(max_lsn) on an idle table), so the `_lsn > lo`
    filter is unsound for that epoch. With no old files there is nothing
    to suppress: changes() returns every row the epoch applied."""
    t = _mk(spark, tmp_path, "t_cdf_idle")
    t.record_epoch("idle", max_lsn=100)
    t = t.refresh()
    v0 = t.version
    t.merge(_upd(spark, [("a", "v1", "en", "I", 5, 0),
                         ("b", None, None, "D", 6, 0)]), epoch_id=1)
    t = t.refresh()
    ch = {r["url"]: r["_change_type"] for r in t.changes(v0).collect()}
    assert ch == {"a": "upsert", "b": "delete"}


def _jobs_run(spark, action) -> int:
    """Number of Spark jobs ``action`` runs (counted by job group)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_mor_read_job_count(spark, tmp_path):
    """A mor point lookup over a 3-deep stack whose segments span two
    schema ids runs at most 3 jobs (two broadcast builds + the read; no
    footer-inference job), and a one-commit change feed runs 1."""
    t = _mk(spark, tmp_path, "t_jobs", write_mode="mor")
    keys = [f"k{i}" for i in range(12)]
    t.merge(_upd(spark, [(k, "v1", "en", "I", i + 1, 0)
                         for i, k in enumerate(keys)]), epoch_id=1)
    t = t.refresh()
    t.merge(_upd(spark, [(k, "v2", "en", "U", 100 + i, 0)
                         for i, k in enumerate(keys[:6])]), epoch_id=2)
    t = t.refresh()
    t.apply_ddl({"action": "add_column", "name": "n", "type": "int"}, lsn=150)
    t = t.refresh()
    t.merge(_upd(spark, [(k, "v3", "en", "U", 200 + i, 0)
                         for i, k in enumerate(keys[::2])])
            .withColumn("n", F.lit(3)), epoch_id=3)
    t = t.refresh()
    assert max(len(s) for s in t.segments_map().values()) >= 3
    assert len({s["schema_id"] for segs in t.segments_map().values()
                for s in segs}) == 2

    got = []
    n = _jobs_run(spark, lambda: got.extend(
        t.read().filter(F.col("url").isin("k0", "k1", "k7")).collect()))
    assert n <= 3, f"point lookup ran {n} jobs"
    assert sorted((r["url"], r["text"], r["n"]) for r in got) == [
        ("k0", "v3", 3), ("k1", "v2", None), ("k7", "v1", None)]
    n = _jobs_run(spark, lambda: t.changes(t.version - 1, t.version).collect())
    assert n == 1, f"changes() ran {n} jobs"


def test_changes_exact_after_crash_before_lineage_append(spark, tmp_path,
                                                         monkeypatch):
    """A crash between the snapshot put (the commit point) and the
    lineage sidecar append leaves a committed version the sidecar never
    heard of. changes() must not depend on the sidecar: an out-of-lsn-
    order cow epoch committed that way still shows its rows."""
    t = _mk(spark, tmp_path, "t_crash_lineage", num_buckets=1)
    t.merge(_upd(spark, [("a", "a1", "en", "I", 100, 0),
                         ("b", "b1", "de", "I", 101, 0)]), epoch_id=1)
    t = t.refresh()
    v1 = t.version

    def _crash(self, lineage):
        raise RuntimeError("crash after the snapshot put")

    monkeypatch.setattr(LakeTable, "_append_lineage", _crash)
    with pytest.raises(RuntimeError, match="crash after the snapshot put"):
        t.merge(_upd(spark, [("c", "c1", "fr", "I", 1, 0),
                             ("d", "d1", "es", "I", 2, 0)]), epoch_id=2)
    monkeypatch.undo()
    t = LakeTable.load(spark, t.path)
    assert t.version == v1 + 1
    assert all(r.get("committed_version") != t.version
               for r in t.lineage_log())
    ch = {r["url"]: (r["_lsn"], r["_change_type"])
          for r in t.changes(v1).collect()}
    assert ch == {"c": (1, "upsert"), "d": (2, "upsert")}


def _strip_row_lineage(t) -> None:
    """Rewrite a table as code from before row lineage left it: data
    files without _commit_version, snapshots without row_lineage_from."""
    import pyarrow.parquet as pq

    for root, _dirs, files in os.walk(os.path.join(t.path, "data")):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(root, fn)
                pq.write_table(pq.ParquetFile(p).read().drop(["_commit_version"]), p)
                # the local Hadoop filesystem verifies a sibling checksum
                crc = os.path.join(root, f".{fn}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
    meta = os.path.join(t.path, "_meta")
    for fn in os.listdir(meta):
        if fn.startswith("v") and fn.endswith(".json"):
            with open(os.path.join(meta, fn)) as f:
                snap = json.load(f)
            snap.pop("row_lineage_from")
            with open(os.path.join(meta, fn), "w") as f:
                json.dump(snap, f)


@pytest.mark.parametrize("write_mode", ["mor", "cow"])
def test_changes_legacy_files_without_row_lineage(spark, tmp_path, write_mode):
    """A table written before row lineage has no _commit_version in its
    files. Its first new commit sets row_lineage_from; changes() refuses
    windows before it and is exact from it onward, also after a
    compaction carries the null-version rows into new files."""
    t = _mk(spark, tmp_path, f"t_legacy_{write_mode}", num_buckets=1,
            write_mode=write_mode)
    t.merge(_upd(spark, [("a", "a1", "en", "I", 1, 0),
                         ("b", "b1", "de", "I", 2, 0),
                         ("e", "e1", "fr", "I", 3, 0)]), epoch_id=1)
    _strip_row_lineage(t)
    t = LakeTable.load(spark, t.path)
    v_old = t.version
    assert "row_lineage_from" not in t.snap
    with pytest.raises(ValueError, match="row lineage"):
        t.changes(0, v_old)

    t.merge(_upd(spark, [("a", "a2", "en", "U", 4, 0),
                         ("c", "c1", "es", "I", 5, 0)]), epoch_id=2)
    t = t.refresh()
    v_new = t.version
    assert t.snap["row_lineage_from"] == v_new
    for since in (0, v_old):
        with pytest.raises(ValueError, match="row lineage"):
            t.changes(since)
    assert t.changes(v_new).count() == 0

    t.merge(_upd(spark, [("b", None, None, "D", 6, 0),
                         ("d", "d1", "it", "I", 7, 0)]), epoch_id=3)
    t = t.refresh()
    v3 = t.version
    want = {"b": (6, "delete"), "d": (7, "upsert")}

    def _feed(since):
        return {r["url"]: (r["_lsn"], r["_change_type"])
                for r in t.changes(since).collect()}

    assert _feed(v_new) == want
    t.compact(max_segments_per_bucket=0)
    t = t.refresh()
    lineage = {r["url"]: r["_commit_version"] for r in t.scan().collect()}
    assert lineage == {"a": v_new, "b": v3, "c": v_new, "d": v3, "e": None}
    assert _feed(v_new) == want
    assert _feed(v3) == {}

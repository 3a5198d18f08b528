"""Replay-equivalence contract (SURVEY.md §3.3): kill at any epoch,
restart from checkpoint, final table state identical — including the
DDL-before-DML ordering at epoch boundaries (A4)."""
import json
import time

import duckdb
import pytest
from pyspark.sql import functions as F

from database_delta_plugins_spark.lake.table import LakeTable
from database_delta_plugins_spark.sources.generator import write_event_log
from database_delta_plugins_spark.streaming.pipeline import CDCPipeline


def _state(t: LakeTable):
    return t.read().orderBy("url").toPandas()


def test_streaming_replay_equivalence(spark, sf_dir, tmp_path):
    log = str(tmp_path / "log")
    ddl = json.dumps({"action": "add_column", "name": "fetch_status", "type": "int"})
    n = write_event_log(spark, sf_dir, log, revs=3, n_files=4, ddls=[(901, ddl)])
    assert n > 0

    # run A: uninterrupted
    pa = CDCPipeline(spark, log, str(tmp_path / "ta"), str(tmp_path / "ca"),
                     num_buckets=4, max_files_per_trigger=2)
    pa.bootstrap(replicate_existing_data=False)
    ta = pa.run_to_completion()
    sa = _state(ta)
    assert "fetch_status" in sa.columns  # DDL applied mid-stream

    # run B: kill after first committed epoch, restart
    pb = CDCPipeline(spark, log, str(tmp_path / "tb"), str(tmp_path / "cb"),
                     num_buckets=4, max_files_per_trigger=2)
    pb.bootstrap(replicate_existing_data=False)
    q = pb.start()
    deadline = time.time() + 120
    while not pb.epoch_lineage and time.time() < deadline:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    tb = pb.run_to_completion()
    sb = _state(tb)
    assert sa.equals(sb)

    # full re-run after completion: everything fenced, state unchanged
    v = tb.version
    tb2 = pb.run_to_completion()
    assert tb2.version == v
    assert _state(tb2).equals(sb)


def test_matches_duckdb_sequential_oracle(spark, sf_dir, tmp_path):
    log = str(tmp_path / "log2")
    write_event_log(spark, sf_dir, log, revs=3, n_files=3)
    p = CDCPipeline(spark, log, str(tmp_path / "t2"), str(tmp_path / "c2"), num_buckets=4)
    t = p.run_to_completion()
    got = t.read().select("url", "text").orderBy("url").toPandas()
    oracle = duckdb.sql(f"""
      with dml as (select * from '{log}/*.parquet' where op != 'ddl'),
      w as (select *, row_number() over (partition by coalesce(after.url, before.url)
                                         order by lsn desc, seq desc) rn from dml)
      select coalesce(after.url, before.url) as url, after.text as text
      from w where rn = 1 and op != 'd' order by url
    """).df()
    assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))


def test_runtime_args_override(spark, tmp_path):
    """C4: 'source.connector.'-prefixed args override pipeline knobs."""
    p = CDCPipeline(
        spark, str(tmp_path / "log"), str(tmp_path / "t"), str(tmp_path / "c"),
        max_files_per_trigger=2, num_buckets=4,
        runtime_args={
            "source.connector.max_files_per_trigger": "9",
            "source.connector.normalize_lang": "true",
            "unprefixed": "ignored",
        },
    )
    assert p.max_files_per_trigger == 9
    assert p.normalize_lang is True
    assert p.num_buckets == 4
    # an unknown knob (a typo, or one that no longer exists) is refused
    # by name rather than silently changing nothing
    with pytest.raises(ValueError, match="source.connector.salt_bucket"):
        CDCPipeline(
            spark, str(tmp_path / "log"), str(tmp_path / "t"), str(tmp_path / "c"),
            runtime_args={"source.connector.salt_bucket": "8"})


def test_metrics_listener(spark, sf_dir, tmp_path):
    """C3: per-batch throughput metrics collected via listener."""
    log = str(tmp_path / "log4")
    write_event_log(spark, sf_dir, log, revs=2, n_files=2)
    p = CDCPipeline(spark, log, str(tmp_path / "t4"), str(tmp_path / "c4"), num_buckets=4)
    q = p.start(with_metrics=True)
    q.awaitTermination(120)
    deadline = time.time() + 30
    while time.time() < deadline and p.listener.total_rows() == 0:
        time.sleep(0.5)
    assert p.listener.total_rows() > 0
    assert not p.listener.failed()
    spark.streams.removeListener(p.listener)


def test_snapshot_then_tail(spark, sf_dir, tmp_path, monkeypatch):
    """S1: replicate_existing_data seeds epoch 'snapshot'; tail events
    with higher lsn override snapshot rows (C5 restart rule: re-running
    bootstrap is fenced). Both the snapshot merge and the tail merges
    salt their winner reduce with the pipeline's salt_buckets."""
    from database_delta_plugins_spark.operators import lww

    salts = []
    real_reduce = lww.lww_reduce_late

    def spy(*args, **kwargs):
        salts.append(kwargs.get("salt_buckets"))
        return real_reduce(*args, **kwargs)

    monkeypatch.setattr(lww, "lww_reduce_late", spy)
    log = str(tmp_path / "log3")
    write_event_log(spark, sf_dir, log, revs=2, n_files=2)
    snap = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/doc-"),
                     F.col("doc_id").cast("string")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.concat(F.lit("SNAP:"), F.col("text")).alias("text"),
            F.col("lang"),
        )
    )
    p = CDCPipeline(spark, log, str(tmp_path / "t3"), str(tmp_path / "c3"),
                    num_buckets=4, salt_buckets=8)
    t = p.bootstrap(replicate_existing_data=True, snapshot_df=snap)
    assert salts == [8]
    assert t.read().filter(F.col("text").startswith("SNAP:")).count() == snap.count()
    # idempotent bootstrap (mid-snapshot crash restart)
    t = p.bootstrap(replicate_existing_data=True, snapshot_df=snap)
    assert "snapshot" in t.committed_epochs()
    t = p.run_to_completion()
    # every url touched by the tail now carries tail text (lsn > -1)
    still_snap = t.read().filter(F.col("text").startswith("SNAP:")).count()
    assert still_snap < snap.count()
    assert t.read().count() > 0
    assert len(salts) > 1 and set(salts) == {8}


def test_ddl_blacklist_and_drop_rename(spark, sf_dir, tmp_path):
    """D8: blacklisted DDL op types are skipped (create_table never
    blacklistable — constructor strips it); DD2/DD4: rename_table and
    drop_table→create_table revive mid-log
    (ref: mysql/MySqlRecordConsumer.java:246-356)."""
    log = str(tmp_path / "log_bl")
    ddls = [
        (300, json.dumps({"action": "add_column", "name": "zzz", "type": "int"})),
        (500, json.dumps({"action": "rename_table", "new_name": "pages_v2"})),
    ]
    write_event_log(spark, sf_dir, log, revs=2, n_files=2, ddls=ddls)
    p = CDCPipeline(spark, log, str(tmp_path / "t_bl"), str(tmp_path / "c_bl"),
                    num_buckets=4,
                    ddl_blacklist={"add_column", "create_table"})
    assert "create_table" not in p.ddl_blacklist
    t = p.run_to_completion()
    assert "zzz" not in t.read().columns          # blacklisted DDL skipped
    assert t.table_name == "pages_v2"             # rename applied
    assert any(r.get("ddl_skipped_blacklist") for r in p.epoch_lineage)


def test_drop_table_then_create_revives(spark, sf_dir, tmp_path):
    """drop_table mid-log: DML between drop and create is skipped; a
    create_table revives the table and later DML applies."""
    log = str(tmp_path / "log_dr")
    ddls = [
        (700, json.dumps({"action": "drop_table"})),
        (900, json.dumps({"action": "create_table"})),
    ]
    write_event_log(spark, sf_dir, log, revs=3, n_files=2, ddls=ddls)
    p = CDCPipeline(spark, log, str(tmp_path / "t_dr"), str(tmp_path / "c_dr"),
                    num_buckets=4)
    t = p.run_to_completion()
    assert not t.is_dropped
    # only events at lsn >= 900 survive (drop cleared everything before;
    # [700, 900) DML hit the dropped table and was skipped)
    assert t.scan().agg(F.min("_lsn")).head()[0] >= 900
    assert t.read().count() > 0
    state1 = t.read().orderBy("url").select("url", "text").toPandas()

    # the skipped dropped-table segment must be FENCED: a full replay
    # (fresh checkpoint, all batches re-delivered) against the now-live
    # table must NOT apply the [700, 900) DML the original run discarded
    import shutil as _sh
    _sh.rmtree(str(tmp_path / "c_dr"), ignore_errors=True)
    p2 = CDCPipeline(spark, log, str(tmp_path / "t_dr"), str(tmp_path / "c_dr"),
                     num_buckets=4)
    t2 = p2.run_to_completion()
    assert t2.scan().agg(F.min("_lsn")).head()[0] >= 900
    assert t2.read().orderBy("url").select("url", "text").toPandas().equals(state1)


def test_multi_table_pipeline(spark, sf_dir, tmp_path):
    """Multi-table replication from ONE interleaved log: per-table DML
    routing and per-table DDL (mysql/MySqlTableRegistry.java:57-133);
    result equals running each table's slice alone (replay equivalence
    across the table dimension)."""
    from database_delta_plugins_spark.sources.generator import rich_events_df

    base = rich_events_df(spark, sf_dir, revs=2, with_html=False)
    pages = base.withColumn("table_name", F.lit("pages"))
    posts = (
        base.withColumn("table_name", F.lit("posts"))
        .withColumn("lsn", F.col("lsn") + 1)  # interleave strictly
        .withColumn("after", F.when(F.col("after").isNotNull(),
                                    F.col("after").withField(
                                        "text", F.concat(F.lit("POST:"), F.col("after.text")))))
    )
    log = str(tmp_path / "log_mt")
    pages.unionByName(posts).repartitionByRange(4, "lsn").write.parquet(log)

    p = CDCPipeline(
        spark, log, str(tmp_path / "unused"), str(tmp_path / "c_mt"),
        num_buckets=4,
        tables={"pages": str(tmp_path / "mt_pages"),
                "posts": str(tmp_path / "mt_posts")},
    )
    p.run_to_completion()
    tp = LakeTable.load(spark, str(tmp_path / "mt_pages"))
    ts = LakeTable.load(spark, str(tmp_path / "mt_posts"))
    n_pages, n_posts = tp.read().count(), ts.read().count()
    assert n_pages > 0 and n_posts > 0
    # no cross-contamination: posts texts all carry the POST: prefix
    assert ts.read().filter(~F.col("text").startswith("POST:")).count() == 0
    assert tp.read().filter(F.col("text").startswith("POST:")).count() == 0

    # equivalence vs single-table runs over each slice
    p1 = CDCPipeline(spark, log, str(tmp_path / "solo_pages"), str(tmp_path / "c_sp"),
                     num_buckets=4)
    p1.apply_log_batch(spark.read.parquet(log).filter(F.col("table_name") == "pages"))
    solo = LakeTable.load(spark, str(tmp_path / "solo_pages"))
    a = tp.read().orderBy("url").select("url", "text").toPandas()
    b = solo.read().orderBy("url").select("url", "text").toPandas()
    assert a.equals(b)


def test_unknown_op_counted_and_skipped(spark, sf_dir, tmp_path):
    """D2 skip-and-warn analogue: events with an unknown op code are
    dropped from the apply but COUNTED in lineage
    (ref: MySqlRecordConsumer.java:170-183)."""
    from database_delta_plugins_spark.sources.generator import rich_events_df

    base = rich_events_df(spark, sf_dir, revs=2, with_html=False)
    weird = (
        base.limit(3)
        .withColumn("op", F.lit("x"))           # unknown op code
        .withColumn("lsn", F.col("lsn") + 100000)
    )
    log = str(tmp_path / "log_unk")
    base.unionByName(weird).repartitionByRange(2, "lsn").write.parquet(log)
    p = CDCPipeline(spark, log, str(tmp_path / "t_unk"), str(tmp_path / "c_unk"),
                    num_buckets=4)
    t = p.run_to_completion()
    skipped = sum(r.get("events_skipped_unknown_op", 0) for r in p.epoch_lineage)
    assert skipped == 3
    # and none of the unknown-op rows were applied
    assert t.scan().filter(F.col("_lsn") > 100000).count() == 0


def test_multi_table_kill_restart_replay(spark, sf_dir, tmp_path):
    """Replay equivalence ACROSS tables: kill the multi-table pipeline
    mid-stream, restart from checkpoint — both tables' final state equals
    the uninterrupted run's."""
    from database_delta_plugins_spark.sources.generator import rich_events_df

    base = rich_events_df(spark, sf_dir, revs=2, with_html=False)
    posts = base.withColumn("table_name", F.lit("posts")).withColumn("lsn", F.col("lsn") + 1)
    log = str(tmp_path / "log_mtr")
    base.unionByName(posts).repartitionByRange(4, "lsn").write.parquet(log)

    def run(tag, kill_first=False):
        p = CDCPipeline(
            spark, log, str(tmp_path / f"unused_{tag}"), str(tmp_path / f"ck_{tag}"),
            num_buckets=4, max_files_per_trigger=2,
            tables={"pages": str(tmp_path / f"{tag}_pages"),
                    "posts": str(tmp_path / f"{tag}_posts")},
        )
        if kill_first:
            q = p.start()
            deadline = time.time() + 120
            while not p.epoch_lineage and time.time() < deadline:
                time.sleep(0.2)
            q.stop()
            q.awaitTermination(60)
        p.run_to_completion()
        return [
            LakeTable.load(spark, str(tmp_path / f"{tag}_{t}"))
            .read().orderBy("url").select("url", "text").toPandas()
            for t in ("pages", "posts")
        ]

    a_pages, a_posts = run("a")
    b_pages, b_posts = run("b", kill_first=True)
    assert a_pages.equals(b_pages)
    assert a_posts.equals(b_posts)


def test_json_source_format_equals_parquet(spark, sf_dir, tmp_path):
    """Debezium-JSON-lines event log (binary html as base64) applies to
    the identical final state as the parquet-encoded log."""
    from database_delta_plugins_spark.sources.generator import rich_events_df

    ev = rich_events_df(spark, sf_dir, revs=2, html_pad_bytes=64)
    plog, jlog = str(tmp_path / "plog"), str(tmp_path / "jlog")
    ev.repartitionByRange(2, "lsn").write.parquet(plog)
    ev.repartitionByRange(2, "lsn").write.json(jlog)
    states = {}
    for fmt, log in (("parquet", plog), ("json", jlog)):
        p = CDCPipeline(spark, log, str(tmp_path / f"t_{fmt}"),
                        str(tmp_path / f"c_{fmt}"), num_buckets=4,
                        derive_text_from_html=True, source_format=fmt)
        t = p.run_to_completion()
        states[fmt] = sorted(
            (r["url"], r["text"], r["_lsn"], r["_is_deleted"])
            for r in t.scan().collect())
    assert states["json"] == states["parquet"]
    assert len(states["json"]) > 0


def test_per_table_blacklist_and_projection(spark, sf_dir, tmp_path):
    """r3 directive #3: blacklists/column projection bind at TABLE level
    (ref MySqlRecordConsumer.java:199-206,244-246): from one interleaved
    log, table A blacklists deletes and projects (url, text) while table
    B applies everything — and a full re-run stays replay-equivalent."""
    from database_delta_plugins_spark.sources.generator import rich_events_df

    base = rich_events_df(spark, sf_dir, revs=2, with_html=False)
    pages = base.withColumn("table_name", F.lit("pages"))
    posts = pages.withColumn("table_name", F.lit("posts")) \
        .withColumn("lsn", F.col("lsn") + 1)
    log = str(tmp_path / "log_ptb")
    pages.unionByName(posts).repartitionByRange(4, "lsn").write.parquet(log)
    assert spark.read.parquet(log).filter(F.col("op") == "d").count() > 0

    p = CDCPipeline(
        spark, log, str(tmp_path / "unused_ptb"), str(tmp_path / "c_ptb"),
        num_buckets=4,
        tables={
            "pages": {"path": str(tmp_path / "ptb_pages"),
                      "dml_blacklist": {"D"},
                      "columns": ["url", "text"]},
            "posts": str(tmp_path / "ptb_posts"),
        },
    )
    p.run_to_completion()
    tp = LakeTable.load(spark, str(tmp_path / "ptb_pages"))
    ts = LakeTable.load(spark, str(tmp_path / "ptb_posts"))

    # projection: pages landed with ONLY the selected columns
    assert [f.name for f in tp.schema().fields] == ["url", "text"]
    assert "lang" in [f.name for f in ts.schema().fields]

    # blacklist: a key whose LAST event is a delete survives in pages
    # (the delete was skipped) but is gone from posts
    last = duckdb.sql(f"""
      with dml as (select * from '{log}/*.parquet'
                   where op != 'ddl' and table_name = 'posts'),
      w as (select *, row_number() over (
              partition by coalesce(after.url, before.url)
              order by lsn desc, seq desc) rn from dml)
      select coalesce(after.url, before.url) as url, op from w where rn = 1
    """).df()
    deleted_keys = set(last[last["op"] == "d"]["url"])
    assert deleted_keys
    pages_urls = {r["url"] for r in tp.read().select("url").collect()}
    posts_urls = {r["url"] for r in ts.read().select("url").collect()}
    assert deleted_keys <= pages_urls
    assert not (deleted_keys & posts_urls)

    # pages equals the no-delete LWW oracle on its slice
    got = tp.read().orderBy("url").toPandas()
    oracle = duckdb.sql(f"""
      with dml as (select * from '{log}/*.parquet'
                   where op != 'ddl' and table_name = 'pages' and op != 'd'),
      w as (select *, row_number() over (partition by after.url
              order by lsn desc, seq desc) rn from dml)
      select after.url as url, after.text as text from w where rn = 1
      order by url
    """).df()
    assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))

    # replay equivalence: full re-run is fenced, state unchanged
    v = tp.version
    p.run_to_completion()
    tp2 = LakeTable.load(spark, str(tmp_path / "ptb_pages"))
    assert tp2.version == v and _state(tp2).equals(_state(tp))


def test_binary_handling_hex_e2e(spark, sf_dir, tmp_path):
    """r3 directive #4: source.connector.binary_handling=hex rides the C4
    pass-through and changes the LANDED schema (html binary -> hex
    string), values mirrored by the DuckDB oracle
    (ref MySqlEventReaderIntegrationTest.java:279-303)."""
    from database_delta_plugins_spark.sources.generator import rich_events_df

    log = str(tmp_path / "log_hex")
    rich_events_df(spark, sf_dir, revs=2, with_html=True) \
        .repartitionByRange(2, "lsn").write.parquet(log)
    p = CDCPipeline(
        spark, log, str(tmp_path / "t_hex"), str(tmp_path / "c_hex"),
        num_buckets=4,
        runtime_args={"source.connector.binary_handling": "hex"},
    )
    t = p.run_to_completion()
    assert dict((f.name, f.dataType.simpleString())
                for f in t.schema().fields)["html"] == "string"
    got = t.read().select("url", "html").orderBy("url").toPandas()
    oracle = duckdb.sql(f"""
      with dml as (select * from '{log}/*.parquet' where op != 'ddl'),
      w as (select *, row_number() over (
              partition by coalesce(after.url, before.url)
              order by lsn desc, seq desc) rn from dml)
      select coalesce(after.url, before.url) as url,
             lower(hex(after.html)) as html
      from w where rn = 1 and op != 'd' order by url
    """).df()
    assert got.reset_index(drop=True).equals(oracle.reset_index(drop=True))

    # charset decode variant: html lands as decoded text
    p2 = CDCPipeline(
        spark, log, str(tmp_path / "t_cs"), str(tmp_path / "c_cs"),
        num_buckets=4,
        runtime_args={"source.connector.charset": "html:utf-8"},
    )
    t2 = p2.run_to_completion()
    got2 = t2.read().select("url", "html").orderBy("url").toPandas()
    oracle2 = duckdb.sql(f"""
      with dml as (select * from '{log}/*.parquet' where op != 'ddl'),
      w as (select *, row_number() over (
              partition by coalesce(after.url, before.url)
              order by lsn desc, seq desc) rn from dml)
      select coalesce(after.url, before.url) as url,
             decode(after.html) as html
      from w where rn = 1 and op != 'd' order by url
    """).df()
    assert got2.reset_index(drop=True).equals(oracle2.reset_index(drop=True))


def test_multi_table_lineage_folds_into_one_job(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """r3 directive #9: per-epoch lineage for ALL tables/segments comes
    from ONE grouped agg (no partition_lineage job per table), its rows
    match the per-slice reference, and the per-epoch driver job count
    grows only by the per-table merge jobs (flat lineage cost)."""
    import database_delta_plugins_spark.streaming.pipeline as P
    from database_delta_plugins_spark.plans.lineage import partition_lineage
    from database_delta_plugins_spark.sources.generator import rich_events_df

    base = rich_events_df(spark, sf_dir, revs=2, with_html=False)
    names = ["t0", "t1", "t2", "t3"]
    parts = [base.withColumn("table_name", F.lit(nm))
             .withColumn("lsn", F.col("lsn") + i) for i, nm in enumerate(names)]
    log = str(tmp_path / "log_fold")
    u = parts[0]
    for x in parts[1:]:
        u = u.unionByName(x)
    u.repartitionByRange(4, "lsn").write.parquet(log)

    fold_calls = []
    orig_fold = P.CDCPipeline._grouped_segment_lineage

    def spy_fold(self, dml, specs):
        r = orig_fold(self, dml, specs)
        fold_calls.append(r)
        return r

    monkeypatch.setattr(P.CDCPipeline, "_grouped_segment_lineage", spy_fold)
    pl_calls = []
    monkeypatch.setattr(
        P, "partition_lineage",
        lambda *a, **k: pl_calls.append(1) or partition_lineage(*a, **k))

    def run(n_tables, tag):
        pipe = P.CDCPipeline(
            spark, log, str(tmp_path / f"unused_{tag}"),
            str(tmp_path / f"c_fold_{tag}"), num_buckets=2,
            compact_every=0,
            tables={nm: str(tmp_path / f"fold_{tag}_{nm}")
                    for nm in names[:n_tables]})
        sc = spark.sparkContext
        sc.setJobGroup(f"fold-{tag}", "lineage fold test")
        try:
            pipe.apply_log_batch(spark.read.parquet(log))
        finally:
            sc.setJobGroup(None, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(f"fold-{tag}"))
        return pipe, jobs

    p2, j2 = run(2, "a")
    assert len(fold_calls) == 1      # ONE grouped agg for the whole epoch
    assert not pl_calls              # never a per-segment lineage job
    # folded rows match the independent per-slice reference
    ev = spark.read.parquet(log)
    for rec in p2.epoch_lineage:
        tname = rec["table"].split("_")[-1] if "table" in rec else None
        got = sum(p["rows"] for p in rec["partition_lineage"])
        exp = ev.filter((F.col("op") != "ddl")
                        & (F.col("table_name") == tname)).count()
        assert got == exp, rec

    fold_calls.clear()
    p1, j1 = run(1, "b")
    fold_calls.clear()
    p4, j4 = run(4, "c")
    # driver jobs grow ONLY by the per-table merge jobs: same slope
    # 1->2 as 2->4 per table (lineage contributes zero per-table jobs)
    assert j4 - j2 == 2 * (j2 - j1), (j1, j2, j4)


def test_bootstrap_snapshot_respects_binary_handling(spark, sf_dir, tmp_path):
    """review r3: snapshot-seeded rows take the same binary landing
    conversion as tailed events — hex mode must not leave the initial
    snapshot as a lossy UTF-8 cast."""
    from pyspark.sql import types as T

    snap_df = spark.createDataFrame(
        [("u1", None, bytes([0xde, 0xad, 0xbe, 0xef]), None, "en")],
        CDCPipeline(spark, "x", "y", "z").payload_schema)
    p = CDCPipeline(
        spark, str(tmp_path / "log_nohex"), str(tmp_path / "t_bh"),
        str(tmp_path / "c_bh"), num_buckets=2,
        runtime_args={"source.connector.binary_handling": "hex"},
    )
    t = p.bootstrap(replicate_existing_data=True, snapshot_df=snap_df)
    row = t.read().head()
    assert row["html"] == "deadbeef"


def test_bootstrap_snapshot_string_html_not_double_encoded(spark, tmp_path):
    """review r3 #2: a snapshot whose binary column ALREADY landed as a
    string (re-seed from a converted table) passes through unchanged —
    no double hex-encoding."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.StringType(), True),   # pre-converted
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    snap_df = spark.createDataFrame([("u1", None, "deadbeef", None, "en")], schema)
    p = CDCPipeline(
        spark, str(tmp_path / "log_ds"), str(tmp_path / "t_ds"),
        str(tmp_path / "c_ds"), num_buckets=2,
        runtime_args={"source.connector.binary_handling": "hex"},
    )
    t = p.bootstrap(replicate_existing_data=True, snapshot_df=snap_df)
    assert t.read().head()["html"] == "deadbeef"


def test_null_op_rows_counted_not_silently_dropped(spark, sf_dir, tmp_path):
    """review r3: a malformed record with op=NULL (e.g. a JSON event
    missing the field) must be COUNTED as an unknown-op drop by the
    audit and excluded from the apply — not vanish under three-valued
    logic."""
    from pyspark.sql import types as T

    from database_delta_plugins_spark.operators.decode import split_ddl
    from database_delta_plugins_spark.plans.lineage import (
        batch_audit,
        batch_audit_fast,
    )
    from database_delta_plugins_spark.sources.generator import rich_events_df
    from database_delta_plugins_spark.streaming.pipeline import (
        event_envelope_schema,
    )

    base = rich_events_df(spark, sf_dir, revs=2, with_html=False)
    nullable = T.StructType([
        T.StructField(f.name, f.dataType, True)
        for f in event_envelope_schema().fields])
    weird = spark.createDataFrame(
        base.limit(2).withColumn("op", F.lit(None).cast("string")).collect(),
        nullable)
    log = str(tmp_path / "log_nullop")
    spark.createDataFrame(base.collect(), nullable).unionByName(weird) \
        .repartitionByRange(2, "lsn").write.parquet(log)
    raw = spark.read.parquet(log)

    dml, ddl = split_ddl(raw)
    n_base_dml = base.filter(F.col("op") != "ddl").count()
    assert dml.count() == n_base_dml + 2       # null-op rows on the DML side

    plin, _ = batch_audit(raw)
    assert sum(p["unknown_ops"] for p in plin) == 2
    fast = batch_audit_fast(raw)
    assert fast is not None
    assert sum(p["unknown_ops"] for p in fast[0]) == 2

    # e2e: the pipeline counts and skips them
    p = CDCPipeline(spark, log, str(tmp_path / "t_no"), str(tmp_path / "c_no"),
                    num_buckets=2)
    p.run_to_completion()
    assert sum(r.get("events_skipped_unknown_op", 0)
               for r in p.epoch_lineage) == 2


def test_cdf_consumer_across_purge_raises_in_pipeline(spark, sf_dir, tmp_path):
    """r4 directive #8 (pipeline-level ADVICE-r3 guard): a downstream
    incremental CDF consumer that falls behind while the STREAMING
    pipeline's table gets a tombstone-purging compaction must fail
    loudly on its next changes() window — silently retaining deleted
    urls downstream is the failure mode being fenced. A consumer
    re-reading from the purge version onward converges again."""
    import pytest

    log = str(tmp_path / "log_purge")
    write_event_log(spark, sf_dir, log, revs=3, n_files=4)
    p = CDCPipeline(spark, log, str(tmp_path / "tp"), str(tmp_path / "cp"),
                    num_buckets=4, max_files_per_trigger=2)
    p.bootstrap(replicate_existing_data=False)
    t = p.run_to_completion()
    v_behind = 1  # consumer checkpointed long ago (first commit)
    assert t.version > v_behind
    # deletes exist in the stream (op=d events) -> tombstones present;
    # maintenance purges them
    res = t.compact(max_segments_per_bucket=1, purge_tombstones=True)
    assert res["purged_tombstones"] is True
    t = t.refresh()
    purge_v = t.snap["last_purge_version"]
    with pytest.raises(ValueError, match="purg"):
        t.changes(v_behind)
    # recovery path: consuming from the purge version onward still works
    # and matches the table (no deletes can hide after the purge point)
    state = {r["url"]: r["text"] for r in t.read().collect()}
    down = {}
    for r in t.changes(purge_v).collect():
        if r["_change_type"] != "delete":
            down[r["url"]] = r["text"]
    assert set(down) <= set(state)


def test_socket_source_equals_parquet_and_replays(spark, sf_dir, tmp_path):
    """r4: the network-shaped S2 analogue — the same Debezium-JSON
    envelope tailed LIVE over TCP converges to the identical state as
    the parquet file log, and a RESTART whose server replays the whole
    log (a binlog reconnect; the socket source keeps no offsets) is
    fenced by the engine's own lsn replay filter + epoch fences back to
    the same state."""
    from database_delta_plugins_spark.sources.generator import rich_events_df
    from database_delta_plugins_spark.sources.net import serve_jsonl_log

    ev = rich_events_df(spark, sf_dir, revs=2, html_pad_bytes=64)
    plog, jlog = str(tmp_path / "plog"), str(tmp_path / "jlog")
    ev.repartitionByRange(2, "lsn").write.parquet(plog)
    ev.repartitionByRange(2, "lsn").write.json(jlog)

    pref = CDCPipeline(spark, plog, str(tmp_path / "t_ref"),
                       str(tmp_path / "c_ref"), num_buckets=4,
                       derive_text_from_html=True)
    ref = sorted((r["url"], r["text"], r["_lsn"], r["_is_deleted"])
                 for r in pref.run_to_completion().scan().collect())
    assert len(ref) > 0

    def _state(path):
        t = LakeTable.load(spark, path)
        return sorted((r["url"], r["text"], r["_lsn"], r["_is_deleted"])
                      for r in t.scan().collect())

    tsock = str(tmp_path / "t_sock")
    _th, port = serve_jsonl_log(jlog)
    p = CDCPipeline(spark, f"127.0.0.1:{port}", tsock,
                    str(tmp_path / "c_sock"), num_buckets=4,
                    derive_text_from_html=True, source_format="socket")
    p.bootstrap(replicate_existing_data=False)
    q = p.start(available_now=False)
    deadline = time.time() + 180
    got = None
    while time.time() < deadline:
        try:
            got = _state(tsock)
            if got == ref:
                break
        except Exception:
            pass
        time.sleep(1.0)
    q.stop()
    q.awaitTermination(60)
    assert got == ref, f"socket tail diverged: {len(got or [])} vs {len(ref)} rows"

    # restart: fresh checkpoint (socket source keeps no offsets), fresh
    # server replaying the FULL log — engine fencing must keep the
    # table identical, applying nothing twice
    v_before = LakeTable.load(spark, tsock).version
    _th2, port2 = serve_jsonl_log(jlog)
    p2 = CDCPipeline(spark, f"127.0.0.1:{port2}", tsock,
                     str(tmp_path / "c_sock2"), num_buckets=4,
                     derive_text_from_html=True, source_format="socket")
    q2 = p2.start(available_now=False)
    # wait for the replayed tail to drain through at least one batch
    deadline = time.time() + 120
    while time.time() < deadline and not p2.epoch_lineage:
        time.sleep(1.0)
    time.sleep(3.0)
    q2.stop()
    q2.awaitTermination(60)
    assert _state(tsock) == ref
    t_after = LakeTable.load(spark, tsock)
    applied_after = sum(e.get("rows_applied", 0)
                        for e in p2.epoch_lineage)
    assert applied_after == 0, "replayed events were re-applied"
    assert t_after.version >= v_before


def test_socket_tail_restart_streams_only_tail(spark, sf_dir, tmp_path):
    """r5 directive #3: a restarted socket consumer is served only the
    TAIL beyond its committed frontier (the binlog 'start from
    position' contract — position read server-side from the lake
    table's commit lineage via CDCPipeline.committed_frontier), not a
    from-0 replay of the whole history; the converged state still
    equals the full-log parquet reference (replay equivalence)."""
    import os
    import shutil

    from database_delta_plugins_spark.sources.generator import rich_events_df
    from database_delta_plugins_spark.sources.net import serve_jsonl_log

    ev = rich_events_df(spark, sf_dir, revs=2, html_pad_bytes=64)
    cut = ev.approxQuantile("lsn", [0.6], 0.0)[0]
    head, tail = ev.filter(F.col("lsn") <= cut), ev.filter(F.col("lsn") > cut)
    n_tail = tail.count()
    assert n_tail > 0

    plog, jlog = str(tmp_path / "plog"), str(tmp_path / "jlog")
    ev.repartitionByRange(2, "lsn").write.parquet(plog)
    head.coalesce(1).sortWithinPartitions("lsn", "seq").write.json(jlog)
    # reference: full log through the parquet path
    pref = CDCPipeline(spark, plog, str(tmp_path / "t_ref"),
                       str(tmp_path / "c_ref"), num_buckets=4,
                       derive_text_from_html=True)
    ref = sorted((r["url"], r["text"], r["_lsn"], r["_is_deleted"])
                 for r in pref.run_to_completion().scan().collect())

    def _state(path):
        t = LakeTable.load(spark, path)
        return sorted((r["url"], r["text"], r["_lsn"], r["_is_deleted"])
                      for r in t.scan().collect())

    # phase 1: tail the head of the log, commit, stop
    tsock = str(tmp_path / "t_sock")
    p = CDCPipeline(spark, "127.0.0.1:1", tsock, str(tmp_path / "c1"),
                    num_buckets=4, derive_text_from_html=True,
                    source_format="socket")
    p.bootstrap(replicate_existing_data=False)
    srv = serve_jsonl_log(jlog, from_lsn=p.committed_frontier)
    p = CDCPipeline(spark, f"127.0.0.1:{srv.port}", tsock,
                    str(tmp_path / "c1b"), num_buckets=4,
                    derive_text_from_html=True, source_format="socket")
    q = p.start(available_now=False)
    want_head = sorted((r["url"], r["text"], r["_lsn"], r["_is_deleted"])
                       for r in CDCPipeline(
                           spark, plog, str(tmp_path / "t_head"),
                           str(tmp_path / "c_head"), num_buckets=4,
                           derive_text_from_html=True)
                       .apply_log_batch(head).scan().collect())
    deadline = time.time() + 180
    while time.time() < deadline and _state(tsock) != want_head:
        time.sleep(1.0)
    q.stop()
    q.awaitTermination(60)
    assert _state(tsock) == want_head
    assert srv.stats[0]["from_lsn"] == 0

    # the tail arrives in the log while the consumer is down
    tdir = str(tmp_path / "jtail")
    tail.coalesce(1).sortWithinPartitions("lsn", "seq").write.json(tdir)
    for f in os.listdir(tdir):
        if f.endswith(".json") and not f.startswith(("_", ".")):
            shutil.copy(os.path.join(tdir, f),
                        os.path.join(jlog, "zz-tail-" + f))

    # phase 2: restart — the server reads the consumer's durable
    # frontier at accept time and serves ONLY lsn > frontier
    p2 = CDCPipeline(spark, "127.0.0.1:1", tsock, str(tmp_path / "c2"),
                     num_buckets=4, derive_text_from_html=True,
                     source_format="socket")
    frontier = p2.committed_frontier()
    assert 0 < frontier <= cut
    srv2 = serve_jsonl_log(jlog, from_lsn=p2.committed_frontier)
    p2 = CDCPipeline(spark, f"127.0.0.1:{srv2.port}", tsock,
                     str(tmp_path / "c2b"), num_buckets=4,
                     derive_text_from_html=True, source_format="socket")
    q2 = p2.start(available_now=False)
    deadline = time.time() + 180
    while time.time() < deadline and _state(tsock) != ref:
        time.sleep(1.0)
    q2.stop()
    q2.awaitTermination(60)
    assert _state(tsock) == ref, "tail-only restart diverged from full log"
    # wire-cost contract: the reconnect served only the tail
    st = srv2.stats[0]
    assert st["from_lsn"] == frontier
    n_served = st["events"]
    assert n_served <= n_tail, (
        f"restart re-streamed history: {n_served} events served, "
        f"tail is {n_tail}")


def test_tail_server_survives_dropped_client(tmp_path):
    """r5 ADVICE (medium): a client that disconnects mid-tail must not
    kill the server thread — reconnects ('reconnect = replay from the
    log', and Spark socket-source task retries) must still be served.
    Pure socket test, no Spark: one big jsonl log, client 1 reads a few
    KB and slams the connection (RST via SO_LINGER 0), client 2 then
    reads the complete log."""
    import os
    import socket
    import struct

    from database_delta_plugins_spark.sources.net import serve_jsonl_log

    log = tmp_path / "jlog"
    os.makedirs(log)
    n = 20000
    with open(log / "part-00000.json", "w") as f:
        for i in range(n):
            f.write('{"lsn": %d, "pad": "%s"}\n' % (i, "x" * 120))

    srv = serve_jsonl_log(str(log), max_clients=4)

    c1 = socket.create_connection(("127.0.0.1", srv.port))
    c1.recv(4096)
    # SO_LINGER(on, 0): close sends RST -> server's sendall raises
    c1.setsockopt(socket.SOL_SOCKET, socket.SO_LINGER,
                  struct.pack("ii", 1, 0))
    c1.close()

    # the server must still accept and serve the FULL log
    c2 = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
    got = b""
    while True:
        chunk = c2.recv(1 << 16)
        if not chunk:
            break
        got += chunk
    c2.close()
    lines = got.decode().strip().split("\n")
    assert len(lines) == n
    assert json.loads(lines[-1])["lsn"] == n - 1
    # audit: first connection recorded incomplete, second complete
    assert srv.stats[0]["complete"] is False
    assert srv.stats[1]["complete"] is True and srv.stats[1]["events"] == n
    srv.close()


def test_tail_server_survives_from_lsn_errors(tmp_path):
    """r5 review: the from_lsn CALLABLE runs frontier-lookup code on the
    server thread at every accept — a transient error there (table
    mid-commit, stopped Spark session) must not kill the accept loop or
    leak the connection; the next reconnect is served normally."""
    import os
    import socket

    from database_delta_plugins_spark.sources.net import serve_jsonl_log

    log = tmp_path / "jlog"
    os.makedirs(log)
    with open(log / "part-00000.json", "w") as f:
        for i in range(50):
            f.write('{"lsn": %d}\n' % i)

    calls = {"n": 0}

    def flaky_frontier():
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient frontier lookup failure")
        return 39  # serve only the tail beyond lsn 39

    srv = serve_jsonl_log(str(log), from_lsn=flaky_frontier, max_clients=4)

    # first connect: the callable raises; connection closes, server lives
    c1 = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
    assert c1.recv(1 << 16) == b""
    c1.close()

    # second connect: served the tail
    c2 = socket.create_connection(("127.0.0.1", srv.port), timeout=30)
    got = b""
    while True:
        chunk = c2.recv(1 << 16)
        if not chunk:
            break
        got += chunk
    c2.close()
    lines = [json.loads(x) for x in got.decode().strip().split("\n")]
    assert [r["lsn"] for r in lines] == list(range(40, 50))
    assert srv.stats[0]["error"] is not None and "transient" in srv.stats[0]["error"]
    assert srv.stats[1]["complete"] is True and srv.stats[1]["events"] == 10
    srv.close()


def test_committed_frontier_is_min_across_tables(spark, sf_dir, tmp_path):
    """r5 review (the round's one real bug): with tables committing
    sequentially, a crash between two tables' commits splits their
    frontiers — committed_frontier must report the MIN (the lagging
    table's position), else a tail-only restart never re-serves the
    lagging table's gap and it silently diverges."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from database_delta_plugins_spark.lake.table import LakeTable
    from database_delta_plugins_spark.streaming.pipeline import CDCPipeline

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True)])

    def mk(name, lsn):
        t = LakeTable.create(spark, str(tmp_path / name), schema,
                             key="url", num_buckets=2, write_mode="mor")
        t.merge(spark.createDataFrame(
            [("u1", "v", "I", lsn, 0, 0)],
            "url string, text string, op_type string, lsn long, "
            "seq int, ts_ms long"), epoch_id=1)
        return t

    mk("ta", 100)   # leading table committed through lsn 100
    mk("tb", 80)    # lagging table crashed before its later commit
    p = CDCPipeline.__new__(CDCPipeline)
    p.spark = spark
    p._all_table_paths = lambda: [str(tmp_path / "ta"), str(tmp_path / "tb"),
                                  str(tmp_path / "tc_never_created")]
    # min across tables, with a not-yet-bootstrapped table pinning to 0
    assert p.committed_frontier() == 0
    p._all_table_paths = lambda: [str(tmp_path / "ta"), str(tmp_path / "tb")]
    assert p.committed_frontier() == 80


def test_idle_table_frontier_advances_in_socket_mode(spark, sf_dir, tmp_path):
    """r5 review: an event-less table must not pin the multi-table MIN
    frontier — in socket mode, once a table's slice of a batch is
    committed it records the batch's DML high-water mark (the wire is
    lsn-ordered, so it has logically seen everything below it), and
    committed_frontier advances for the whole pipeline. Replay of the
    same batch stays fenced (idempotent)."""
    from database_delta_plugins_spark.sources.generator import rich_events_df

    base = rich_events_df(spark, sf_dir, revs=2, with_html=False)
    hi = base.agg(F.max("lsn")).head()[0]
    # pages gets the whole lsn range; posts only the bottom third
    cut = base.approxQuantile("lsn", [0.33], 0.0)[0]
    pages = base.withColumn("table_name", F.lit("pages"))
    posts = (base.filter(F.col("lsn") <= cut)
             .withColumn("table_name", F.lit("posts")))
    events = pages.unionByName(posts)

    p = CDCPipeline(
        spark, "127.0.0.1:1", str(tmp_path / "unused"),
        str(tmp_path / "c_idle"), num_buckets=4, source_format="socket",
        tables={"pages": str(tmp_path / "i_pages"),
                "posts": str(tmp_path / "i_posts")})
    p.bootstrap(replicate_existing_data=False)
    p.apply_batch(events, "batch-0")

    tposts = LakeTable.load(spark, str(tmp_path / "i_posts"))
    # posts' DATA stops at cut, but its frontier reached the batch max
    assert tposts.scan().agg(F.max("_lsn")).head()[0] <= cut
    assert tposts.last_committed_lsn() == hi
    assert p.committed_frontier() == hi

    # replaying the identical batch is a fenced no-op (advance included)
    v_pages = LakeTable.load(spark, str(tmp_path / "i_pages")).version
    v_posts = tposts.version
    p.apply_batch(events, "batch-0")
    assert LakeTable.load(spark, str(tmp_path / "i_pages")).version == v_pages
    assert LakeTable.load(spark, str(tmp_path / "i_posts")).version == v_posts


def test_streaming_index_refresh_rides_the_pipeline(spark, sf_dir, tmp_path):
    """r5: CONTINUOUS dedup-index maintenance — a post_epoch_hook runs
    minhash_index_refresh after every committed epoch, driven by the
    index's own crash-safe cursor (stored in the index version dir,
    swapped atomically with the rows). At stream completion the index
    is row-identical to a rebuild over the final table; a hook that was
    skipped for one epoch (crash-between-commit-and-hook simulation)
    catches up on the next call instead of losing the window."""
    from database_delta_plugins_spark.operators.dedup import (
        _minhash_index_rows,
        minhash_index_build,
        minhash_index_refresh,
    )
    from database_delta_plugins_spark.operators.similarity import (
        index_cursor,
        index_read,
    )
    from database_delta_plugins_spark.sources.generator import rich_events_df

    base = rich_events_df(spark, sf_dir, revs=2, with_html=False)
    log = str(tmp_path / "log_ir")
    base.repartitionByRange(6, "lsn").write.parquet(log)

    tpath, idx = str(tmp_path / "t_ir"), str(tmp_path / "mh_ir")
    skip_one = {"armed": True, "calls": 0, "refreshes": 0}

    def refresher(sp, table_path, epoch_id):
        skip_one["calls"] += 1
        if skip_one["armed"] and skip_one["calls"] == 2:
            skip_one["armed"] = False   # simulated crash before hook
            return
        t = LakeTable.load(sp, table_path)
        # lazily bootstrap the index at the first refresh opportunity
        from database_delta_plugins_spark.operators.similarity import (
            _index_version,
        )
        if _index_version(idx) is None:
            minhash_index_build(
                t.read().select("url", "text"), idx, id_col="url",
                bands=8, cursor=t.version)
        else:
            r = minhash_index_refresh(sp, idx, t, id_col="url", bands=8)
            skip_one["refreshes"] += int(r["refreshed"])

    p = CDCPipeline(spark, log, tpath, str(tmp_path / "c_ir"),
                    num_buckets=4, compact_every=0,
                    max_files_per_trigger=1,
                    post_epoch_hooks=[refresher])
    t = p.run_to_completion()

    assert skip_one["refreshes"] >= 1          # hooks really ran
    assert index_cursor(idx) == t.version      # caught up to HEAD
    final = t.read().select("url", "text")
    want = _minhash_index_rows(final, "url", "text", 3, 8, 64)
    got = index_read(spark, idx).select("url", "band", "band_hash", "_bk")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # a further no-op refresh advances nothing and changes nothing
    r = minhash_index_refresh(spark, idx, t, id_col="url", bands=8)
    assert r == {"refreshed": False, "cursor": t.version}


def test_streaming_index_refresh_across_compaction(spark, sf_dir, tmp_path):
    """r5 review: windows spanning a compaction rewrite must stay exact.
    Multi-table mode with compact_every=2 exercises (a) the compaction
    loop over table PATHS (it iterated config dicts and crashed), (b)
    the post-compaction hook pass that advances the refresher's cursor
    past each rewrite, and (c) changes() over windows holding compact-*
    files (rewritten rows keep their commit version). Final index must
    be row-identical to a rebuild."""
    from database_delta_plugins_spark.operators.dedup import (
        _minhash_index_rows,
        minhash_index_build,
        minhash_index_refresh,
    )
    from database_delta_plugins_spark.operators.similarity import (
        _index_version,
        index_read,
    )
    from database_delta_plugins_spark.sources.generator import rich_events_df

    base = rich_events_df(spark, sf_dir, revs=2, with_html=False) \
        .withColumn("table_name", F.lit("pages"))
    log = str(tmp_path / "log_irc")
    base.repartitionByRange(6, "lsn").write.parquet(log)

    tpath, idx = str(tmp_path / "t_irc"), str(tmp_path / "mh_irc")

    def refresher(sp, table_path, epoch_id):
        t = LakeTable.load(sp, table_path)
        if _index_version(idx) is None:
            minhash_index_build(t.read().select("url", "text"), idx,
                                id_col="url", bands=8, cursor=t.version)
        else:
            minhash_index_refresh(sp, idx, t, id_col="url", bands=8)

    p = CDCPipeline(spark, log, str(tmp_path / "unused_irc"),
                    str(tmp_path / "c_irc"), num_buckets=4,
                    compact_every=2, max_files_per_trigger=1,
                    tables={"pages": tpath},
                    post_epoch_hooks=[refresher])
    p.run_to_completion()

    t = LakeTable.load(spark, tpath)
    # compaction really ran mid-stream (its files are referenced, and
    # later commits landed above it)
    compact_versions = [int(f.split("-")[1])
                        for segs in t.segments_map().values()
                        for seg in segs for f in seg["files"]
                        if f.startswith("data/compact-")]
    assert compact_versions and max(compact_versions) < t.version
    final = t.read().select("url", "text")
    want = _minhash_index_rows(final, "url", "text", 3, 8, 64)
    got = index_read(spark, idx).select("url", "band", "band_hash", "_bk")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2
(CDC dataflow stages) or a driver-mandated training-data-pipeline op;
``oracle_sql()`` carries the DuckDB-equivalent SQL run side-by-side at
sf=0.01. Streaming-only semantics (exactly-once fencing, restart
replay-equivalence, DDL-before-DML ordering) are covered by
``tests/`` (python -m pytest -x -q) — they are not batch-SQL-expressible.

The synthetic CDC change-event log is derived *deterministically* from
the driver-provided documents table (sources/generator.py) with the
identical relation expressed in DuckDB SQL, so Spark engine results and
oracle results are compared over the same input with no side channels.
"""

from __future__ import annotations

import datetime as _dt
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_delta_plugins_spark.operators import decode
from database_delta_plugins_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from database_delta_plugins_spark.operators.lww import lww_reduce_late
from database_delta_plugins_spark.operators.multimodal import decode_media, synth_media_df
from database_delta_plugins_spark.operators.similarity import (
    _hyperplane,
    cosine_neardup_pairs,
    cosine_topk,
    ivf_topk,
    lsh_bucket_topk,
)
from database_delta_plugins_spark.operators.text import (
    LANG_MARKERS,
    fingerprint,
    lang_id,
    quality_score,
    rolling_fingerprint,
    token_count,
)
from database_delta_plugins_spark.sources.generator import (
    cdc_events_df,
    cdc_events_duckdb_sql,
)

_CDC = cdc_events_duckdb_sql()
_FLAT_COLS = ["url", "warc_ts", "after_text", "lang", "op", "lsn", "seq"]


def _balanced(spark: SparkSession, df: DataFrame) -> DataFrame:
    """The sf* corpus tables are single-row-group parquet files, so the
    scan — and every heavy per-doc kernel Catalyst fuses into it
    (shingles, signatures, quality) — would run as ONE task at any core
    count (measured r4: the dominant serial fraction of the corpus-op
    scaling bench). A real 100-TB corpus arrives as thousands of
    splits; mirror that here by rebalancing only when the scan has
    fewer splits than the session's parallelism. The round-robin
    exchange moves the raw corpus once and unlocks every downstream
    stage."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _balanced(
        spark, spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _balanced(
        spark, spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")


# ---------------------------------------------------------------- CDC core

def q_cdc_apply_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: final visible table state after LWW apply of the change
    log — LATE-MATERIALIZED salted reduce (A2): winners decided over
    (url, lsn, seq) only, the wide payload joins back broadcast-style and
    never enters the reduce shuffle (the engine apply path's strategy;
    lww_reduce_salted remains for payload-through-the-shuffle cases).
    Delete suppression (A1).

    ``dedup=False`` (r6): the replay-duplicate pass is provably a no-op
    on this relation — the flat generator assigns every event a GLOBALLY
    unique lsn (``doc_id * 8 + rev``, rev < 8; generator.py), so no two
    rows share (url, lsn, seq) and dropDuplicates removed nothing while
    costing one exchange over the winner payloads. The engine apply path
    keeps its replay dedup (bucket-local, exchange-reusing —
    LakeTable._bucket_local_dedup); sources that CAN replay the boundary
    event must not copy this flag."""
    ev = cdc_events_df(spark, sf_dir).select(*_FLAT_COLS)
    w = lww_reduce_late(ev, key="url", dedup=False)
    return (
        w.filter(F.col("op") != "d")
        .select(
            "url", "warc_ts",
            F.col("after_text").alias("text"),
            "lang",
            F.col("lsn").alias("last_lsn"),
        )
    )


def q_cdc_merge_upsert(spark: SparkSession, sf_dir: str,
                       write_mode: str = "cow") -> DataFrame:
    """A1/A3 through the REAL engine: two-epoch key-bucketed MERGE into a
    LakeTable, then read back final state. Incremental apply must equal
    the one-shot LWW oracle (both write modes share it)."""
    from pyspark.sql import types as T

    from database_delta_plugins_spark.lake.table import LakeTable

    ev = cdc_events_df(spark, sf_dir)
    upd = decode.map_opcode(ev).select(
        "url", "warc_ts", F.col("after_text").alias("text"), "lang",
        "op_type", "lsn", "seq",
    )
    # r6: the decoded batch feeds THREE consumers (the percentile split
    # point and both epoch merges) — checkpointed, the generator chain
    # (scan + crossjoin + row-image exprs) runs once instead of three
    # times, and each merge plans against a leaf relation instead of
    # the full lineage (guide §5: cut lineage for reused intermediates).
    # Measured r6: cdc_merge_upsert ~6.4 s -> ~4.9 s end to end.
    upd = upd.localCheckpoint(eager=True)
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    tmp = tempfile.mkdtemp(prefix="lake_q_")
    shutil.rmtree(tmp)
    t = LakeTable.create(spark, tmp, schema, key="url", num_buckets=8,
                         write_mode=write_mode)
    mid = upd.agg(F.expr("percentile_approx(lsn, 0.5)")).collect()[0][0]
    t.merge(upd.filter(F.col("lsn") <= mid), epoch_id=1)
    t = t.refresh()
    t.merge(upd.filter(F.col("lsn") > mid), epoch_id=2)
    t = t.refresh()
    return (
        t.scan()
        .filter(~F.col("_is_deleted"))
        .select("url", "warc_ts", "text", "lang", F.col("_lsn").alias("last_lsn"))
    )


def q_cdc_merge_mor_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-on-read variant of cdc_merge_upsert — winners append as
    segments and resolve at read time — against the same sequential-apply
    oracle. (The name predates the removal of the bucket-sort winner
    strategy; the query key is kept because the gate names it.)"""
    return q_cdc_merge_upsert(spark, sf_dir, write_mode="mor")


def q_cdc_mor_deep_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-epoch mor apply (deep segment stack, no compaction) then a full
    read — exercises the LATE-MATERIALIZED mor resolve: one broadcast
    anti join against narrow (url,lsn,seq,file) candidates, payload
    never shuffled. Final state is epoch-split-invariant, so the same
    sequential-LWW oracle as cdc_merge_upsert applies."""
    from pyspark.sql import types as T

    from database_delta_plugins_spark.lake.table import LakeTable

    ev = cdc_events_df(spark, sf_dir)
    upd = decode.map_opcode(ev).select(
        "url", "warc_ts", F.col("after_text").alias("text"), "lang",
        "op_type", "lsn", "seq",
    )
    # r6: nine consumers (min/max + 8 epoch merges) — checkpoint so the
    # generator chain runs once, not nine times (guide §5).
    upd = upd.localCheckpoint(eager=True)
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    tmp = tempfile.mkdtemp(prefix="lake_deep_")
    shutil.rmtree(tmp)
    t = LakeTable.create(spark, tmp, schema, key="url", num_buckets=8,
                         write_mode="mor")
    lo, hi = upd.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    n_epochs = 8
    step = max(1, (hi - lo + 1) // n_epochs)
    for e in range(n_epochs):
        a = lo + e * step
        b = hi if e == n_epochs - 1 else lo + (e + 1) * step - 1
        t.merge(upd.filter((F.col("lsn") >= a) & (F.col("lsn") <= b)),
                epoch_id=e + 1)
        t = t.refresh()
    return (
        t.scan()
        .filter(~F.col("_is_deleted"))
        .select("url", "warc_ts", "text", "lang", F.col("_lsn").alias("last_lsn"))
    )


def q_cdc_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read (LakeTable.changes): apply the log as two
    epochs split at the deterministic lsn midpoint, then read the feed
    since the first epoch's snapshot — exactly the second epoch's
    per-url winners, deletes typed as tombstones."""
    from pyspark.sql import types as T

    from database_delta_plugins_spark.lake.table import LakeTable

    ev = cdc_events_df(spark, sf_dir)
    upd = decode.map_opcode(ev).select(
        "url", F.col("after_text").alias("text"), "lang",
        "op_type", "lsn", "seq",
    )
    # r6: three consumers (midpoint agg + both epoch merges) — one
    # materialization of the generator chain (guide §5).
    upd = upd.localCheckpoint(eager=True)
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    tmp = tempfile.mkdtemp(prefix="lake_cdf_")
    shutil.rmtree(tmp)
    t = LakeTable.create(spark, tmp, schema, key="url", num_buckets=8,
                         write_mode="mor")
    mid = upd.agg(
        F.floor((F.min("lsn") + F.max("lsn")) / 2).cast("long")).collect()[0][0]
    t.merge(upd.filter(F.col("lsn") <= mid), epoch_id=1)
    t = t.refresh()
    v1 = t.version
    t.merge(upd.filter(F.col("lsn") > mid), epoch_id=2)
    t = t.refresh()
    return t.changes(v1).select(
        "url", "text", "lang", F.col("_lsn").alias("lsn"), "_change_type")


def q_d2_opcode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = cdc_events_df(spark, sf_dir)
    return decode.map_opcode(ev).groupBy("op_type").agg(F.count(F.lit(1)).alias("n"))


def q_d3_row_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = cdc_events_df(spark, sf_dir)
    return ev.select(
        "url", "lsn",
        F.coalesce(F.col("after_text"), F.col("before_text")).alias("row_text"),
    )


def q_d7_dml_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = decode.map_opcode(cdc_events_df(spark, sf_dir))
    out = decode.filter_dml_blacklist(ev, {"D"})
    return out.groupBy("op_type").agg(F.count(F.lit(1)).alias("n"))


def q_d9_txn_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = cdc_events_df(spark, sf_dir)
    return decode.synth_txn_id(ev).select("url", "lsn", "txn_id")


def q_d11_replay_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = decode.filter_replayed(cdc_events_df(spark, sf_dir), last_committed_lsn=2000)
    return ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("lsn").alias("min_lsn"),
        F.max("lsn").alias("max_lsn"),
    )


def q_d12_snapshot_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = cdc_events_df(spark, sf_dir)
    return ev.groupBy("is_snapshot").agg(F.count(F.lit(1)).alias("n"))


def q_s1_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = cdc_events_df(spark, sf_dir)
    return ev.filter(F.col("op") == "r").select("url", F.col("after_text").alias("text"))


# ------------------------------------------------------- stream analytics

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def _drain_stream(writer_df, sink_name: str, spark: SparkSession) -> DataFrame:
    q = (
        writer_df.writeStream.format("memory").queryName(sink_name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ck_{sink_name}_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(f"select * from {sink_name}")


def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming: readStream -> watermark -> tumbling
    window agg, drained with availableNow. Emitted (finalized) windows
    are exactly those whose end <= final watermark (max ts - 2h), which
    the batch oracle expresses directly — streaming semantics under a
    value-checked SQL oracle."""
    from database_delta_plugins_spark.streaming.analytics import (
        hourly_counts_stream,
        read_events_stream,
        write_time_ordered_stream,
    )

    d = tempfile.mkdtemp(prefix="evstream_")
    write_time_ordered_stream(spark, _events(spark, sf_dir), d, n_chunks=4)
    src = read_events_stream(spark, d, max_files_per_trigger=2)
    out = _drain_stream(hourly_counts_stream(src, watermark="2 hours"),
                        "q_stream_hourly_sink", spark)
    max_ts = _events(spark, sf_dir).agg(F.max("ts")).head()[0]
    wm = max_ts - _dt.timedelta(hours=2)
    return out.filter(F.col("hour") + F.expr("INTERVAL 1 HOUR") <= F.lit(wm))


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    event-time sessionization with a 30-min gap; closed sessions whose
    close point is behind the final watermark are deterministic and
    checked against a batch window-function oracle."""
    from database_delta_plugins_spark.streaming.analytics import (
        read_events_stream,
        sessionize_stream,
        write_time_ordered_stream,
    )

    d = tempfile.mkdtemp(prefix="evstream2_")
    write_time_ordered_stream(spark, _events(spark, sf_dir), d, n_chunks=4)
    src = read_events_stream(spark, d, max_files_per_trigger=2)
    out = _drain_stream(sessionize_stream(src, gap_sec=1800, watermark="2 hours"),
                        "q_stream_sessions_sink", spark)
    max_ts = _events(spark, sf_dir).agg(F.max("ts")).head()[0]
    wm = max_ts - _dt.timedelta(hours=2)
    cutoff = F.lit(wm) - F.expr("INTERVAL 30 MINUTES")
    return out.filter(F.col("session_end") <= cutoff).select(
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"))


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming exact dedup: the event feed DOUBLED (a replaying
    source), streamed through dropDuplicatesWithinWatermark — the
    drained output must be exactly the distinct event set (duplicate
    rows are identical, so the kept-first row is value-deterministic)."""
    from database_delta_plugins_spark.streaming.analytics import (
        dedup_events_stream,
        read_events_stream,
        write_time_ordered_stream,
    )

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value")
    d = tempfile.mkdtemp(prefix="evdup_")
    write_time_ordered_stream(spark, ev.unionByName(ev), d, n_chunks=3)
    src = read_events_stream(spark, d, max_files_per_trigger=1)
    return _drain_stream(dedup_events_stream(src), "q_stream_dedup_sink", spark)


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ns = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        e.withColumn("_ns", ns)
        .groupBy("user_id")
        .agg(
            F.sum("_ns").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# -------------------------------------------------- training-data pipeline

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = token_count(_docs(spark, sf_dir))
    return d.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = quality_score(_docs(spark, sf_dir))
    return d.select(
        "doc_id", "n_chars", "n_tokens",
        F.round("alpha_ratio", 4).alias("alpha_ratio"),
        F.round("mean_word_len", 4).alias("mean_word_len"),
        F.round("quality", 4).alias("quality"),
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_docs(spark, sf_dir)).select("doc_id", "fp")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Punct / stopword / uppercase ratio quality signals (Gopher/C4-
    style boilerplate filters), rounded for cross-engine FP parity."""
    from database_delta_plugins_spark.operators.text import text_stats

    d = text_stats(_docs(spark, sf_dir))
    return d.select(
        "doc_id",
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        F.round("upper_ratio", 4).alias("upper_ratio"),
    )


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (r3 web-pipeline op): messy urls synthesized
    deterministically from table columns (upper-case scheme/host, www.,
    default and non-default ports, unsorted query params, fragments) are
    canonicalized; the oracle mirrors every rule in SQL."""
    from database_delta_plugins_spark.operators.text import canonicalize_url

    d = _docs(spark, sf_dir)
    messy = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("HTTPS://WWW."), F.upper(F.col("source")),
                 F.lit(".Example.COM:443/p/"),
                 F.col("doc_id").cast("string"), F.lit("?b=2&a=1#frag")),
    ).otherwise(
        F.concat(F.lit("http://Site-"), F.col("source"),
                 F.lit(".org:8080"),
                 F.when(F.col("doc_id") % 3 == 0,
                        F.concat(F.lit("/x/"), F.col("doc_id").cast("string")))
                 .otherwise(F.lit(""))),
    )
    return d.select(
        "doc_id", messy.alias("url"),
        canonicalize_url(messy).alias("canon_url"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (r3): emails / IPv4s / phone runs synthesized into
    the text, scrubbed to typed placeholders; the oracle applies the
    identical RE2-safe patterns in the identical order."""
    from database_delta_plugins_spark.operators.text import scrub_pii

    d = _docs(spark, sf_dir)
    synth = F.concat(
        F.lit("reach "), F.col("lang"), F.col("doc_id").cast("string"),
        F.lit("@"), F.col("source"), F.lit(".com or 10."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".0.1 tel +1 555 000 "),
        (1000 + F.col("doc_id") % 9000).cast("string"), F.lit(" then "),
        F.substring(F.col("text"), 1, 40),
    )
    return d.select("doc_id", scrub_pii(synth).alias("clean"))


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level line dedup (r3): every doc gets a per-source
    NAV header and a global FOOTER line around its body; lines occurring
    in more than one document are boilerplate and are dropped from all
    docs, bodies rejoin in order. Oracle: SQL line explode -> document
    frequency -> ordered re-aggregation."""
    from database_delta_plugins_spark.operators.text import (
        remove_boilerplate_lines,
    )

    d = _docs(spark, sf_dir)
    synth = F.concat(
        F.lit("NAV "), F.col("source"), F.lit("\n"),
        F.substring(F.col("text"), 1, 60), F.lit("\n"),
        F.lit("FOOTER common"),
    )
    out = remove_boilerplate_lines(
        d.select("doc_id", synth.alias("text")), max_df=1)
    return out.select("doc_id", "clean_text",
                      F.col("n_removed").cast("long").alias("n_removed"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (r3): docs 0-19 act as the eval set;
    corpus docs (id >= 20) sharing any word 5-gram with it are flagged
    with their overlap count. Oracle: SQL shingle explode + semi join."""
    from database_delta_plugins_spark.operators.dedup import decontaminate

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") < 20)
    corpus = d.filter(F.col("doc_id") >= 20)
    out = decontaminate(corpus, bench, n=5)
    return out.select("doc_id", F.col("n_hits").cast("long").alias("n_hits"),
                      "sample_ngram")


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling (r3): per-source acceptance rates
    via a multiplicative id hash — reproducible down-sampling for corpus
    composition. Oracle mirrors the arithmetic exactly."""
    from database_delta_plugins_spark.operators.dedup import sample_by_source

    d = _docs(spark, sf_dir)
    out = sample_by_source(
        d, {"src0": 1.0, "src1": 0.5, "src2": 0.25}, default_rate=0.1)
    return out.select("doc_id", "source")


def q_text_rolling_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp-shaped rolling-hash fingerprint — order-sensitive and
    incremental, pure arithmetic on both engines (Catalyst aggregate vs
    DuckDB list_reduce, identical fold)."""
    return rolling_fingerprint(_docs(spark, sf_dir)).select("doc_id", "rfp")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.05)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: exact-Jaccard pair graph -> connected
    components (min-label propagation) -> canonical keep-one per
    cluster. Oracle: DuckDB recursive-CTE transitive closure computes
    the identical min-reachable-id component labels."""
    from database_delta_plugins_spark.operators.dedup import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir), threshold=0.05)


def _doc_features(spark: SparkSession, sf_dir: str
                  ) -> tuple[DataFrame, DataFrame]:
    """Shared base for the corpus-selection compositions (r5 — the
    training_corpus hot path): ONE balanced, checkpointed documents
    relation (the former shape re-read AND re-exchanged the raw corpus
    once per consumer — 4× in training_corpus), and ONE fused
    scan+projection computing every per-doc feature the selection needs
    (quality, lang_pred, exact-dup fingerprint are all narrow column
    expressions, so composing them as withColumns over one relation is
    a single codegen stage — the former shape ran three separate
    full-corpus passes and joined them back with two shuffle joins).
    The feature relation is checkpointed narrow (4 cols) because both
    the filter chain and the exact-dedup groupBy consume it."""
    d = _docs(spark, sf_dir).select("doc_id", "text", "source") \
        .localCheckpoint(eager=False)
    feats = quality_score(lang_id(fingerprint(d))).select(
        "doc_id", F.round("quality", 4).alias("quality"), "lang_pred", "fp"
    ).localCheckpoint(eager=False)
    return d, feats


def _corpus_select(d: DataFrame, feats: DataFrame) -> DataFrame:
    """quality gate (>= 0.5) AND identified language AND exact-dedup
    representative AND near-dup cluster keep-one, over the shared
    (docs, features) base — semantics identical to the pre-r5 shape
    (the composed SQL oracle is unchanged)."""
    from database_delta_plugins_spark.operators.dedup import dedup_clusters

    keep_exact = feats.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    losers = (
        dedup_clusters(d, threshold=0.05)
        .filter(~F.col("keep")).select("doc_id")
    )
    return (
        feats
        .filter((F.col("quality") >= 0.5) & (F.col("lang_pred") != "und"))
        .join(keep_exact, "doc_id", "left_semi")
        .join(losers, "doc_id", "left_anti")
        .select("doc_id", "quality", "lang_pred")
    )


def q_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-corpus selection — the composition a data
    pipeline actually runs: quality gate (score >= 0.5) AND identified
    language AND exact-dedup representative AND near-dup cluster
    keep-one. Output: the surviving documents with their scores. Every
    stage is the already-oracle-checked operator; the composed relation
    is checked by the composed SQL."""
    d, feats = _doc_features(spark, sf_dir)
    return _corpus_select(d, feats)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining packing prep (r3): token-window chunking with overlap
    (16-token windows, 8-token stride here so sf corpora multi-chunk);
    oracle mirrors the stride/slice arithmetic."""
    from database_delta_plugins_spark.operators.text import chunk_documents

    d = _docs(spark, sf_dir)
    return chunk_documents(d, chunk_tokens=16, overlap=8)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (r5): document-isolated greedy layout of the
    chunked corpus into capacity-40 token sequences — the pretraining
    step after chunking. The greedy recurrence runs JVM-side as an
    F.aggregate fold per document (operators/text.py::pack_sequences);
    the oracle replays the identical recurrence as a recursive CTE."""
    from database_delta_plugins_spark.operators.text import (
        chunk_documents,
        pack_sequences,
    )

    d = _docs(spark, sf_dir)
    return pack_sequences(chunk_documents(d, chunk_tokens=16, overlap=8),
                          capacity=40)


def q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE composition — the whole training-data pipeline as one
    DataFrame program: corpus selection (quality ∧ language ∧ exact-dedup
    rep ∧ near-dup keep-one) ∘ benchmark exclusion (docs < 20 are the
    eval set; they AND anything sharing a 5-gram with them leave) ∘
    deterministic mixture sampling per source. Every stage is an
    already-oracle-checked operator; the composed relation is checked by
    the composed SQL."""
    from database_delta_plugins_spark.operators.dedup import (
        decontaminate,
        sample_by_source,
    )

    # one shared checkpointed docs relation feeds the feature pass,
    # near-dup clustering, both decontamination sides and the final
    # source join (r5 — formerly 4 separate scans + exchanges)
    d, feats = _doc_features(spark, sf_dir)
    sel = _corpus_select(d, feats)                # doc_id, quality, lang_pred
    bench = d.filter(F.col("doc_id") < 20)
    corpus = d.filter(F.col("doc_id") >= 20)
    contaminated = decontaminate(corpus, bench, n=5).select("doc_id")
    out = (
        sel.filter(F.col("doc_id") >= 20)
        .join(contaminated, "doc_id", "left_anti")
        .join(d.select("doc_id", "source"), "doc_id")
    )
    out = sample_by_source(out, {"src0": 1.0, "src1": 0.5, "src2": 0.25},
                           default_rate=0.1)
    return out.select("doc_id", "source", "quality", "lang_pred")


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates, exact-Jaccard verified. At threshold 0.3
    with 16 bands x 4 rows the band-collision probability for a
    threshold-passing pair is 1-(1-j^4)^16 (>=0.12 at j=0.3, ~1 at
    j>=0.7); on the fixed sf0.01 gate corpus the recall is empirically
    1.0 (pytest + gate cross-check vs the exact-SQL oracle) — the oracle
    therefore checks the full exact pair set."""
    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.3)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64) candidates via 8x8-bit chunk buckets (pigeonhole:
    GUARANTEED recall for hamming<=7), exact-Jaccard verified — hash-free
    output, so the exact-SQL oracle checks the full pair set (every
    jaccard>=0.3 pair on the gate corpus has hamming<=5)."""
    return simhash_neardup_pairs(_docs(spark, sf_dir), max_hamming=7,
                                 threshold=0.3, n_chunks=8)


def _emb_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UN-rebalanced embeddings scan — for driver-side probe lookups
    (query vector / dim) only. r6: the probe head() used to run on the
    ``_balanced`` relation, where the vec_id filter sits ABOVE the
    round-robin repartition — no pushdown, so fetching ONE row computed
    the whole corpus exchange. On the raw scan the predicate reaches
    parquet (PushedFilters) and the lookup is row-group-pruned at any
    scale. The returned vector is the identical row either way."""
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet")


def _qvec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    row = _emb_raw(spark, sf_dir).filter(F.col("vec_id") == vec_id).head()
    return [float(x) for x in row["embedding"]]


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    dbl = emb.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    qv = _qvec(spark, sf_dir)
    out = cosine_topk(dbl, qv, k=10)
    return out.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))


_LSH_BITS = 6        # ann_lsh bucket bits
_NEARDUP_BITS = 4    # embed_neardup bucket bits (recall vs bucket size)
_NEARDUP_T = 0.4
_IVF_CELLS = 8
_IVF_NPROBE = 3


def _dbl(emb: DataFrame) -> DataFrame:
    return emb.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN. The signature is pure deterministic arithmetic
    (hash-derived hyperplanes), so the DuckDB oracle mirrors it exactly
    — sig, multiprobe set, and in-bucket exact cosine all SQL-checked."""
    dbl = _dbl(_emb(spark, sf_dir))
    qv = _qvec(spark, sf_dir)
    return lsh_bucket_topk(dbl, qv, k=10, bits=_LSH_BITS)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-quantized IVF (build/query split; see ivf_build): cells,
    probe set and in-cell ranking are deterministic data functions —
    fully mirrored by the SQL oracle."""
    dbl = _dbl(_emb(spark, sf_dir))
    qv = _qvec(spark, sf_dir)
    return ivf_topk(dbl, qv, k=10, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE)


def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-query exact ANN: 3 query vectors against the corpus
    in ONE pass (broadcast queries, window top-k per query)."""
    from database_delta_plugins_spark.operators.similarity import cosine_topk_batch

    dbl = _dbl(_emb(spark, sf_dir))
    qs = dbl.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return cosine_topk_batch(dbl, qs, k=5)


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: exact cosine within LSH buckets; the
    oracle mirrors the signature arithmetic, so the full pair set is
    value-checked (non-empty at sf0.01: ~59 pairs exceed cos 0.4)."""
    dbl = _dbl(_emb(spark, sf_dir))
    # dim from the raw scan (row-group-pruned head, r6 — see _emb_raw);
    # the rebalanced head computed the whole corpus exchange for 1 row
    dim = len(_emb_raw(spark, sf_dir).head()["embedding"])
    # max_bucket=None: the DuckDB oracle mirrors the signature arithmetic
    # and must see the identical (uncapped) candidate set. Production
    # default is max_bucket=200 (operators/similarity.py).
    return cosine_neardup_pairs(dbl, dim=dim, threshold=_NEARDUP_T,
                                bits=_NEARDUP_BITS, max_bucket=None)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing e2e: synth media -> mapInPandas fake decode.
    The float feature vector is canonicalized to an exact integer-count
    string (counts = feature * n_bytes recovers the byte histogram
    exactly: counts < 2^24 are float32-lossless), so the driver's
    sort+hash comparison and the DuckDB oracle (which recomputes the
    histogram from the payload definition arithmetically) both work."""
    media = synth_media_df(spark, n=200)
    d = decode_media(media, fake=True)
    n_bytes = F.length(F.encode(
        F.concat(F.lit("MEDIA:"),
                 F.repeat(F.conv(F.col("media_id") % 256, 10, 16), 64)), "utf-8"))
    counts = F.transform(
        F.col("feature"),
        lambda x: F.round(x * n_bytes.cast("float"), 0).cast("int"),
    )
    return (
        d.withColumn("media_id", F.col("media_id"))
        .select(
            "media_id", "kind",
            F.concat_ws(",", F.transform(counts, lambda c: c.cast("string")))
            .alias("byte_hist"),
            F.col("n_frames").cast("long").alias("n_frames"),
        )
    )


def q_multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode e2e (r4): synth_png_media_df builds genuine PNG
    byte streams executor-side (all five scanline filters, gray + RGB),
    decode_media(fake=False) inflates + unfilters them with the stdlib
    codec, and the feature is the DECODED-PIXEL histogram. Canonicalized
    to exact integer counts (feature * n_pixels; n_pixels < 2^24 is
    float32-lossless) so the oracle — which derives the histogram from
    the generative pixel formula, never touching PNG bytes — matches
    byte-for-byte. Agreement proves decode inverts encode."""
    from database_delta_plugins_spark.operators.multimodal import (
        decode_media,
        synth_png_media_df,
    )

    ids = _docs(spark, sf_dir).select("doc_id")
    media = synth_png_media_df(ids)
    d = decode_media(media, fake=False, feature_dim=8)
    mid = F.col("media_id")
    npix = ((8 * (mid % 5 + 1)) * (8 * (mid % 4 + 1))
            * F.when(mid % 2 == 0, F.lit(1)).otherwise(F.lit(3)))
    counts = F.transform(
        F.col("feature"),
        lambda x: F.round(x * npix.cast("float"), 0).cast("int"),
    )
    return d.select(
        "media_id",
        F.concat_ws(",", F.transform(counts, lambda c: c.cast("string")))
        .alias("pixel_hist"),
    )


def q_multimodal_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode e2e (r5): synth_wav_media_df builds genuine
    RIFF/WAVE 16-bit PCM byte streams executor-side, decode_media(
    fake=False) parses them with the stdlib wave codec, and the feature
    is the DECODED-SAMPLE histogram. Canonicalized to exact integer
    counts (feature * n_samples; n_samples <= 2048 is float32-
    lossless) so the oracle — which derives the histogram from the
    generative sample formula, never touching WAV bytes — matches
    byte-for-byte. Agreement proves decode inverts encode. The sample
    formula's bin reduces to (7i^2+13i+31c+17id) % 8: the int16
    wrap-around ((X % 65536) - 32768) is mod-8-invariant, so the SQL
    mirror needs no negative-modulo care."""
    from database_delta_plugins_spark.operators.multimodal import (
        decode_media,
        synth_wav_media_df,
    )

    ids = _docs(spark, sf_dir).select("doc_id")
    media = synth_wav_media_df(ids)
    d = decode_media(media, fake=False, feature_dim=8)
    mid = F.col("media_id")
    nsamp = ((256 * (mid % 4 + 1))
             * F.when(mid % 2 == 0, F.lit(1)).otherwise(F.lit(2)))
    counts = F.transform(
        F.col("feature"),
        lambda x: F.round(x * nsamp.cast("float"), 0).cast("int"),
    )
    return d.select(
        "media_id",
        F.concat_ws(",", F.transform(counts, lambda c: c.cast("string")))
        .alias("sample_hist"),
        F.col("n_frames").cast("long").alias("n_frames"),
    )


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning + sampling (r5): mixture_rates
    turns target mixture weights (src0/src1 upweighted 8x, src2/src3
    4x over the tail) + a budget of total_tokens // 10 into per-source
    acceptance rates from the corpus's ACTUAL per-source token counts,
    then sample_by_source draws the deterministic sample. No source
    saturates at these weights, so the oracle mirrors the exact float64
    rate arithmetic (budget * w / tokens, truncated at the 10^-6
    threshold grid) and the identical multiplicative-hash membership
    rule."""
    from database_delta_plugins_spark.operators.dedup import (
        mixture_rates,
        sample_by_source,
    )

    d = _docs(spark, sf_dir)
    targets = {f"src{i}": (0.2 if i < 2 else 0.1 if i < 4 else 0.025)
               for i in range(20)}
    # ONE per-source scan yields both the budget (sum // 10, exact int
    # math mirrored by the oracle) and the planner's per-source counts
    toks = {r[0]: r[1] for r in d.groupBy("source").agg(
        F.coalesce(F.sum(
            F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")),
            F.lit(0))).collect()}
    rates, _audit = mixture_rates(d, targets, sum(toks.values()) // 10,
                                  source_tokens=toks)
    return (sample_by_source(d, rates, default_rate=0.0)
            .select("doc_id", "source"))


def q_multimodal_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode e2e (r5): synth_avi_media_df builds genuine
    uncompressed RIFF/AVI byte streams executor-side (bottom-up BGR DIB
    frames, DWORD-padded stride, idx1 index), decode_media(fake=False)
    parses the container with the hand-rolled stdlib avi_decode, and
    the feature is the DECODED-PIXEL histogram across all frames.
    Canonicalized to exact integer counts (feature * n_pixels; <= 4608
    pixels is float32-lossless) so the oracle — which derives the
    histogram from the generative pixel formula, never touching AVI
    bytes — matches byte-for-byte. Agreement proves decode inverts
    encode: a frame drop, row mis-stride, vertical un-flip miss, or
    BGR/RGB swap all shift the histogram. n_frames comes from counting
    decoded 00db chunks, not metadata."""
    from database_delta_plugins_spark.operators.multimodal import (
        decode_media,
        synth_avi_media_df,
    )

    ids = _docs(spark, sf_dir).select("doc_id")
    media = synth_avi_media_df(ids)
    d = decode_media(media, fake=False, feature_dim=8)
    mid = F.col("media_id")
    npix = ((mid % 3 + 2) * (8 * (mid % 3 + 1)) * (8 * (mid % 2 + 1)) * 3)
    counts = F.transform(
        F.col("feature"),
        lambda x: F.round(x * npix.cast("float"), 0).cast("int"),
    )
    return d.select(
        "media_id",
        F.concat_ws(",", F.transform(counts, lambda c: c.cast("string")))
        .alias("pixel_hist"),
        F.col("n_frames").cast("long").alias("n_frames"),
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FRAME video features (r5): decode_frames samples every 2nd
    frame of each real AVI payload and emits one row per sampled frame
    with that frame's pixel histogram — the frame-level feature a video
    dedup pipeline keys on. The oracle recomputes each sampled frame's
    histogram from the generative pixel formula (never touching AVI
    bytes): agreement proves the decoder attributes pixels to the RIGHT
    frame, not just the right video (a frame permutation would pass
    multimodal_avi's whole-video histogram but fail this)."""
    from database_delta_plugins_spark.operators.multimodal import (
        decode_frames,
        synth_avi_media_df,
    )

    ids = _docs(spark, sf_dir).select("doc_id")
    media = synth_avi_media_df(ids)
    d = decode_frames(media, every_n=2, feature_dim=8)
    mid = F.col("media_id")
    npix = ((8 * (mid % 3 + 1)) * (8 * (mid % 2 + 1)) * 3)
    counts = F.transform(
        F.col("feature"),
        lambda x: F.round(x * npix.cast("float"), 0).cast("int"),
    )
    return d.select(
        "media_id", F.col("frame_idx").cast("int").alias("frame_idx"),
        F.concat_ws(",", F.transform(counts, lambda c: c.cast("string")))
        .alias("pixel_hist"),
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (r5) over documents: duplicate-
    line fractions (array-local, no shuffle), top-2/3-gram char
    coverage, duplicated-5-gram char fraction, and the composite
    `flagged` policy bit — the repetition-removal filter family a
    pretraining pipeline runs between language-ID and dedup
    (operators/text.py::repetition_stats). Every shuffle is keyed by
    doc_id: embarrassingly doc-parallel at 100 TB."""
    from database_delta_plugins_spark.operators.text import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_ann_index_upsert_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r4: incremental ANN index maintenance off the change feed,
    gate-visible as a VIOLATION SET (like extract_text_roundtrip —
    empty is the correct answer): build an embeddings LakeTable, merge
    a second epoch of updates/inserts/deletes, refresh the persisted
    LSH and IVF indexes from changes(), and emit every (vec_id, issue)
    where the refreshed index differs from a full rebuild over the
    post-window table. Non-SQL-expressible end to end (stateful lake +
    filesystem index), hence rows-only. r5: indexes use the versioned
    stage-and-swap layout (index_write/index_read) and the violation
    set is materialized EAGERLY so the tempdir is removed before
    returning (ADVICE r4: the gate leaked one workdir per run)."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from database_delta_plugins_spark.lake.table import LakeTable
    from database_delta_plugins_spark.operators.similarity import (
        index_read,
        index_write,
        ivf_assign,
        ivf_build,
        ivf_index_upsert,
        lsh_build,
        lsh_index_upsert,
    )

    dbl = _dbl(_emb(spark, sf_dir)).select("vec_id", "embedding")
    dim = len(_emb_raw(spark, sf_dir).head()["embedding"])
    schema = T.StructType([
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
    ])
    work = tempfile.mkdtemp(prefix="annidx_q_")
    shutil.rmtree(work)
    try:
        return _ann_index_upsert_body(spark, dbl, dim, schema, work,
                                      LakeTable, index_read, index_write,
                                      ivf_assign, ivf_build,
                                      ivf_index_upsert, lsh_build,
                                      lsh_index_upsert)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _ann_index_upsert_body(spark, dbl, dim, schema, work, LakeTable,
                           index_read, index_write, ivf_assign, ivf_build,
                           ivf_index_upsert, lsh_build, lsh_index_upsert):
    t = LakeTable.create(spark, f"{work}/t", schema, key="vec_id",
                         num_buckets=4, write_mode="mor")

    def _ops(df, op, lsn0):
        return df.select(
            "vec_id", "embedding", F.lit(op).alias("op_type"),
            (F.lit(lsn0) + F.col("vec_id")).alias("lsn"),
            F.lit(0).alias("seq"), F.lit(0).alias("ts_ms"))

    half = dbl.agg(F.expr("percentile_approx(vec_id, 0.5)")).head()[0]
    first = dbl.filter(F.col("vec_id") <= half)
    t.merge(_ops(first, "I", 1_000), epoch_id=1)
    t = t.refresh()
    v1 = t.version
    lsh_idx, ivf_idx = f"{work}/lsh", f"{work}/ivf"
    index_write(lsh_build(t.read().select("vec_id", "embedding"),
                          dim, bits=4), lsh_idx, "sig")
    assigned, cents = ivf_build(
        t.read().select("vec_id", "embedding"), n_cells=4)
    index_write(assigned, ivf_idx, "_cell")

    # window: negate a third (signature flips -> partition moves),
    # insert the other half, delete a sixth
    upd = first.filter(F.col("vec_id") % 3 == 0).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    ins = dbl.filter(F.col("vec_id") > half)
    dels = first.filter(F.col("vec_id") % 6 == 1).select(
        "vec_id", F.lit(None).cast("array<double>").alias("embedding"))
    t.merge(_ops(upd, "U", 10_000).unionByName(_ops(ins, "I", 20_000))
            .unionByName(_ops(dels, "D", 30_000)), epoch_id=2)
    t = t.refresh()
    ch = t.changes(v1)
    lsh_index_upsert(spark, lsh_idx, ch, dim, bits=4)
    ivf_index_upsert(spark, ivf_idx, ch, cents)

    final = t.read().select("vec_id", "embedding")

    def _diff(stored, want, col, label):
        s = stored.select("vec_id", F.col(col).alias("_s"))
        w = want.select("vec_id", F.col(col).alias("_w"))
        j = s.join(w, "vec_id", "full_outer")
        return j.filter(
            F.col("_s").isNull() | F.col("_w").isNull()
            | (F.col("_s") != F.col("_w"))
        ).select("vec_id", F.lit(label).alias("issue"))

    bad_lsh = _diff(index_read(spark, lsh_idx),
                    lsh_build(final, dim, bits=4), "sig", "lsh")
    bad_ivf = _diff(index_read(spark, ivf_idx),
                    ivf_assign(final, cents), "_cell", "ivf")
    # eager: the result must not depend on `work` after the caller's
    # finally removes it (empty is the correct answer; violations are
    # anomalies and tiny)
    rows = bad_lsh.unionByName(bad_ivf).collect()
    out_schema = "vec_id long, issue string"
    return spark.createDataFrame(rows, out_schema)


def q_minhash_index_upsert_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r5: CDC-driven incremental maintenance of the persisted banded-
    minhash DEDUP index — the dedup analogue of ann_index_upsert_check,
    composing the CDC half (LakeTable change feed) with the dedup half
    (banded minhash): build the index over epoch-1 documents, merge an
    epoch of text mutations / inserts / deletes, refresh the index from
    changes() (stage-and-swap, O(changed buckets)), and emit every
    (doc_id, issue) where the refreshed index differs from a full
    rebuild over the post-window table. Violation set — EMPTY is the
    correct answer. Non-SQL-expressible end to end (stateful lake +
    filesystem index), hence the trivially-empty oracle; the refresh ≡
    rebuild equality IS the checked property."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from database_delta_plugins_spark.lake.table import LakeTable
    from database_delta_plugins_spark.operators.dedup import (
        _minhash_index_rows,
        minhash_index_build,
        minhash_index_upsert,
    )
    from database_delta_plugins_spark.operators.similarity import index_read

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True)])
    work = tempfile.mkdtemp(prefix="mhidx_q_")
    shutil.rmtree(work)
    try:
        t = LakeTable.create(spark, f"{work}/t", schema, key="doc_id",
                             num_buckets=4, write_mode="mor")

        def ops(df, op, lsn0):
            return df.select(
                "doc_id", "text", F.lit(op).alias("op_type"),
                (F.lit(lsn0) + F.col("doc_id")).alias("lsn"),
                F.lit(0).alias("seq"), F.lit(0).alias("ts_ms"))

        half = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).head()[0]
        first = docs.filter(F.col("doc_id") <= half)
        t.merge(ops(first, "I", 1_000), epoch_id=1)
        t = t.refresh()
        v1 = t.version
        idx = f"{work}/mh"
        minhash_index_build(t.read().select("doc_id", "text"), idx, bands=8)

        # window: mutate a third (band rows move buckets), insert the
        # other half, delete a sixth
        upd = first.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id",
            F.concat("text", F.lit(" zz mutated tail")).alias("text"))
        ins = docs.filter(F.col("doc_id") > half)
        dels = first.filter(F.col("doc_id") % 6 == 1).select(
            "doc_id", F.lit(None).cast("string").alias("text"))
        t.merge(ops(upd, "U", 10_000).unionByName(ops(ins, "I", 20_000))
                .unionByName(ops(dels, "D", 30_000)), epoch_id=2)
        t = t.refresh()
        minhash_index_upsert(spark, idx, t.changes(v1), bands=8)

        final = t.read().select("doc_id", "text")
        want = _minhash_index_rows(final, "doc_id", "text", 3, 8, 64)
        got = index_read(spark, idx).select(
            "doc_id", "band", "band_hash", "_bk")
        bad = (got.exceptAll(want)
               .select("doc_id", F.lit("refresh_extra").alias("issue"))
               .unionByName(
                   want.exceptAll(got)
                   .select("doc_id", F.lit("refresh_missing").alias("issue")))
               .dropDuplicates(["doc_id", "issue"]))
        # eager: the result must not depend on `work` after the finally
        rows = bad.collect()
        return spark.createDataFrame(rows, "doc_id long, issue string")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_extract_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identity invariant: extract_text(synth_html(text)) == text.
    Returns violations — must be empty (rows-only check + pytest)."""
    from database_delta_plugins_spark.functions.udfs import extract_text, synth_html

    d = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    rt = d.withColumn("rt", extract_text(synth_html(F.col("text"), F.col("lang"))))
    return rt.filter(~(F.col("rt").eqNullSafe(F.col("text")))).select("doc_id", "text", "rt")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: real-engine CDC apply (merge upsert)."""
    return q_cdc_merge_upsert(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_apply_lww": q_cdc_apply_lww,
        "cdc_merge_upsert": q_cdc_merge_upsert,
        "cdc_merge_mor_sort": q_cdc_merge_mor_sort,
        "cdc_mor_deep_read": q_cdc_mor_deep_read,
        "cdc_changes_feed": q_cdc_changes_feed,
        "d2_opcode_map": q_d2_opcode_map,
        "d3_row_image": q_d3_row_image,
        "d7_dml_blacklist": q_d7_dml_blacklist,
        "d9_txn_id": q_d9_txn_id,
        "d11_replay_filter": q_d11_replay_filter,
        "d12_snapshot_flag": q_d12_snapshot_flag,
        "s1_snapshot_read": q_s1_snapshot_read,
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "stream_hourly": q_stream_hourly,
        "stream_sessions": q_stream_sessions,
        "stream_dedup": q_stream_dedup,
        "dedup_exact": q_dedup_exact,
        "text_token_count": q_text_token_count,
        "text_quality": q_text_quality,
        "text_lang_id": q_text_lang_id,
        "text_fingerprint": q_text_fingerprint,
        "text_stats": q_text_stats,
        "text_rolling_fp": q_text_rolling_fp,
        "url_canonicalize": q_url_canonicalize,
        "pii_scrub": q_pii_scrub,
        "line_dedup": q_line_dedup,
        "decontaminate": q_decontaminate,
        "corpus_sample": q_corpus_sample,
        "training_corpus": q_training_corpus,
        "chunk_docs": q_chunk_docs,
        "pack_sequences": q_pack_sequences,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "corpus_select": q_corpus_select,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_batch_topk": q_ann_batch_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embed_neardup": q_embed_neardup,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_png": q_multimodal_png,
        "multimodal_wav": q_multimodal_wav,
        "multimodal_avi": q_multimodal_avi,
        "video_frames": q_video_frames,
        "corpus_mixture": q_corpus_mixture,
        "text_repetition": q_text_repetition,
        "extract_text_roundtrip": q_extract_text_roundtrip,
        "ann_index_upsert_check": q_ann_index_upsert_check,
        "minhash_index_upsert_check": q_minhash_index_upsert_check,
    }


def _lang_hits_sql(toks: str, words: list[str]) -> str:
    # exact token-equality counts, mirroring operators/text.py::lang_id
    # (split-on-delimiter counting undercounts adjacent repeats)
    return " + ".join(
        f"len(list_filter({toks}, w -> w = '{w}'))" for w in words
    )


def _lang_case_sql() -> str:
    toks = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    branches = "\n".join(
        f"WHEN {_lang_hits_sql(toks, words)} >= 2 THEN '{lang}'"
        for lang, words in LANG_MARKERS
    )
    return f"CASE {branches} ELSE 'und' END"


def _text_stats_sql() -> str:
    from database_delta_plugins_spark.operators.text import STOPWORDS

    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS)
    punct_re = r"[!-/:-@\[-`{-~]"
    return f"""
      WITH f AS (
        SELECT doc_id,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(text, '{punct_re}', '', 'g')) AS punct,
               regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS toks,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               length(regexp_replace(text, '[^A-Z]', '', 'g')) AS upper_n
        FROM documents
      )
      SELECT doc_id,
             round(CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END, 4) AS punct_ratio,
             round(CASE WHEN len(toks) > 0
                        THEN len(list_filter(toks, x -> x IN ({stoplist}))) / len(toks)
                        ELSE 0.0 END, 4) AS stopword_ratio,
             round(CASE WHEN alpha > 0 THEN upper_n / alpha ELSE 0.0 END, 4) AS upper_ratio
      FROM f
    """


_EMB_DIM = 64  # driver generator's embedding width (validated at query time)


def _hp_sql(i: int, dim: int) -> str:
    """Hyperplane i as an exact DuckDB DOUBLE[] literal — repr() floats
    round-trip exactly, so the SQL mirror computes the SAME signature
    bits as the Catalyst expression (both sides fold the dot product
    sequentially in float64)."""
    return "[" + ", ".join(repr(x) for x in _hyperplane(i, dim)) + "]::DOUBLE[]"


def _sig_sql(vec: str, bits: int, dim: int = _EMB_DIM) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_dot_product({vec}, {_hp_sql(i, dim)}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"({terms})"


_COS_SQL = ("list_dot_product({a}, {b}) / "
            "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))")


def _ann_lsh_oracle(bits: int = _LSH_BITS, k: int = 10) -> str:
    cos = _COS_SQL.format(a="s.v", b="q.v")
    probes = " UNION ALL ".join(
        ["SELECT sig AS p FROM q"]
        + [f"SELECT xor(sig, {1 << i}) FROM q" for i in range(bits)]
    )
    return f"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      s AS (SELECT vec_id, v, {_sig_sql('v', bits)} AS sig FROM e),
      q AS (SELECT v, sig FROM s WHERE vec_id = 0),
      probes AS ({probes}),
      cand AS (SELECT s.vec_id, {cos} AS c FROM s, q
               WHERE s.sig IN (SELECT p FROM probes))
      SELECT vec_id, round(c, 6) AS cos_sim
      FROM cand ORDER BY c DESC, vec_id LIMIT {k}
    """


def _embed_neardup_oracle(bits: int = _NEARDUP_BITS, t: float = _NEARDUP_T) -> str:
    cos = _COS_SQL.format(a="a.v", b="b.v")
    return f"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      s AS (SELECT vec_id, v, {_sig_sql('v', bits)} AS sig FROM e),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS c
            FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, round(c, 6) AS cos_sim FROM p WHERE c >= {t}
    """


def _ann_ivf_oracle(n_cells: int = _IVF_CELLS, nprobe: int = _IVF_NPROBE,
                    k: int = 10) -> str:
    cos_ec = _COS_SQL.format(a="e.v", b="c.cv")
    cos_cq = _COS_SQL.format(a="c.cv", b="q.v")
    cos_eq = _COS_SQL.format(a="cells.v", b="q.v")
    return f"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
            FROM e WHERE vec_id < {n_cells}),
      scored AS (SELECT e.vec_id, e.v, c.cell, {cos_ec} AS s FROM e CROSS JOIN c),
      asg AS (SELECT vec_id, v, cell,
                     row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
              FROM scored),
      cells AS (SELECT vec_id, v, cell FROM asg WHERE rn = 1),
      q AS (SELECT v FROM e WHERE vec_id = 0),
      pr AS (SELECT c.cell FROM c, q ORDER BY {cos_cq} DESC, c.cell LIMIT {nprobe}),
      cand AS (SELECT cells.vec_id, {cos_eq} AS c FROM cells, q
               WHERE cells.cell IN (SELECT cell FROM pr))
      SELECT vec_id, round(c, 6) AS cos_sim
      FROM cand ORDER BY c DESC, vec_id LIMIT {k}
    """


def _multimodal_oracle(n: int = 200, dim: int = 8) -> str:
    return f"""
      WITH ids AS (SELECT unnest(range({n})) AS media_id),
      pay AS (SELECT media_id,
                     'MEDIA:' || repeat(upper(to_hex(media_id % 256)), 64) AS s
              FROM ids),
      ex AS (SELECT media_id, s, unnest(range(1, length(s) + 1)) AS i FROM pay),
      bs AS (SELECT media_id, ascii(substring(s, CAST(i AS INT), 1)) % {dim} AS b FROM ex),
      hist AS (SELECT media_id, b, count(*) AS c FROM bs GROUP BY 1, 2),
      grid AS (SELECT media_id, unnest(range({dim})) AS b FROM ids),
      filled AS (SELECT g.media_id, g.b, coalesce(h.c, 0) AS c
                 FROM grid g LEFT JOIN hist h ON g.media_id = h.media_id AND g.b = h.b),
      feat AS (SELECT media_id, string_agg(CAST(c AS VARCHAR), ',' ORDER BY b) AS byte_hist
               FROM filled GROUP BY 1)
      SELECT f.media_id,
             CASE f.media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             f.byte_hist,
             CAST(CASE WHEN f.media_id % 3 = 2 THEN f.media_id // 10 + 1
                       ELSE 1 END AS BIGINT) AS n_frames
      FROM feat f
    """


def _jaccard_at(threshold: float) -> str:
    """Exact word-3-gram Jaccard pairs at a threshold (shared oracle for
    ngram_jaccard and the LSH candidate generators, which emit the same
    exact-verified relation when candidate recall is 1.0)."""
    return rf"""
      WITH base AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws FROM documents
      ),
      tok AS (SELECT doc_id, ws, unnest(range(greatest(len(ws) - 2, 1))) AS i FROM base),
      sh0 AS (
        SELECT doc_id,
               CASE WHEN len(ws) >= 3 THEN ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                    ELSE array_to_string(ws, ' ') END AS sh
        FROM tok
      ),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
      )
      SELECT id_a, id_b,
             round(shared / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
      FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE shared / (sa.n_sh + sb.n_sh - shared) >= {threshold}
    """


def oracle_sql() -> dict[str, str]:
    lww = f"""
      WITH cdc_events AS ({_CDC}),
      w AS (
        SELECT *, row_number() OVER (PARTITION BY url ORDER BY lsn DESC, seq DESC) rn
        FROM cdc_events
      )
      SELECT url, warc_ts, after_text AS text, lang, lsn AS last_lsn
      FROM w WHERE rn = 1 AND op <> 'd'
    """
    quality = """
      WITH f AS (
        SELECT doc_id,
               length(text)::BIGINT AS n_chars,
               len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens,
               length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alpha_chars
        FROM documents
      ), g AS (
        SELECT doc_id, n_chars, n_tokens,
               CASE WHEN n_chars > 0 THEN alpha_chars / n_chars ELSE 0.0 END AS alpha_ratio,
               CASE WHEN n_tokens > 0 THEN alpha_chars / n_tokens ELSE 0.0 END AS mean_word_len
        FROM f
      )
      SELECT doc_id, n_chars, n_tokens,
             round(alpha_ratio, 4) AS alpha_ratio,
             round(mean_word_len, 4) AS mean_word_len,
             round(least(n_tokens / 50.0, 1.0) * 0.4 + alpha_ratio * 0.4
                   + least(mean_word_len / 8.0, 1.0) * 0.2, 4) AS quality
      FROM g
    """
    jaccard = _jaccard_at(0.05)
    cosine = """
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      ex AS (
        SELECT e.vec_id, unnest(range(len(e.embedding))) AS i, e.embedding AS em
        FROM embeddings e
      ),
      dots AS (
        SELECT ex.vec_id,
               sum(CAST(em[i+1] AS DOUBLE) * CAST(q.qe[i+1] AS DOUBLE)) AS d,
               sum(CAST(em[i+1] AS DOUBLE) * CAST(em[i+1] AS DOUBLE)) AS aa,
               sum(CAST(q.qe[i+1] AS DOUBLE) * CAST(q.qe[i+1] AS DOUBLE)) AS qq
        FROM ex, q GROUP BY ex.vec_id
      )
      SELECT vec_id, round(d / (sqrt(aa) * sqrt(qq)), 4) AS cos_sim
      FROM dots ORDER BY d / (sqrt(aa) * sqrt(qq)) DESC, vec_id LIMIT 10
    """
    corpus_select_sql = f"""
          WITH RECURSIVE f AS (
            SELECT doc_id,
                   length(text)::BIGINT AS n_chars,
                   len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens,
                   length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alpha_chars
            FROM documents
          ),
          g AS (
            SELECT doc_id,
                   CASE WHEN n_chars > 0 THEN alpha_chars / n_chars ELSE 0.0 END AS alpha_ratio,
                   CASE WHEN n_tokens > 0 THEN alpha_chars / n_tokens ELSE 0.0 END AS mean_word_len,
                   n_tokens
            FROM f
          ),
          q AS (
            SELECT doc_id,
                   round(least(n_tokens / 50.0, 1.0) * 0.4 + alpha_ratio * 0.4
                         + least(mean_word_len / 8.0, 1.0) * 0.2, 4) AS quality
            FROM g
          ),
          l AS (SELECT doc_id, {_lang_case_sql()} AS lang_pred FROM documents),
          keepx AS (SELECT min(doc_id) AS doc_id FROM documents
                    GROUP BY md5(lower(trim(text)))),
          pairs AS ({_jaccard_at(0.05)}),
          e0 AS (SELECT id_a AS src, id_b AS dst FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
          nodes AS (SELECT DISTINCT src AS n FROM e0),
          edges AS (SELECT src, dst FROM e0 UNION SELECT n, n FROM nodes),
          reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          ),
          comp AS (SELECT src AS doc_id, min(dst) AS comp FROM reach GROUP BY src),
          losers AS (SELECT doc_id FROM comp WHERE doc_id <> comp)
          SELECT d.doc_id, q.quality, l.lang_pred
          FROM documents d
          JOIN q USING (doc_id) JOIN l USING (doc_id)
          WHERE q.quality >= 0.5 AND l.lang_pred <> 'und'
            AND d.doc_id IN (SELECT doc_id FROM keepx)
            AND d.doc_id NOT IN (SELECT doc_id FROM losers)
        """

    return {
        "cdc_apply_lww": lww,
        "cdc_merge_upsert": lww,
        "cdc_merge_mor_sort": lww,
        "cdc_mor_deep_read": lww,
        "cdc_changes_feed": f"""
          WITH cdc_events AS ({_CDC}),
          b AS (SELECT CAST(floor((min(lsn) + max(lsn)) / 2) AS BIGINT) AS mid
                FROM cdc_events),
          e2 AS (SELECT * FROM cdc_events, b WHERE lsn > mid),
          w AS (SELECT *, row_number() OVER (PARTITION BY url
                                             ORDER BY lsn DESC, seq DESC) rn
                FROM e2)
          SELECT url,
                 CASE WHEN op = 'd' THEN NULL ELSE after_text END AS text,
                 CASE WHEN op = 'd' THEN NULL ELSE lang END AS lang,
                 lsn,
                 CASE WHEN op = 'd' THEN 'delete' ELSE 'upsert' END AS _change_type
          FROM w WHERE rn = 1
        """,
        "d2_opcode_map": f"""
          WITH cdc_events AS ({_CDC})
          SELECT CASE WHEN op IN ('c','r') THEN 'I' WHEN op = 'u' THEN 'U' ELSE 'D' END AS op_type,
                 count(*) AS n
          FROM cdc_events GROUP BY 1
        """,
        "d3_row_image": f"""
          WITH cdc_events AS ({_CDC})
          SELECT url, lsn, coalesce(after_text, before_text) AS row_text FROM cdc_events
        """,
        "d7_dml_blacklist": f"""
          WITH cdc_events AS ({_CDC}),
          m AS (SELECT CASE WHEN op IN ('c','r') THEN 'I' WHEN op = 'u' THEN 'U' ELSE 'D' END AS op_type
                FROM cdc_events)
          SELECT op_type, count(*) AS n FROM m WHERE op_type <> 'D' GROUP BY 1
        """,
        "d9_txn_id": f"""
          WITH cdc_events AS ({_CDC})
          SELECT url, lsn,
                 coalesce(gtid, binlog_file || ':' || CAST(binlog_pos AS VARCHAR)) AS txn_id
          FROM cdc_events
        """,
        "d11_replay_filter": f"""
          WITH cdc_events AS ({_CDC})
          SELECT count(*) AS n, min(lsn) AS min_lsn, max(lsn) AS max_lsn
          FROM cdc_events WHERE lsn > 2000
        """,
        "d12_snapshot_flag": f"""
          WITH cdc_events AS ({_CDC})
          SELECT is_snapshot, count(*) AS n FROM cdc_events GROUP BY 1
        """,
        "s1_snapshot_read": f"""
          WITH cdc_events AS ({_CDC})
          SELECT url, after_text AS text FROM cdc_events WHERE op = 'r'
        """,
        "events_hourly": """
          SELECT date_trunc('hour', ts) AS hour, event_type,
                 count(*) AS n, round(sum(value), 4) AS total_value
          FROM events GROUP BY 1, 2
        """,
        # TRUE streaming queries: the drained stream's emitted set is the
        # deterministic watermark-finalized prefix, expressed directly
        "stream_hourly": """
          WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
          SELECT date_trunc('hour', ts) AS hour, event_type,
                 count(*) AS n, round(sum(value), 4) AS total_value
          FROM events GROUP BY 1, 2
          HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
        """,
        "stream_sessions": """
          WITH g AS (
            SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
            FROM events
          ),
          s AS (
            SELECT user_id, ts,
                   CASE WHEN pts IS NULL OR epoch(ts - pts) > 1800 THEN 1 ELSE 0 END AS ns
            FROM g
          ),
          s2 AS (
            SELECT user_id, ts,
                   sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
            FROM s
          ),
          sess AS (
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events
            FROM s2 GROUP BY user_id, sid
          ),
          wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
          SELECT user_id, session_start, session_end, n_events
          FROM sess
          WHERE session_end <= (SELECT w FROM wm) - INTERVAL 30 MINUTE
        """,
        "stream_dedup": """
          SELECT event_id, user_id, event_type, ts, value FROM events
        """,
        "events_sessions": """
          WITH g AS (
            SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
            FROM events
          ),
          s AS (
            SELECT user_id,
                   CASE WHEN pts IS NULL OR epoch(ts - pts) > 1800 THEN 1 ELSE 0 END AS ns
            FROM g
          )
          SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions, count(*) AS n_events
          FROM s GROUP BY user_id
        """,
        "dedup_exact": """
          SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_id, count(*) AS dup_count
          FROM documents GROUP BY 1
        """,
        "text_token_count": """
          SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens
          FROM documents
        """,
        "text_quality": quality,
        "text_lang_id": f"SELECT doc_id, {_lang_case_sql()} AS lang_pred FROM documents",
        "text_fingerprint": "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents",
        "text_stats": _text_stats_sql(),
        "text_rolling_fp": """
          SELECT doc_id, CAST(list_reduce(
            [CAST(0 AS HUGEINT)] ||
            [CAST(ascii(x) AS HUGEINT) FOR x IN string_split_regex(lower(trim(text)), '')],
            (h, c) -> (h * 31 + c) % 2147483647
          ) AS BIGINT) AS rfp FROM documents
        """,
        "url_canonicalize": """
          WITH m AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN
                     'HTTPS://WWW.' || upper(source) || '.Example.COM:443/p/'
                       || CAST(doc_id AS VARCHAR) || '?b=2&a=1#frag'
                   ELSE
                     'http://Site-' || source || '.org:8080'
                       || CASE WHEN doc_id % 3 = 0
                               THEN '/x/' || CAST(doc_id AS VARCHAR)
                               ELSE '' END
                   END AS url
            FROM documents
          ), nf AS (
            SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u2 FROM m
          ), parts AS (
            SELECT doc_id, url,
              lower(coalesce(regexp_extract(u2, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS scheme,
              lower(coalesce(regexp_extract(u2, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '')) AS hostport,
              coalesce(regexp_extract(u2, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '') AS rawpath,
              coalesce(regexp_extract(u2, '\\?(.*)$', 1), '') AS q
            FROM nf
          ), norm AS (
            SELECT doc_id, url, scheme,
              regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''), '^www\\.', '') AS host,
              coalesce(regexp_extract(hostport, ':([0-9]+)$', 1), '') AS port,
              CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
              q,
              array_to_string(list_sort(string_split(q, '&')), '&') AS sq
            FROM parts
          )
          SELECT doc_id, url,
                 -- scheme-less passthrough mirrors the engine rule
                 -- (operators/text.py canonicalize_url): a URL with no
                 -- scheme is returned unchanged, never rebuilt
                 CASE WHEN scheme = '' THEN url ELSE
                 scheme || '://' || host
                 || CASE WHEN port != '' AND NOT (scheme = 'http' AND port = '80')
                              AND NOT (scheme = 'https' AND port = '443')
                         THEN ':' || port ELSE '' END
                 || path
                 || CASE WHEN q != '' THEN '?' || sq ELSE '' END
                 END AS canon_url
          FROM norm
        """,
        "pii_scrub": """
          WITH m AS (
            SELECT doc_id,
                   'reach ' || lang || CAST(doc_id AS VARCHAR) || '@' || source
                   || '.com or 10.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.0.1 tel +1 555 000 '
                   || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' then '
                   || substr(text, 1, 40) AS synth
            FROM documents
          )
          SELECT doc_id,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(synth,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                     '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
                   '\\+\\d{1,3}[ -](?:\\(\\d{2,4}\\)[ -]?)?\\d{3,4}[ -]\\d{3,4}(?:[ -]\\d{3,4})?|\\(\\d{2,4}\\)[ -]?\\d{3,4}[ -]\\d{3,4}(?:[ -]\\d{3,4})?|\\b\\d{3}-\\d{3,4}(?:-\\d{3,4})?\\b',
                   '<PHONE>', 'g') AS clean
          FROM m
        """,
        "decontaminate": r"""
          WITH base AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') ws
            FROM documents
          ),
          tok AS (SELECT doc_id, ws,
                         unnest(range(greatest(len(ws) - 4, 1))) AS i
                  FROM base),
          sh0 AS (
            SELECT doc_id,
                   CASE WHEN len(ws) >= 5
                        THEN array_to_string(ws[i+1:i+5], ' ')
                        ELSE array_to_string(ws, ' ') END AS sh
            FROM tok
          ),
          sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
          bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20)
          SELECT doc_id, count(*) AS n_hits, min(sh) AS sample_ngram
          FROM sh
          WHERE doc_id >= 20 AND sh IN (SELECT sh FROM bench)
          GROUP BY doc_id
        """,
        "chunk_docs": r"""
          WITH b AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws
            FROM documents
          ),
          c AS (
            SELECT doc_id, ws,
                   greatest(CAST(ceil((len(ws) - 8) / 8.0) AS INT), 1) AS k
            FROM b
          ),
          e AS (SELECT doc_id, ws, unnest(range(k)) AS cid FROM c)
          SELECT doc_id, CAST(cid AS INT) AS chunk_id,
                 array_to_string(ws[cid*8+1 : cid*8+16], ' ') AS chunk_text,
                 CAST(len(ws[cid*8+1 : cid*8+16]) AS BIGINT) AS n_tokens
          FROM e
        """,
        # the same greedy recurrence as pack_sequences' F.aggregate fold,
        # replayed as a recursive CTE over chunk order (chunk arithmetic
        # shared with the chunk_docs oracle above)
        "pack_sequences": r"""
          WITH RECURSIVE b AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws
            FROM documents
          ),
          c AS (
            SELECT doc_id, ws,
                   greatest(CAST(ceil((len(ws) - 8) / 8.0) AS INT), 1) AS k
            FROM b
          ),
          ch AS (
            SELECT doc_id, CAST(cid AS INT) AS chunk_id,
                   CAST(len(ws[cid*8+1 : cid*8+16]) AS BIGINT) AS n_tokens
            FROM (SELECT doc_id, ws, unnest(range(k)) AS cid FROM c)
          ),
          r AS (
            SELECT doc_id, chunk_id, n_tokens,
                   0 AS seq_id, CAST(0 AS BIGINT) AS seq_off,
                   n_tokens AS used
            FROM ch WHERE chunk_id = 0
            UNION ALL
            SELECT ch.doc_id, ch.chunk_id, ch.n_tokens,
                   CASE WHEN r.used + ch.n_tokens > 40
                        THEN r.seq_id + 1 ELSE r.seq_id END,
                   CASE WHEN r.used + ch.n_tokens > 40
                        THEN CAST(0 AS BIGINT) ELSE r.used END,
                   CASE WHEN r.used + ch.n_tokens > 40
                        THEN ch.n_tokens ELSE r.used + ch.n_tokens END
            FROM r JOIN ch
              ON ch.doc_id = r.doc_id AND ch.chunk_id = r.chunk_id + 1
          )
          SELECT doc_id, chunk_id, CAST(seq_id AS INT) AS seq_id,
                 seq_off, n_tokens
          FROM r
        """,
        "corpus_sample": """
          SELECT doc_id, source FROM documents
          WHERE (doc_id * 2654435761) % 1000000 <
                CASE source
                  WHEN 'src0' THEN 1000000
                  WHEN 'src1' THEN 500000
                  WHEN 'src2' THEN 250000
                  ELSE 100000
                END
        """,
        "line_dedup": """
          WITH m AS (
            SELECT doc_id,
                   'NAV ' || source || chr(10) || substr(text, 1, 60)
                   || chr(10) || 'FOOTER common' AS synth
            FROM documents
          ), lines AS (
            SELECT doc_id, u.line, u.ord
            FROM m, LATERAL (
              SELECT unnest(string_split(synth, chr(10))) AS line,
                     generate_subscripts(string_split(synth, chr(10)), 1) AS ord
            ) u
          ), freq AS (
            SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY 1
          )
          SELECT l.doc_id,
                 coalesce(string_agg(l.line, chr(10) ORDER BY l.ord)
                          FILTER (WHERE f.df <= 1), '') AS clean_text,
                 count(*) FILTER (WHERE f.df > 1) AS n_removed
          FROM lines l JOIN freq f USING (line)
          GROUP BY l.doc_id
        """,
        "ngram_jaccard": jaccard,
        "corpus_select": corpus_select_sql,
        "training_corpus": f"""
          WITH sel AS ({corpus_select_sql}),
          dbase AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') ws
            FROM documents
          ),
          dtok AS (SELECT doc_id, ws,
                          unnest(range(greatest(len(ws) - 4, 1))) AS i
                   FROM dbase),
          dsh0 AS (
            SELECT doc_id,
                   CASE WHEN len(ws) >= 5
                        THEN array_to_string(ws[i+1:i+5], ' ')
                        ELSE array_to_string(ws, ' ') END AS sh
            FROM dtok
          ),
          dsh AS (SELECT DISTINCT doc_id, sh FROM dsh0),
          dbench AS (SELECT DISTINCT sh FROM dsh WHERE doc_id < 20),
          contaminated AS (
            SELECT DISTINCT doc_id FROM dsh
            WHERE doc_id >= 20 AND sh IN (SELECT sh FROM dbench)
          )
          SELECT s.doc_id, d.source, s.quality, s.lang_pred
          FROM sel s JOIN documents d USING (doc_id)
          WHERE s.doc_id >= 20
            AND s.doc_id NOT IN (SELECT doc_id FROM contaminated)
            AND (s.doc_id * 2654435761) % 1000000 <
                CASE d.source
                  WHEN 'src0' THEN 1000000
                  WHEN 'src1' THEN 500000
                  WHEN 'src2' THEN 250000
                  ELSE 100000
                END
        """,
        "dedup_clusters": f"""
          WITH RECURSIVE pairs AS ({_jaccard_at(0.05)}),
          e0 AS (SELECT id_a AS src, id_b AS dst FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
          nodes AS (SELECT DISTINCT src AS n FROM e0),
          edges AS (SELECT src, dst FROM e0 UNION SELECT n, n FROM nodes),
          reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          )
          SELECT src AS doc_id, min(dst) AS comp,
                 (src = min(dst)) AS keep
          FROM reach GROUP BY src
        """,
        "ann_cosine_topk": cosine,
        # LSH/IVF signatures are deterministic ARITHMETIC (hash-derived
        # hyperplane literals, seed centroids), so DuckDB mirrors them
        # exactly — candidates, probes and scores all value-checked.
        "ann_batch_topk": """
          WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
          scored AS (
            SELECT q.q_id, e.vec_id,
                   list_dot_product(e.v, q.qv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS c
            FROM e CROSS JOIN q
          ),
          ranked AS (
            SELECT q_id, vec_id, c,
                   row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rank
            FROM scored
          )
          SELECT q_id, vec_id, round(c, 6) AS cos_sim, rank
          FROM ranked WHERE rank <= 5
        """,
        "ann_lsh_topk": _ann_lsh_oracle(),
        "ann_ivf_topk": _ann_ivf_oracle(),
        "embed_neardup": _embed_neardup_oracle(),
        # minhash/simhash emit exact-Jaccard-verified pairs; on the fixed
        # sf0.01 gate corpus candidate recall is 1.0 (see docstrings), so
        # the exact-SQL pair set is the full answer.
        "minhash_lsh": _jaccard_at(0.3),
        "simhash": _jaccard_at(0.3),
        "multimodal_decode": _multimodal_oracle(),
        "multimodal_png": """
          WITH ids AS (SELECT doc_id AS media_id FROM documents),
          dims AS (SELECT media_id,
                          8 * (media_id % 5 + 1) AS w,
                          8 * (media_id % 4 + 1) AS h,
                          CASE WHEN media_id % 2 = 0 THEN 1 ELSE 3 END AS ch
                   FROM ids),
          -- DuckDB range() takes no lateral column args: cross a static
          -- max-dims grid (w<=40, h<=32, ch<=3 by construction) and
          -- filter to each image's true extent
          px AS (SELECT d.media_id,
                        ((x.range * x.range + 3 * y.range * y.range
                          + 11 * c.range + d.media_id) % 256) % 8 AS bin
                 FROM dims d, range(40) x, range(32) y, range(3) c
                 WHERE x.range < d.w AND y.range < d.h AND c.range < d.ch),
          cnt AS (SELECT media_id, bin, count(*) AS n FROM px GROUP BY 1, 2),
          grid AS (SELECT media_id, b.range AS bin FROM ids, range(8) b),
          filled AS (SELECT g.media_id, g.bin, coalesce(c.n, 0) AS n
                     FROM grid g LEFT JOIN cnt c
                     ON g.media_id = c.media_id AND g.bin = c.bin)
          SELECT media_id,
                 string_agg(CAST(n AS VARCHAR), ',' ORDER BY bin) AS pixel_hist
          FROM filled GROUP BY media_id
        """,
        "multimodal_wav": """
          WITH ids AS (SELECT doc_id AS media_id FROM documents),
          dims AS (SELECT media_id,
                          256 * (media_id % 4 + 1) AS n,
                          CASE WHEN media_id % 2 = 0 THEN 1 ELSE 2 END AS ch
                   FROM ids),
          -- static max-extent grid (n<=1024, ch<=2), filtered per id;
          -- bin = X % 8 with X >= 0 (int16 wrap is mod-8-invariant)
          sm AS (SELECT d.media_id,
                        (7 * i.range * i.range + 13 * i.range
                         + 31 * c.range + 17 * d.media_id) % 8 AS bin
                 FROM dims d, range(1024) i, range(2) c
                 WHERE i.range < d.n AND c.range < d.ch),
          cnt AS (SELECT media_id, bin, count(*) AS n FROM sm GROUP BY 1, 2),
          grid AS (SELECT media_id, b.range AS bin FROM ids, range(8) b),
          filled AS (SELECT g.media_id, g.bin, coalesce(c.n, 0) AS n
                     FROM grid g LEFT JOIN cnt c
                     ON g.media_id = c.media_id AND g.bin = c.bin)
          SELECT f.media_id,
                 string_agg(CAST(f.n AS VARCHAR), ',' ORDER BY f.bin) AS sample_hist,
                 min(d.n) AS n_frames
          FROM filled f JOIN dims d ON f.media_id = d.media_id
          GROUP BY f.media_id
        """,
        "multimodal_avi": """
          WITH ids AS (SELECT doc_id AS media_id FROM documents),
          dims AS (SELECT media_id,
                          media_id % 3 + 2 AS nf,
                          8 * (media_id % 3 + 1) AS w,
                          8 * (media_id % 2 + 1) AS h
                   FROM ids),
          -- static max-extent grid (nf<=4, w<=24, h<=16, ch=3),
          -- filtered to each video's true extent
          px AS (SELECT d.media_id,
                        ((x.range * x.range + 3 * y.range * y.range
                          + 5 * t.range * t.range + 7 * c.range
                          + d.media_id) % 256) % 8 AS bin
                 FROM dims d, range(4) t, range(16) y, range(24) x,
                      range(3) c
                 WHERE t.range < d.nf AND y.range < d.h AND x.range < d.w),
          cnt AS (SELECT media_id, bin, count(*) AS n FROM px GROUP BY 1, 2),
          grid AS (SELECT media_id, b.range AS bin FROM ids, range(8) b),
          filled AS (SELECT g.media_id, g.bin, coalesce(c.n, 0) AS n
                     FROM grid g LEFT JOIN cnt c
                     ON g.media_id = c.media_id AND g.bin = c.bin)
          SELECT f.media_id,
                 string_agg(CAST(f.n AS VARCHAR), ',' ORDER BY f.bin)
                   AS pixel_hist,
                 min(d.nf) AS n_frames
          FROM filled f JOIN dims d ON f.media_id = d.media_id
          GROUP BY f.media_id
        """,
        # the planner's exact float64 arithmetic (budget * w / tokens,
        # int-truncated at the 10^-6 grid) + the multiplicative-hash
        # membership rule, both mirrored verbatim
        "corpus_mixture": r"""
          WITH t AS (
            SELECT source,
                   CAST(SUM(len(regexp_split_to_array(trim(text), '\s+')))
                        AS BIGINT) AS toks
            FROM documents GROUP BY source
          ),
          b AS (SELECT CAST(SUM(toks) AS BIGINT) // 10 AS budget FROM t),
          r AS (
            SELECT t.source,
                   CAST(trunc(b.budget
                              * (CASE WHEN t.source IN ('src0', 'src1')
                                      THEN 0.2
                                      WHEN t.source IN ('src2', 'src3')
                                      THEN 0.1 ELSE 0.025 END)
                              / t.toks * 1000000) AS BIGINT) AS thr
            FROM t, b
          )
          SELECT d.doc_id, d.source
          FROM documents d JOIN r ON d.source = r.source
          WHERE (d.doc_id * 2654435761) % 1000000 < r.thr
        """,
        "video_frames": """
          WITH ids AS (SELECT doc_id AS media_id FROM documents),
          dims AS (SELECT media_id,
                          media_id % 3 + 2 AS nf,
                          8 * (media_id % 3 + 1) AS w,
                          8 * (media_id % 2 + 1) AS h
                   FROM ids),
          -- sampled frames: every 2nd index below nf
          fr AS (SELECT d.*, t.range AS frame_idx
                 FROM dims d, range(4) t
                 WHERE t.range < d.nf AND t.range % 2 = 0),
          px AS (SELECT f.media_id, f.frame_idx,
                        ((x.range * x.range + 3 * y.range * y.range
                          + 5 * f.frame_idx * f.frame_idx + 7 * c.range
                          + f.media_id) % 256) % 8 AS bin
                 FROM fr f, range(16) y, range(24) x, range(3) c
                 WHERE y.range < f.h AND x.range < f.w),
          cnt AS (SELECT media_id, frame_idx, bin, count(*) AS n
                  FROM px GROUP BY 1, 2, 3),
          grid AS (SELECT media_id, frame_idx, b.range AS bin
                   FROM fr, range(8) b),
          filled AS (SELECT g.media_id, g.frame_idx, g.bin,
                            coalesce(c.n, 0) AS n
                     FROM grid g LEFT JOIN cnt c
                     ON g.media_id = c.media_id
                        AND g.frame_idx = c.frame_idx AND g.bin = c.bin)
          SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
                 string_agg(CAST(n AS VARCHAR), ',' ORDER BY bin)
                   AS pixel_hist
          FROM filled GROUP BY media_id, frame_idx
        """,
        # the identical Gopher-repetition arithmetic over word arrays,
        # line lists and n-gram multisets, replayed in DuckDB list ops
        "text_repetition": r"""
          WITH b AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\s+') AS ws,
                   length(regexp_replace(text, '\s+', '', 'g')) AS nchars,
                   list_filter(list_transform(string_split(text, chr(10)),
                                              x -> trim(x)),
                               x -> x <> '') AS lines
            FROM documents
          ),
          l AS (
            SELECT doc_id, ws, nchars,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CASE WHEN len(lines) > 0 THEN round(
                     (len(lines) - len(list_distinct(lines)))
                     / CAST(len(lines) AS DOUBLE), 4) ELSE 0.0 END
                     AS dup_line_frac,
                   CASE WHEN coalesce(list_sum(list_transform(lines,
                          x -> length(x))), 0) > 0 THEN round(
                     (list_sum(list_transform(lines, x -> length(x)))
                      - list_sum(list_transform(list_distinct(lines),
                                                x -> length(x))))
                     / CAST(list_sum(list_transform(lines,
                                                    x -> length(x)))
                            AS DOUBLE), 4) ELSE 0.0 END
                     AS dup_line_char_frac
            FROM b
          ),
          g2 AS (
            SELECT doc_id, gram, count(*) AS cnt,
                   count(*) * (length(gram) - 1) AS charvol
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(ws)),
                                i -> array_to_string(ws[i : i + 1], ' ')))
                           AS gram
                  FROM b WHERE len(ws) >= 2)
            GROUP BY doc_id, gram
          ),
          g3 AS (
            SELECT doc_id, gram, count(*) AS cnt,
                   count(*) * (length(gram) - 2) AS charvol
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(ws) - 1),
                                i -> array_to_string(ws[i : i + 2], ' ')))
                           AS gram
                  FROM b WHERE len(ws) >= 3)
            GROUP BY doc_id, gram
          ),
          g5 AS (
            SELECT doc_id, gram, count(*) AS cnt,
                   count(*) * (length(gram) - 4) AS charvol
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(ws) - 3),
                                i -> array_to_string(ws[i : i + 4], ' ')))
                           AS gram
                  FROM b WHERE len(ws) >= 5)
            GROUP BY doc_id, gram
          ),
          t2 AS (SELECT doc_id, charvol FROM (
                   SELECT doc_id, charvol, row_number() OVER (
                     PARTITION BY doc_id ORDER BY cnt DESC, charvol DESC)
                     AS rn FROM g2) WHERE rn = 1),
          t3 AS (SELECT doc_id, charvol FROM (
                   SELECT doc_id, charvol, row_number() OVER (
                     PARTITION BY doc_id ORDER BY cnt DESC, charvol DESC)
                     AS rn FROM g3) WHERE rn = 1),
          d5 AS (SELECT doc_id,
                        round(sum(CASE WHEN cnt > 1 THEN charvol ELSE 0 END)
                              / CAST(sum(charvol) AS DOUBLE), 4) AS f
                 FROM g5 GROUP BY doc_id),
          j AS (
            SELECT l.doc_id, l.n_lines, l.dup_line_frac,
                   l.dup_line_char_frac,
                   coalesce(round(t2.charvol / CAST(l.nchars AS DOUBLE), 4),
                            0.0) AS top2_frac,
                   coalesce(round(t3.charvol / CAST(l.nchars AS DOUBLE), 4),
                            0.0) AS top3_frac,
                   coalesce(d5.f, 0.0) AS dup5_frac
            FROM l LEFT JOIN t2 ON l.doc_id = t2.doc_id
                   LEFT JOIN t3 ON l.doc_id = t3.doc_id
                   LEFT JOIN d5 ON l.doc_id = d5.doc_id
          )
          SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
                 top2_frac, top3_frac, dup5_frac,
                 (dup_line_frac > 0.30 OR top2_frac > 0.20
                  OR top3_frac > 0.18 OR dup5_frac > 0.15) AS flagged
          FROM j
        """,
        # byte-identity invariant: the violation set must be EMPTY
        "extract_text_roundtrip": """
          SELECT doc_id, text, CAST(NULL AS VARCHAR) AS rt
          FROM documents WHERE 1 = 0
        """,
        # incremental-index ≡ rebuild invariant: violation set EMPTY
        "ann_index_upsert_check": """
          SELECT CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS VARCHAR) AS issue
          WHERE 1 = 0
        """,
        # incremental minhash-dedup-index ≡ rebuild: violation set EMPTY
        "minhash_index_upsert_check": """
          SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS issue
          WHERE 1 = 0
        """,
    }

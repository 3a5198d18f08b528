"""A2: per-key LWW reduce == sequential apply, independent of
partitioning/ordering (the core semantic transplant from the reference's
single-threaded total order, SURVEY.md §4)."""
import pandas as pd
import pytest
from pyspark.sql import functions as F

from database_delta_plugins_spark.operators.decode import decode_events
from database_delta_plugins_spark.operators.lww import lww_reduce, lww_reduce_salted
from database_delta_plugins_spark.sources.generator import rich_events_df


def _sequential_oracle(pdf: pd.DataFrame) -> pd.DataFrame:
    """Apply events one-by-one in (lsn, seq) order — the reference's
    single-threaded semantics."""
    state: dict = {}
    for _, r in pdf.sort_values(["lsn", "seq"]).iterrows():
        state[r["url"]] = r
    out = pd.DataFrame(list(state.values()))
    return out.sort_values("url").reset_index(drop=True)


def test_lww_equals_sequential_apply(spark, sf_dir):
    d = decode_events(rich_events_df(spark, sf_dir, revs=4, with_html=False))
    d = d.select("url", "text", "op_type", "lsn", "seq")
    oracle = _sequential_oracle(d.toPandas())[["url", "text", "op_type", "lsn", "seq"]]
    got = lww_reduce(d).orderBy("url").toPandas()[oracle.columns.tolist()]
    pd.testing.assert_frame_equal(got.reset_index(drop=True), oracle)


def test_salted_equals_plain_and_partitioning_invariance(spark, sf_dir):
    d = decode_events(rich_events_df(spark, sf_dir, revs=4, with_html=False))
    d = d.select("url", "text", "op_type", "lsn", "seq")
    plain = lww_reduce(d).orderBy("url").toPandas()
    for variant in [
        lww_reduce_salted(d, salt_buckets=7),
        lww_reduce_salted(d.repartition(17), salt_buckets=64),
        lww_reduce(d.repartition(3, "lsn")),
        lww_reduce(d.orderBy(F.desc("lsn"))),
    ]:
        got = variant.orderBy("url").toPandas()
        pd.testing.assert_frame_equal(got.reset_index(drop=True), plain.reset_index(drop=True))


def test_adversarial_hot_key_skew(spark):
    """One url carrying 90% of a batch (the north-rule hot-url case):
    every LWW strategy must agree and pick the true max-(lsn,seq) row."""
    from database_delta_plugins_spark.operators.lww import lww_reduce_late

    n = 5000
    rows = [(f"u{i % 10}" if i % 10 else "hot", f"t{i}", i, 0) for i in range(n)]
    df = spark.createDataFrame(rows, ["url", "text", "lsn", "seq"]).repartition(16)
    plain = {r["url"]: r["text"] for r in lww_reduce(df).collect()}
    salted = {r["url"]: r["text"] for r in lww_reduce_salted(df, salt_buckets=32).collect()}
    late = {r["url"]: r["text"] for r in lww_reduce_late(df, salt_buckets=32).collect()}
    assert plain == salted == late
    assert plain["hot"] == f"t{n - 10}"  # last multiple-of-10 lsn


def test_lww_tie_break_on_seq(spark):
    rows = [("u", "old", 5, 1), ("u", "new", 5, 2), ("u", "older", 4, 9)]
    df = spark.createDataFrame(rows, ["url", "text", "lsn", "seq"])
    got = lww_reduce(df).collect()
    assert len(got) == 1 and got[0]["text"] == "new"


def test_lww_late_dedupes_exact_duplicate_events(spark):
    """Two events with identical (key, lsn, seq) — a replayed boundary
    record — must yield ONE winner row (advice r1: mor segments assume
    keys unique per segment)."""
    from database_delta_plugins_spark.operators.lww import lww_reduce_late

    rows = [("a", 5, 0, "x"), ("a", 5, 0, "x"), ("a", 3, 0, "old"), ("b", 1, 0, "y")]
    df = spark.createDataFrame(rows, "url string, lsn long, seq long, text string")
    out = lww_reduce_late(df, key="url").collect()
    assert sorted((r["url"], r["text"]) for r in out) == [("a", "x"), ("b", "y")]
    assert len(out) == 2


def test_lww_equals_sequential_apply_randomized(spark):
    """The core semantic transplant (SURVEY §4): per-key LWW reduce over
    (lsn, seq) == the reference's single-threaded sequential apply, for
    ANY event interleaving. Randomized over seeds; sequential oracle in
    plain Python."""
    import random

    from database_delta_plugins_spark.operators.lww import (
        lww_reduce,
        lww_reduce_late,
        lww_reduce_salted,
    )

    for seed in range(5):
        rng = random.Random(seed)
        keys = [f"k{i}" for i in range(8)]
        events = []
        for lsn in range(60):
            k = rng.choice(keys)
            op = rng.choice(["I", "U", "U", "D"])
            events.append((k, lsn, 0, op, f"v{lsn}"))
        # sequential apply in arrival (lsn) order — the reference's model
        state = {}
        for k, lsn, _seq, op, val in sorted(events, key=lambda e: e[1]):
            if op == "D":
                state.pop(k, None)
            else:
                state[k] = val
        rng.shuffle(events)  # adversarial arrival order
        df = spark.createDataFrame(
            events, "url string, lsn long, seq long, op_type string, text string")
        for reduce_fn in (lww_reduce, lww_reduce_salted, lww_reduce_late):
            out = reduce_fn(df, key="url")
            visible = {r["url"]: r["text"] for r in out.collect()
                       if r["op_type"] != "D"}
            assert visible == state, f"seed={seed} fn={reduce_fn.__name__}"


@pytest.mark.parametrize("write_mode", ["mor", "cow"])
def test_merge_collapses_replay_dup_keeps_tombstone(spark, tmp_path, write_mode):
    """Both write modes' merge picks one winner per key: an exact replay
    duplicate of the winner event collapses to one row and a delete
    winner lands as a tombstone."""
    from pyspark.sql import types as T

    from database_delta_plugins_spark.lake.table import LakeTable

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ])
    rows = [("a", "v1", "I", 1, 0), ("a", "v2", "U", 3, 1),
            ("a", "v2", "U", 3, 1),                      # exact replay dup
            ("b", "w1", "I", 2, 0), ("b", None, "D", 5, 0),
            ("c", "x1", "I", 4, 0)]
    upd = spark.createDataFrame(
        rows, "url: string, text: string, op_type: string, lsn: long, seq: long")
    t = LakeTable.create(spark, str(tmp_path / "t"), schema,
                         key="url", num_buckets=4, write_mode=write_mode)
    t.merge(upd, epoch_id=1)
    t = t.refresh()
    assert sorted((r["url"], r["text"], r["_lsn"], r["_is_deleted"])
                  for r in t.scan().collect()) == [
        ("a", "v2", 3, False), ("b", None, 5, True), ("c", "x1", 4, False)]


def test_lww_late_hashed_survives_primary_hash_collision(spark):
    """ADVICE r2: a 64-bit hash collision in the hashed-winner broadcast
    merged two keys' order stats and silently DROPPED the key whose
    max-(lsn,seq) was smaller. The fix carries a second independent hash;
    force total primary-hash collision via the test hook (hash_mod=1 —
    every key shares one primary hash group) and require per-key winners
    to still be exact."""
    from database_delta_plugins_spark.operators.lww import (
        lww_reduce,
        lww_reduce_late,
    )

    rows = [(f"k{i}", f"v{i}-{r}", i * 100 + r, 0)
            for i in range(20) for r in range(3)]
    df = spark.createDataFrame(rows, "url string, text string, lsn long, seq long")
    exact = {r["url"]: r["text"] for r in lww_reduce(df).collect()}
    for mod in (1, 2, 7):
        got = {r["url"]: r["text"]
               for r in lww_reduce_late(df, hash_key=True, hash_mod=mod).collect()}
        assert got == exact, f"hash_mod={mod}: dropped/wrong winners"
    # and the un-forced production path agrees too
    got = {r["url"]: r["text"]
           for r in lww_reduce_late(df, hash_key=True).collect()}
    assert got == exact

"""Randomized lifecycle property: ANY partition of a CDC event multiset
into epochs (arbitrary order within and across epochs), interleaved with
compactions (with/without tombstone purge), re-bucketing, and replayed
epochs, must land the SAME final visible state as the single-threaded
sequential apply — the reference's semantics (SURVEY.md §4) extended
over the whole maintenance lifecycle."""
import random

from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_delta_plugins_spark.lake.table import LakeTable

SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
])
UPD = "url string, text string, op_type string, lsn long, seq long"


def _oracle(events):
    """Sequential apply in (lsn, seq) order; delete-wins tombstones."""
    state = {}
    for url, text, op, lsn, seq in sorted(events, key=lambda e: (e[3], e[4])):
        state[url] = (text, op, lsn)
    return {u: (t, l) for u, (t, op, l) in state.items() if op != "D"}


def test_lifecycle_random_epochs_compact_rebucket(spark, tmp_path):
    for trial in range(3):
        rng = random.Random(100 + trial)
        keys = [f"k{i}" for i in range(12)]
        events = []
        for lsn in range(1, rng.randint(25, 45)):
            url = rng.choice(keys)
            op = rng.choices(["I", "U", "D"], weights=[3, 5, 2])[0]
            text = None if op == "D" else f"v{lsn}"
            events.append((url, text, op, lsn, 0))
        arrival = events[:]
        rng.shuffle(arrival)          # arrival order != lsn order
        cuts = sorted(rng.sample(range(1, len(arrival)), rng.randint(2, 4)))
        epochs = [arrival[a:b] for a, b in
                  zip([0] + cuts, cuts + [len(arrival)])]

        t = LakeTable.create(
            spark, str(tmp_path / f"life_{trial}"), SCHEMA, key="url",
            num_buckets=rng.choice([2, 4]),
            write_mode=rng.choice(["cow", "mor"]))
        applied = []
        for e, batch in enumerate(epochs):
            t.merge(spark.createDataFrame(batch, UPD), epoch_id=e)
            t = t.refresh()
            applied.append((e, batch))
            r = rng.random()
            if r < 0.3:
                t.compact(max_segments_per_bucket=1,
                          purge_tombstones=rng.random() < 0.5)
                t = t.refresh()
            elif r < 0.5:
                t.rebucket(rng.choice([2, 4, 8, 16]))
                t = t.refresh()
            if applied and rng.random() < 0.4:
                # replay an already-committed epoch — must fence
                re, rb = rng.choice(applied)
                rec = t.merge(spark.createDataFrame(rb, UPD), epoch_id=re)
                assert rec["skipped_replay"] is True

        got = {r["url"]: (r["text"], r["_lsn"])
               for r in t.scan().filter(~F.col("_is_deleted")).collect()}
        assert got == _oracle(events), f"trial {trial}"

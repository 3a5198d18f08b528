"""Last-writer-wins per-key reduce (SURVEY.md §2.4 A2).

The reference guarantees a global total order by being single-threaded
(mysql/MySqlEventReader.java:78,170); its target keeps `_sequence_num`
for ordering (e2e BQValidation.java:86-87). Under Spark parallelism we
instead prove: per-key LWW reduce over (lsn, seq) == sequential apply.
That equivalence holds because the apply semantics are key-local —
the final state of a url depends only on the max-(lsn,seq) event for
that url (UPDATE SET * semantics; deletes are tombstones).

Three reduces, same result:

* ``lww_reduce`` — single-stage ``max_by(struct(payload), (lsn, seq))``.
  Hash aggregate with map-side partial combine: the hot-url skew is
  already absorbed by partial aggregation on the map side, so this is
  the default at any scale.

* ``lww_reduce_salted`` — explicit two-stage reduce for adversarial skew
  (one url dominating whole input splits): stage 1 reduces per
  (url, salt) with salt = pmod(xxhash64(lsn, seq), S) spreading one hot
  key over S reducers; stage 2 reduces the S survivors per url.

* ``lww_reduce_late`` — the same salted two-stage reduce over ONLY
  (key, lsn, seq), winners broadcast back to fetch payloads. This is the
  one used by every ``LakeTable.merge`` (and so the streaming apply path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ORDER_COLS = ("lsn", "seq")


def _ord(prefix: str = "") -> F.Column:
    return F.struct(*[F.col(prefix + c) for c in ORDER_COLS])


def lww_reduce(df: DataFrame, key: str = "url",
               payload_cols: list[str] | None = None) -> DataFrame:
    """One row per key: the payload of the max-(lsn, seq) event.

    Uses max_by over a struct — a single shuffle on the key with
    map-side partial aggregation (no window sort needed).
    """
    payload_cols = payload_cols or [c for c in df.columns if c != key]
    winner = F.max_by(
        F.struct(*[F.col(c) for c in payload_cols]), _ord()
    ).alias("_w")
    out = df.groupBy(key).agg(winner)
    return out.select(key, *[F.col(f"_w.{c}").alias(c) for c in payload_cols])


def lww_reduce_late(df: DataFrame, key: str = "url",
                    salt_buckets: int = 64,
                    dedup: bool = True,
                    hash_key: bool = False,
                    hash_mod: int | None = None) -> DataFrame:
    """Late-materialization LWW: the winner per key is decided over ONLY
    (key, lsn, seq) — column pruning reaches the scan, so the wide
    payload (html!) never enters the reduce shuffle — then winners join
    back to fetch payloads. The winner set is one row per key, so
    Catalyst/AQE broadcasts it when small: the payload side often
    shuffles ZERO times.

    The tiny-column reduce is salted two-stage (hot-url skew costs
    almost nothing on 24-byte rows; the stage-2 fan-in is bounded by
    salt_buckets per key). Requires (lsn, seq) unique per key within the
    batch — true of any real WAL and of our generator.

    At 100 TB this beats payload-through-the-shuffle LWW by the payload
    width: 2 shuffles of N×4KB become 2 shuffles of N×24B + at most one
    of W×4KB (W = distinct keys), or none when W broadcasts.
    """
    ord_s = _ord()
    # hash_key: the broadcast side carries TWO independent 64-bit hashes
    # of the key (16 B) instead of the key itself (urls: ~60 B) — a
    # smaller driver-side relation build, the serial section of every
    # epoch. Why two: grouping winners under a SINGLE 64-bit hash merges
    # any colliding keys' order stats, and the colliding key whose
    # max-(lsn,seq) is smaller then has NO row matching ord == _w — its
    # update is silently DROPPED for the batch, and no downstream dedup
    # can restore a row that never survived the join. With two
    # independent hashes (the second salted) a key is only merged on a
    # simultaneous 128-bit collision: expected dropped winners per batch
    # ~ n²/2^129 (~1e-20 even at n = 10^10), vs ~n²/2^65 single-hashed.
    # This is astronomically safe but NOT unconditionally sound; callers
    # that need a hard guarantee use hash_key=False (exact key carried).
    # A collision can also admit a stale row of the OTHER colliding key
    # (ord matches under the merged group); the caller must reduce
    # max-per-key downstream — LakeTable's bucket-local dedup does.
    #
    # hash_mod (TEST HOOK ONLY): wraps the primary hash in pmod(., m) to
    # force primary-hash collisions, proving the secondary hash keeps
    # per-key winner selection correct under collision.
    if hash_key:
        h1 = F.xxhash64(F.col(key))
        if hash_mod is not None:
            h1 = F.pmod(h1, F.lit(hash_mod))
        h2 = F.xxhash64(F.lit("_lww_h2"), F.col(key))
        key_cols = [h1.alias("_w_key"), h2.alias("_w_key2")]
    else:
        key_cols = [F.col(key).alias("_w_key")]
    group_cols = ["_w_key", "_w_key2"] if hash_key else ["_w_key"]
    tiny = df.select(*key_cols, *[F.col(c) for c in ORDER_COLS]).withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in ORDER_COLS]), F.lit(salt_buckets))
    )
    s1 = tiny.groupBy(*group_cols, "_salt").agg(F.max(ord_s).alias("_w"))
    winners = s1.groupBy(*group_cols).agg(F.max("_w").alias("_w"))
    # explicit broadcast: the winners' size can't be estimated through a
    # pandas-UDF projection, so without the hint Catalyst picks
    # sort-merge and SORTS the wide payload side — the exact thing this
    # function exists to avoid. One winner row per key (~tens of bytes).
    winners = F.broadcast(winners)
    if hash_key:
        p1 = F.xxhash64(F.col(key))
        if hash_mod is not None:
            p1 = F.pmod(p1, F.lit(hash_mod))
        cond = (
            (p1 == F.col("_w_key"))
            & (F.xxhash64(F.lit("_lww_h2"), F.col(key)) == F.col("_w_key2"))
            & (ord_s == F.col("_w"))
        )
    else:
        cond = (F.col(key) == F.col("_w_key")) & (ord_s == F.col("_w"))
    j = df.join(winners, cond, "inner")
    # exact duplicates of the winner event — same (key, lsn, seq), e.g. a
    # source replaying the boundary record — would BOTH survive the join
    # and break the one-row-per-key contract downstream (mor segments
    # assume keys unique per segment). Dedup the winner rows by default.
    # NOTE: this shuffles the winner PAYLOAD once; callers that already
    # hash-partition the output (LakeTable's bucket repartition) pass
    # dedup=False and run an exchange-reusing partition-local dedup
    # instead — see LakeTable._bucket_local_dedup.
    out = j.select(*df.columns)
    return out.dropDuplicates([key, *ORDER_COLS]) if dedup else out


def lww_reduce_salted(df: DataFrame, key: str = "url",
                      payload_cols: list[str] | None = None,
                      salt_buckets: int = 64) -> DataFrame:
    """Two-stage skew-proof LWW reduce.

    Stage 1 shuffles on (key, salt) — a url receiving 50% of the batch
    is spread over ``salt_buckets`` reducers; stage 2 reduces the at
    most ``salt_buckets`` survivors per key. Survives 100× scale-up:
    stage-2 input is bounded by (#distinct keys × salt_buckets).
    """
    payload_cols = payload_cols or [c for c in df.columns if c != key]
    winner = F.max_by(F.struct(*[F.col(c) for c in payload_cols]), _ord()).alias("_w")

    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in ORDER_COLS]), F.lit(salt_buckets))
    )
    stage1 = salted.groupBy(key, "_salt").agg(winner)
    stage1 = stage1.select(key, *[F.col(f"_w.{c}").alias(c) for c in payload_cols])
    stage2 = stage1.groupBy(key).agg(winner)
    return stage2.select(key, *[F.col(f"_w.{c}").alias(c) for c in payload_cols])

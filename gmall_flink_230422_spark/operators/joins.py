"""Join operators (SURVEY §2.3).

Reference join surface: stream-stream inner/left-outer equi-joins with idle
state TTL (DwdTradeOrderPreProcess.java:120-173), processing-time lookup
joins against a JDBC-cached dim (``FOR SYSTEM_TIME AS OF pt``, e.g.
DwdTradeCartAdd.java:74-76), multi-key joins
(DwdTradeRefundPaySuc.java:124-127), and a broadcast-state config join
(DimApp.java:178-187).

Spark-first mapping:
  - lookup join → ``broadcast()`` hash join: the dim snapshot per micro-batch
    IS proc-time semantics, and at 100 TB a broadcast of a small dim avoids
    shuffling the fact side entirely.
  - stream-stream joins → watermarked interval joins
    (``streaming/joins.py::interval_join``); join-state TTL (5 s / 905 s wall
    clock) → event-time watermark eviction, a documented semantic gap
    (SURVEY §2.3 J7): Spark evicts by event time.
  - broadcast-state config join → ``apps.py::dim_app``: the latest config
    snapshot routes and prunes each CDC batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lookup_join(
    fact: DataFrame,
    dim: DataFrame,
    on,
    how: str = "inner",
) -> DataFrame:
    """J3/J4: proc-time lookup join → broadcast hash join.

    The reference caches ≤10 dim rows for 1 h (MysqlUtil.java:22-23); we
    broadcast the whole dim — at 100 TB fact scale this is the only join
    shape that does zero fact-side shuffle.
    """
    return fact.join(F.broadcast(dim), on, how)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: pre-planned salting for hot keys.

    The left (big, skewed) side derives a deterministic salt from a hash of
    the whole row's key + a spread column (xxhash64 of the key alone would
    put the hot key in one salt again, so we spread on
    ``spark_partition_id``-free content: monotonically increasing ids are
    nondeterministic under retries, so we hash the key with a per-row random
    seed — ``rand`` seeded for reproducibility within a plan). The right
    side is exploded ``n_salts``× so every (key, salt) bucket can match.

    Only ``inner`` and ``left`` joins are supported: the right side is
    exploded ``n_salts``×, so for right/full/semi/anti joins an unmatched
    right row would be emitted once per salt (silent duplication). For those,
    salt the other way around or fall back to AQE skew-join. Within the
    supported modes, result rows are identical to a plain equi-join; only the
    shuffle distribution changes. Use when AQE skew-join can't apply
    (streaming micro-batches, or a first-stage shuffle you must pre-plan);
    in plain batch, prefer AQE.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}: the "
            "right side is exploded n_salts x, which would duplicate "
            "unmatched right rows under right/full/semi/anti semantics"
        )
    salt = F.floor(F.rand(seed=42) * n_salts).cast("int")
    l_salted = left.withColumn("_salt", salt)
    r_salted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = l_salted.join(r_salted, [key, "_salt"], how)
    return out.drop("_salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """AS-OF join (extension — the time-series join Spark lacks natively):
    for each left row, attach the payload of the latest right row with the
    same key and ``right_ts <= left_ts`` (inclusive); null payload when no
    such row exists. ``direction="forward"`` flips the match to the FIRST
    right row with ``right_ts >= left_ts`` (the next-event lookup), same
    single-shuffle shape with the running window read in reverse.

    Scalable union-sort form: tag both sides, union, and carry the last
    non-null payload forward with a running window per key — ONE shuffle on
    the key, per-partition sort bounded by rows-per-key, and never the
    quadratic key ⋈ key + filter + argmax a naive formulation costs. Ties
    (right_ts == left_ts) order the right row first, so an exact-timestamp
    match is visible to the left row. The right side must be unique per
    (key, right_ts); pre-dedupe it if not (both engines would otherwise
    pick an arbitrary row). ``tolerance_seconds`` (pandas merge_asof
    parity) nulls the payload when the matched row is farther than the
    tolerance from the left timestamp — the match itself is unchanged, so
    it stays one window pass with a post-projection guard.
    """
    from pyspark.sql import Window

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    payload = F.struct(
        *[F.col(c) for c in payload_cols],
        F.col(right_ts).cast("double").alias("_rts"),
    )
    # tie order: the right row must fall INSIDE the left row's window frame
    # at equal timestamps — before it for backward, after it for forward
    r_side = 0 if direction == "backward" else 2
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("_ts"),
        F.lit(r_side).alias("_side"),
        payload.alias("_payload"),
    )
    l = left.select(
        *left.columns,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
    )
    lw = l.select(
        *[F.col(k) for k in keys],
        "_ts",
        "_side",
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_left"),
    )
    rw = r.select(
        *[F.col(k) for k in keys],
        "_ts",
        "_side",
        "_payload",
        F.lit(None).cast(lw.schema["_left"].dataType).alias("_left"),
    )
    unioned = lw.unionByName(rw)
    if direction == "backward":
        w = (
            Window.partitionBy(*keys)
            .orderBy("_ts", "_side")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carry = F.last("_payload", ignorenulls=True)
    else:
        w = (
            Window.partitionBy(*keys)
            .orderBy("_ts", "_side")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        carry = F.first("_payload", ignorenulls=True)
    carried = unioned.withColumn("_asof", carry.over(w))
    # Key columns pass through TOP-LEVEL (not re-projected out of the _left
    # struct): that preserves the window's hash-partitioning lineage, so a
    # downstream groupBy/join on the same keys plans WITHOUT another
    # Exchange — the asof shuffle is reused.
    if tolerance_seconds is None:
        valid = F.col("_asof").isNotNull()
    else:
        gap = F.abs(F.col("_ts").cast("double") - F.col("_asof._rts"))
        valid = F.col("_asof").isNotNull() & (gap <= F.lit(float(tolerance_seconds)))
    out = carried.filter(F.col("_side") == 1).select(
        *[
            F.col(c) if c in keys else F.col(f"_left.{c}").alias(c)
            for c in left.columns
        ],
        *[F.when(valid, F.col(f"_asof.{c}")).alias(c) for c in payload_cols],
    )
    return out


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    left_ts: str,
    start_ts: str,
    end_ts: str,
    bin_seconds: int = 600,
) -> DataFrame:
    """Interval-overlap (range) join via time-axis binning (extension —
    Spark plans a bare ``start <= ts <= end`` predicate as a nested-loop
    join, the 100 TB anti-pattern).

    Each interval explodes into the fixed-width bins it covers; each left
    row lands in exactly one bin; an EQUI-join on the bin id plus the
    residual range filter reproduces the theta-join exactly. Every matching
    (row, interval) pair appears once — it can only meet in the left row's
    single bin. Cost: one hash-partitionable shuffle (or broadcast when the
    exploded intervals are small) instead of O(n·m) comparisons; interval
    fan-out is ceil(len/bin)+1, so pick ``bin_seconds`` near the typical
    interval length. Timestamps compare at microsecond precision; both
    bounds inclusive. Caller ensures disjoint column names.
    """
    us = bin_seconds * 1_000_000
    lb = left.withColumn("_bin", F.expr(f"unix_micros({left_ts}) div {us}"))
    iv = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.expr(f"unix_micros({start_ts}) div {us}"),
                F.expr(f"unix_micros({end_ts}) div {us}"),
            )
        ),
    )
    out = lb.join(iv, "_bin").filter(
        (F.col(left_ts) >= F.col(start_ts)) & (F.col(left_ts) <= F.col(end_ts))
    )
    return out.drop("_bin")


"""Structured Streaming parity tests: the streaming stateful operators must
agree with their batch/oracle forms on the same (in-order) data — SURVEY §5's
batch-as-oracle strategy.

Data is replayed through a multi-file parquet stream source (one file per
micro-batch) so state actually carries across batches.
"""

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_flink_230422_spark.operators.stateful import (
    detect_bounces,
    first_per_key_day,
    repair_is_new,
)
from gmall_flink_230422_spark.sources.files import stream_parquet
from gmall_flink_230422_spark.streaming.stateful import (
    bounce_stream,
    daily_first_stream,
    repair_is_new_stream,
)

T0 = dt.datetime(2024, 1, 1, 10, 0, 0)
SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
    ]
)

ROWS = [
    # user 1: two events same day (5s apart), one next day
    (1, T0, 1), (1, T0 + dt.timedelta(seconds=5), 2),
    (1, T0 + dt.timedelta(days=1), 3),
    # user 2: lone event (bounce by timeout), then long-gap entry (bounce)
    (2, T0, 4), (2, T0 + dt.timedelta(seconds=120), 5),
    # user 3: entry with quick successor (no bounce)
    (3, T0, 6), (3, T0 + dt.timedelta(seconds=3), 7),
]


@pytest.fixture(scope="module")
def stream_dir(spark):
    d = tempfile.mkdtemp(prefix="gmall_stream_")
    df = spark.createDataFrame(ROWS, SCHEMA)
    # 3 files → 3 micro-batches, split on event time so state carries over
    df.filter(F.col("event_id") <= 2).coalesce(1).write.parquet(f"{d}/in/f1")
    df.filter(F.col("event_id").isin(4, 6, 7)).coalesce(1).write.parquet(f"{d}/in/f2")
    df.filter(F.col("event_id").isin(3, 5)).coalesce(1).write.parquet(f"{d}/in/f3")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def run_stream(spark, out_df, name):
    q = (
        out_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def batch_df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_replay_ordered_and_unordered(spark):
    """files.replay: with ``order`` the micro-batches arrive in nondecreasing
    event-time order — the contract T2/T5 streaming determinism rests on;
    without it every row still arrives, in exactly ``batches`` micro-batches."""
    from gmall_flink_230422_spark.sources.files import replay

    def micro_batches(stream):
        seen = []

        def cap(b, i):
            r = b.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count(F.lit(1)).alias("n")).first()
            seen.append((i, r["lo"], r["hi"], r["n"]))

        q = stream.writeStream.foreachBatch(cap).trigger(availableNow=True).start()
        q.awaitTermination(120)
        return sorted(seen)

    df = batch_df(spark)
    ordered = [b for b in micro_batches(replay(df, batches=3, order="ts")) if b[3]]
    assert sum(n for _, _, _, n in ordered) == len(ROWS)
    assert len(ordered) > 1  # actually multi-batch
    for (_, _, prev_hi, _), (_, lo, _, _) in zip(ordered, ordered[1:]):
        assert lo >= prev_hi

    unordered = micro_batches(replay(df, batches=3))
    assert len(unordered) == 3
    assert sum(n for _, _, _, n in unordered) == len(ROWS)


def test_daily_first_stream_matches_batch(spark, stream_dir):
    src = stream_parquet(spark, f"{stream_dir}/in/*", SCHEMA)
    got = run_stream(
        spark, daily_first_stream(src, ["user_id"], "ts"), "t_daily_first"
    )
    batch = first_per_key_day(batch_df(spark), ["user_id"], "ts", ["event_id"])
    assert {r["event_id"] for r in got.collect()} == {
        r["event_id"] for r in batch.collect()
    }


def test_repair_is_new_stream_matches_batch(spark, stream_dir):
    src = stream_parquet(spark, f"{stream_dir}/in/*", SCHEMA)
    got = run_stream(spark, repair_is_new_stream(src, "user_id", "ts"), "t_is_new")
    batch = repair_is_new(batch_df(spark), "user_id", "ts")
    got_m = {(r["user_id"], r["ts"]): r["is_new"] for r in got.collect()}
    batch_m = {(r["user_id"], r["ts"]): r["is_new"] for r in batch.collect()}
    assert got_m == batch_m


def test_bounce_stream_matches_batch(spark, stream_dir):
    gap = 10
    src = stream_parquet(spark, f"{stream_dir}/in/*", SCHEMA)
    got = run_stream(spark, bounce_stream(src, "user_id", "ts", gap), "t_bounce")
    batch = detect_bounces(batch_df(spark), "user_id", "ts", gap, ["event_id"])
    want = {
        (r["user_id"], r["ts"].timestamp())
        for r in batch.filter(F.col("is_bounce")).collect()
    }
    have = {(r["user_id"], r["bounce_ts"]) for r in got.collect()}
    # the final pending entry per user can only flush on timeout, which needs
    # the watermark to advance past it — availableNow replay ends before
    # that, so streaming output = batch bounce set minus each user's last
    # still-pending entry
    assert have <= want
    last_event = {u: max(t for uu, t, _ in ROWS if uu == u) for u in {1, 2, 3}}
    decidable = {
        (r["user_id"], r["ts"].timestamp())
        for r in batch.filter(F.col("is_bounce")).collect()
        if r["ts"] != last_event[r["user_id"]]
    }
    assert decidable <= have


def test_tumble_window_stream(spark, stream_dir):
    """A1 streaming: windowed count with watermark through the same source."""
    from gmall_flink_230422_spark.operators.windows import tumble

    src = stream_parquet(spark, f"{stream_dir}/in/*", SCHEMA)
    win = tumble(
        src, "ts", "1 minute", ["user_id"],
        [F.count(F.lit(1)).alias("ct")], watermark="10 seconds",
    )
    got = run_stream(spark, win, "t_tumble")
    batch = tumble(
        batch_df(spark), "ts", "1 minute", ["user_id"],
        [F.count(F.lit(1)).alias("ct")],
    )
    got_m = {(r["stt"], r["user_id"]): r["ct"] for r in got.collect()}
    batch_m = {(r["stt"], r["user_id"]): r["ct"] for r in batch.collect()}
    # append-mode only emits windows closed by the watermark; all emitted
    # windows must match the batch result exactly
    assert got_m == {k: v for k, v in batch_m.items() if k in got_m}
    assert len(got_m) >= 1


def test_slide_window_stream(spark, stream_dir):
    """Sliding-window extension in streaming mode: emitted (closed) windows
    must match the batch evaluation exactly."""
    from gmall_flink_230422_spark.operators.windows import slide

    src = stream_parquet(spark, f"{stream_dir}/in/*", SCHEMA)
    args = ("ts", "2 minutes", "1 minute", ["user_id"], [F.count(F.lit(1)).alias("ct")])
    got = run_stream(spark, slide(src, *args, watermark="10 seconds"), "t_slide")
    batch = slide(batch_df(spark), *args)
    got_m = {(r["stt"], r["user_id"]): r["ct"] for r in got.collect()}
    batch_m = {(r["stt"], r["user_id"]): r["ct"] for r in batch.collect()}
    assert got_m == {k: v for k, v in batch_m.items() if k in got_m}
    assert len(got_m) >= 1


def test_cumulate_window_stream(spark, stream_dir):
    """Streaming CUMULATE = watermarked per-step tumble partials + read-side
    rollup: rolled-up closed windows must match batch cumulate exactly
    (VERDICT r1 §wrong-4 — previously prose-only)."""
    from gmall_flink_230422_spark.operators.windows import (
        cumulate,
        cumulate_rollup,
        cumulate_streaming,
    )

    step, span = "1 minute", "4 minutes"
    src = stream_parquet(spark, f"{stream_dir}/in/*", SCHEMA)
    partial = cumulate_streaming(
        src, "ts", step, span, ["user_id"],
        [F.count(F.lit(1)).alias("ct")], watermark="10 seconds",
    )
    got_partials = run_stream(spark, partial, "t_cum_steps")
    rolled = cumulate_rollup(
        got_partials, step, span, ["user_id"], [F.sum("ct").alias("ct")]
    )
    batch = cumulate(
        batch_df(spark), "ts", step, span, ["user_id"],
        [F.count(F.lit(1)).alias("ct")],
    )
    got_m = {(r["stt"], r["edt"], r["user_id"]): r["ct"] for r in rolled.collect()}
    batch_m = {(r["stt"], r["edt"], r["user_id"]): r["ct"] for r in batch.collect()}
    # append-mode emits only watermark-closed step partials; every window
    # rolled up from them must match the batch result exactly
    assert got_m == {k: v for k, v in batch_m.items() if k in got_m}
    assert len(got_m) >= 1


def test_streamq_registry_batch_equal(spark):
    """The driver-visible streaming queries return exactly their batch
    twin's result (complete-mode image over an AvailableNow replay)."""
    from gmall_flink_230422_spark.plans.gmall import q_tumble_keyed
    from gmall_flink_230422_spark.plans.streamq import q_stream_tumble_keyed

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in q_stream_tumble_keyed(spark, sf).collect()}
    want = {tuple(r) for r in q_tumble_keyed(spark, sf).collect()}
    assert got == want


def test_funnel_stream_cross_batch_state(spark):
    """Stage machine carries state across micro-batches: the view lands in
    batch 1, the qualifying click in batch 2, the purchase in batch 3; a
    click-only user still emits (stage-0 counted); pre-view clicks never
    qualify."""
    import shutil
    from gmall_flink_230422_spark.streaming.stateful import funnel_stream

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    rows = [
        # user 1 converts fully, one stage per batch
        (1, T0, "view"),
        (1, T0 + dt.timedelta(seconds=60), "click"),
        (1, T0 + dt.timedelta(seconds=600), "purchase"),
        # user 2: click BEFORE any view (never qualifies), then view only
        (2, T0, "click"),
        (2, T0 + dt.timedelta(seconds=60), "view"),
        # user 3: other events only -> all-null tuple, still counted
        (3, T0, "other"),
    ]
    d = tempfile.mkdtemp(prefix="gmall_funnel_")
    df = spark.createDataFrame(rows, schema)
    df.filter(F.col("ts") == T0).coalesce(1).write.parquet(f"{d}/in/f1")
    df.filter(F.col("ts") == T0 + dt.timedelta(seconds=60)).coalesce(1).write.parquet(f"{d}/in/f2")
    df.filter(F.col("ts") == T0 + dt.timedelta(seconds=600)).coalesce(1).write.parquet(f"{d}/in/f3")
    try:
        src = stream_parquet(spark, f"{d}/in/*", schema, files_per_trigger=1)
        got = run_stream(
            spark, funnel_stream(src, "user_id", "ts", "event_type"), "t_funnel"
        )
        per_user = {
            r["user_id"]: (r["t1"], r["t2"], r["t3"])
            for r in got.groupBy("user_id")
            .agg(F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3"))
            .collect()
        }
        assert set(per_user) == {1, 2, 3}
        t1, t2, t3 = per_user[1]
        assert t1 is not None and t2 is not None and t3 is not None and t1 < t2 < t3
        assert per_user[2][0] is not None and per_user[2][1] is None  # click pre-view
        assert per_user[3] == (None, None, None)
    finally:
        shutil.rmtree(d, ignore_errors=True)

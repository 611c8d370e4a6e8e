"""Driver-visible STREAMING queries: the windowed aggregates of the gmall
surface executed end-to-end through Structured Streaming, returning their
final result as a batch DataFrame so the driver harness (and the DuckDB
oracle) can check the streaming execution path itself — not just the batch
twin.

Mechanics per query:

1. replay the fixture table through ``sources.files.replay`` — one parquet
   file per micro-batch, 4 by default, cut into event-time or key ranges
   where arrival order matters — the deterministic Kafka stand-in;
2. run the SAME operator composition as the batch twin
   (``operators/windows.py``) on the streaming DataFrame;
3. run it to completion through ``streaming.drain`` (``foreachBatch`` +
   ``Trigger.AvailableNow``, process-everything-then-stop) — the one
   micro-batch loop every twin here, in r10.py and in r11.py shares — and
   read the landed output back (the final image in complete mode).

Because complete mode emits the full aggregate state and AvailableNow
drains every file, the result is batch-equal by construction — each query
reuses its batch twin's oracle VERBATIM (gmall.ORACLE_*). Complete mode
retains all window state: correct here (bounded window count), while the
production path for unbounded horizons is the watermark+append form proven
batch-equal in tests/test_streaming.py.

Reference parity: the same 10 s-window pipelines as
DwsTrafficVcChArIsNewPageViewWindow.java:43-86 /
DwsTrafficSourceKeywordPageViewWindow.java:145-154, transport per
MyKafkaUtil.java:21-60 (file-stream stand-in — no broker in the sandbox).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import load_table, read_parquet, scratch_dir
from ..operators import windows
from ..sources import files
from ..streaming import joins as sjoins
from ..streaming import stateful as sstate
from ..streaming.drain import drain
from . import QuerySpec
from .analytics import (
    ORACLE_CUMULATE,
    ORACLE_MV_MERGE,
    ORACLE_SESSION,
    ORACLE_SLIDING,
    SESSION_GAP_S,
    _oracle_hll,
)
from .gmall import (
    BOUNCE_GAP_S,
    ORACLE_DAILY_UV,
    ORACLE_IS_NEW,
    ORACLE_TUMBLE_KEYED,
    ORACLE_UNION_PREAGG,
    ORACLE_UPSERT,
)


def q_stream_tumble_keyed(spark, sf_dir):
    """A1 through the streaming engine: keyed 1-hour tumble on the replayed
    event stream; final image == batch a1_tumble_keyed."""
    ev = files.replay(load_table(spark, sf_dir, "events"))
    out = windows.tumble(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("ct"), F.round(F.sum("value"), 2).alias("value_sum")],
    )
    return drain(out, mode="complete")


def q_stream_union_preagg(spark, sf_dir):
    """A4+T8 through the streaming engine: three filtered branches 1-hot
    encoded, unioned, day-tumbled; final image == batch a4_union_preagg."""
    ev = files.replay(load_table(spark, sf_dir, "events"))
    branches = [
        (ev.filter(F.col("event_type") == "view"), {"pv_ct": F.lit(1)}),
        (ev.filter(F.col("event_type") == "click"), {"click_ct": F.lit(1)}),
        (ev.filter(F.col("event_type") == "error"), {"err_ct": F.lit(1)}),
    ]
    unioned = windows.one_hot_branches(branches, ["ts"])
    out = windows.tumble(
        unioned,
        "ts",
        "1 day",
        [],
        [
            F.sum("pv_ct").alias("pv_ct"),
            F.sum("click_ct").alias("click_ct"),
            F.sum("err_ct").alias("err_ct"),
        ],
    )
    return drain(out, mode="complete")


def q_stream_sliding_window(spark, sf_dir):
    """Sliding (hopping) window through the streaming engine: 2 h width /
    1 h hop keyed count+sum — the overlapping-window state shape (each event
    lives in 2 windows simultaneously; Spark's window generator expands
    before the stateful aggregate). Final complete-mode image == batch
    e_sliding_window, same oracle."""
    ev = files.replay(load_table(spark, sf_dir, "events"))
    out = windows.slide(
        ev,
        "ts",
        "2 hours",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("ct"), F.round(F.sum("value"), 2).alias("value_sum")],
    )
    return drain(out, mode="complete")


def q_stream_cumulate(spark, sf_dir):
    """CUMULATE through the streaming engine (the windows.cumulate_streaming
    + cumulate_rollup split: watermark-friendly per-step tumble partials
    drained via AvailableNow, growing windows rolled up read-side). value_sum
    partials are exact on the fixture's 2-dec value grid, so the re-rounded
    rollup equals the batch/oracle total exactly."""
    ev = files.replay(load_table(spark, sf_dir, "events"))
    partial = windows.cumulate_streaming(
        ev,
        "ts",
        "1 hour",
        "4 hours",
        ["event_type"],
        [F.count(F.lit(1)).alias("ct"), F.round(F.sum("value"), 2).alias("value_sum")],
    )
    image = drain(partial, mode="complete")
    return windows.cumulate_rollup(
        image,
        "1 hour",
        "4 hours",
        ["event_type"],
        [F.sum("ct").alias("ct"), F.round(F.sum("value_sum"), 2).alias("value_sum")],
    )


LATE_WM_S = 7200  # 2 h watermark delay
LATE_CHUNKS = 6


def q_stream_late_data(spark, sf_dir):
    """Watermark LATE-DATA semantics, driver-checked end-to-end: events
    arrive in a DETERMINISTIC scrambled order (md5-hash chunking, 6
    micro-batches), a 2 h watermark gates a 1 h tumbling count in APPEND
    mode, and the output is exactly what Structured Streaming emits — rows
    whose window closed before they arrived are dropped, windows never
    closed by the final watermark are withheld. The oracle replays the
    same watermark algebra in SQL: wm before batch k = max event time of
    batches < k minus the delay; a row survives iff its window end > that
    wm; a window is emitted iff its end ≤ the final wm. This pins the
    engine's late-data contract (SURVEY §2.5 T1) to an independent model,
    not just to itself."""
    from ..functions.hashing import portable_hash64

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    chunked = ev.withColumn(
        "_chunk",
        F.pmod(
            portable_hash64(F.concat(F.lit("chunk:"), F.col("event_id").cast("string"))),
            F.lit(LATE_CHUNKS),
        ),
    )
    stream = files.replay(chunked, batches=LATE_CHUNKS, order="_chunk")
    out = (
        stream.withWatermark("ts", f"{LATE_WM_S} seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("ct"))
        .select(F.col("w.start").cast("long").alias("stt"), "ct")
    )
    return drain(out)


ORACLE_STREAM_LATE = f"""
WITH base AS (
  -- stt via date_trunc, NOT epoch()::BIGINT: that cast ROUNDS, and a row
  -- .9 s before the hour would be binned into the wrong window
  SELECT epoch(ts) AS t,
         epoch(date_trunc('hour', ts))::BIGINT AS stt,
         (('0x' || substr(md5('chunk:' || event_id), 1, 15))::BIGINT % {LATE_CHUNKS}) AS chunk
  FROM events
),
batch_max AS (SELECT chunk, max(t) AS m FROM base GROUP BY 1),
wm AS (
  -- the LATE-ROW filter in batch k sees the watermark committed at batch
  -- start, which was computed from stats through batch k-2 (the k-1 stats
  -- update the watermark only after that batch completes) — verified
  -- against StreamingQueryProgress eventTime stats; eviction/emission uses
  -- the k-1 value, which only matters for the final-emission filter below
  SELECT chunk,
         max(m) OVER (ORDER BY chunk ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - {LATE_WM_S} AS wm_before
  FROM batch_max
),
kept AS (
  SELECT b.stt
  FROM base b JOIN wm ON b.chunk = wm.chunk
  WHERE wm.wm_before IS NULL OR b.stt + 3600 > wm.wm_before
),
final_wm AS (SELECT max(t) - {LATE_WM_S} AS wm_final FROM base)
SELECT stt, count(*) AS ct
FROM kept, final_wm
WHERE stt + 3600 <= wm_final
GROUP BY stt
"""


def q_stream_topn(spark, sf_dir):
    """Continuous TopN through the streaming engine (the Flink retract-TopN
    shape, left to ClickHouse by the reference): per-key counts maintained
    as complete-mode streaming state, ranked to top-3 users per event_type
    once AvailableNow drains the replay. In production the rank runs per
    emitted image (update-mode sink re-ranks each trigger); the final image
    here makes it batch-equal and oracle-checkable."""
    ev = files.replay(load_table(spark, sf_dir, "events"))
    counts = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("ct"))
    image = drain(counts, mode="complete")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("ct").desc(), "user_id")
    return (
        image.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "user_id", "ct", "rk")
    )


ORACLE_STREAM_TOPN = """
WITH counts AS (
  SELECT event_type, user_id, count(*) AS ct FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ct DESC, user_id) AS rk
  FROM counts
)
SELECT event_type, user_id, ct, rk FROM ranked WHERE rk <= 3
"""


def q_stream_hll_distinct(spark, sf_dir):
    """Streaming distinct-count via the deterministic HLL sketch
    (operators/sketches.py): each micro-batch reduces to ≤256 register rows
    per group inside a checkpointed foreachBatch, landed in a
    ``batch_id=N`` subdir (overwrite ⇒ idempotent replay, the exactly-once
    sink model), and the read side max-merges registers before the
    estimate. Register max is associative/commutative/idempotent, so the
    final estimate equals batch e_hll_distinct REGARDLESS of micro-batch
    boundaries or replays — the mergeable-state pattern that makes
    100 TB / multi-stream distinct counting tractable. Same oracle as the
    batch twin."""
    from ..operators import sketches

    regs = drain(
        files.replay(load_table(spark, sf_dir, "events")),
        lambda batch, _i: sketches.hll_buckets(
            batch, F.col("event_id").cast("string"), ["event_type"]
        ),
    )
    merged = (
        regs.groupBy("event_type", "_bucket")
        .agg(F.max("_max_rho").alias("_max_rho"))
    )
    est = sketches.hll_estimate(merged, ["event_type"])
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("exact_ct"))
    )
    return exact.join(est, "event_type").select("event_type", "exact_ct", "hll_est")


def q_stream_session_window(spark, sf_dir):
    """Session windows through the streaming engine: Spark's native
    ``session_window`` (the merging sessionizer Flink exposes as
    EventTimeSessionWindows, SURVEY §2.4) over the replayed event stream,
    keyed by user. Complete mode retains every open session and re-merges
    on each micro-batch, so after AvailableNow drains the replay the final
    image equals the batch e_session_window result exactly — same oracle."""
    ev = files.replay(load_table(spark, sf_dir, "events"))
    out = (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.col("user_id"),
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )
    return drain(out, mode="complete")


def q_stream_upsert_latest(spark, sf_dir):
    """S8+T11 through the streaming engine: the orders changelog replayed as
    a multi-file micro-batch stream into a CHECKPOINTED foreachBatch running
    the idempotent MERGE-by-key writer (sinks.upsert_parquet) — the repo's
    exactly-once sink model (checkpoint replay + idempotent merge). The
    compaction is associative (latest by a total order), so the final store
    equals batch s8_upsert_latest regardless of micro-batch boundaries."""
    from .. import sinks

    store = os.path.join(scratch_dir("streamq_s8_"), "store")
    stream = files.replay(load_table(spark, sf_dir, "orders"))

    def _merge(batch: DataFrame, _i: int) -> None:
        sinks.upsert_parquet(
            spark,
            batch.select(
                "o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
            ),
            store,
            ["o_custkey"],
            ["o_orderdate", "o_orderkey"],
        )

    drain(stream, _merge)
    return read_parquet(spark, store).select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def q_stream_daily_uv(spark, sf_dir):
    """T3 through the streaming engine: watermarked dropDuplicates on
    (user_id, day) (streaming/stateful.daily_first_stream — the reference's
    1-day-TTL ValueState dedup, DwdTrafficUniqueVisitorDetail.java:55-84),
    appended rows aggregated read-side to UV per day. The day is part of the
    dedup key, so WHICH first-seen row survives cannot change the per-day
    count — batch-equal regardless of micro-batch boundaries."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    stream = files.replay(ev, batches=6, order="ts")
    firsts = sstate.daily_first_stream(stream, ["user_id"], "ts")
    out = drain(firsts)
    return (
        out.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("dt")
        .agg(F.count(F.lit(1)).alias("uv"))
    )


def q_stream_is_new(spark, sf_dir):
    """T2 through the streaming engine: per-visitor first-seen-date GroupState
    (streaming/stateful.repair_is_new_stream ≙ BaseLogApp.java:56-91's
    ValueState<lastVisitDate>) over an event-time-ordered replay, then daily
    counts by repaired flag. The event-time-ordered replay makes the
    stateful first-date identical to the batch min-over-user form."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    stream = files.replay(ev, batches=6, order="ts")
    repaired = sstate.repair_is_new_stream(stream, "user_id", "ts")
    out = drain(repaired)
    return (
        out.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("dt", "is_new")
        .agg(F.count(F.lit(1)).alias("ct"))
    )


def q_stream_bounce(spark, sf_dir):
    """T5 through the streaming engine: the CEP match ∪ timeout union
    (streaming/stateful.bounce_stream, applyInPandasWithState with
    EventTimeTimeout ≙ DwdTrafficUserJumpDetail.java:48-82) over an ordered
    replay. A per-user end-of-stream sentinel at max_ts + gap resolves the
    final pending entry per user exactly as a continuously advancing
    watermark would in production — sentinels themselves can never be
    emitted (no successor, timeout never reached), so the emitted bounce set
    equals the batch detect_bounces is_bounce rows."""
    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinels = (
        ev.select("user_id")
        .distinct()
        .withColumn(
            "ts",
            F.lit(max_ts).cast("timestamp")
            + F.expr(f"INTERVAL {BOUNCE_GAP_S + 60} SECONDS"),
        )
    )
    stream = files.replay(
        ev.select("user_id", "ts").unionByName(sentinels), batches=6, order="ts"
    )
    bounces = sstate.bounce_stream(stream, "user_id", "ts", BOUNCE_GAP_S)
    out = drain(bounces)
    return (
        out.withColumn("dt", F.date_format(F.timestamp_seconds("bounce_ts"), "yyyy-MM-dd"))
        .groupBy("dt")
        .agg(F.count(F.lit(1)).alias("bounce_ct"))
    )


ORACLE_STREAM_BOUNCE = f"""
WITH seq AS (
  SELECT ts, epoch(ts) AS t,
         lag(epoch(ts))  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t,
         lead(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_t
  FROM events
), flags AS (
  SELECT ts,
         (prev_t IS NULL OR t - prev_t > {BOUNCE_GAP_S})
           AND (next_t IS NULL OR next_t - t > {BOUNCE_GAP_S}) AS is_bounce
  FROM seq
)
SELECT strftime(ts, '%Y-%m-%d') AS dt, count(*) AS bounce_ct
FROM flags WHERE is_bounce GROUP BY 1
"""


def q_stream_interval_join(spark, sf_dir):
    """J7/J1 through the streaming engine: watermarked stream-stream interval
    join (streaming/joins.interval_join — event-time-bounded state, the
    Spark analog of the reference's IdleStateRetention join TTL,
    DwdTradeOrderPreProcess.java:20): view events joined to the same user's
    click events within [0, 30 min], aggregated per view-day. Inner joins
    emit the complete match set under correct watermarks, so the result is
    batch-equal independent of micro-batch boundaries."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    stream = files.replay(ev, batches=3, order="ts")
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
    )
    joined = sjoins.interval_join(
        views,
        clicks,
        on=F.col("v_user") == F.col("c_user"),
        left_ts="view_ts",
        right_ts="click_ts",
        watermark="10 seconds",
        lower="0 seconds",
        upper="30 minutes",
    )
    out = drain(joined)
    return (
        out.withColumn("dt", F.date_format("view_ts", "yyyy-MM-dd"))
        .groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("pair_ct"),
            F.sum(F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("lag_us_sum"),
        )
    )


ORACLE_STREAM_INTERVAL_JOIN = """
SELECT strftime(v.ts, '%Y-%m-%d') AS dt, count(*) AS pair_ct,
       sum(epoch_us(c.ts) - epoch_us(v.ts))::BIGINT AS lag_us_sum
FROM events v JOIN events c ON v.user_id = c.user_id
  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
WHERE v.event_type = 'view' AND c.event_type = 'click'
GROUP BY 1
"""


def q_stream_left_outer_join(spark, sf_dir):
    """J2 through the streaming engine: watermarked stream-stream LEFT OUTER
    interval join (DwdTradeOrderPreProcess.java:168-171's left joins) —
    null-extended rows are emitted only once the watermark PROVES no match
    can arrive. Two far-future sentinel events (one per side's filter) push
    the final watermark past every real row so the tail null-extensions
    flush, exactly as a continuously advancing watermark would in
    production; sentinels themselves are never emitted (the watermark never
    passes them) and are filtered defensively anyway."""
    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel_ts = F.lit(max_ts).cast("timestamp") + F.expr("INTERVAL 7200 SECONDS")
    sentinels = (
        spark.range(2)
        .select(
            F.lit(-1).cast("long").alias("user_id"),
            sentinel_ts.alias("ts"),
            F.when(F.col("id") == 0, F.lit("view")).otherwise(F.lit("click")).alias("event_type"),
        )
    )
    stream = files.replay(
        ev.select("user_id", "ts", "event_type").unionByName(sentinels),
        batches=3,
        order="ts",
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
    )
    joined = sjoins.interval_join(
        views,
        clicks,
        on=F.col("v_user") == F.col("c_user"),
        left_ts="view_ts",
        right_ts="click_ts",
        watermark="10 seconds",
        lower="0 seconds",
        upper="30 minutes",
        how="left_outer",
    )
    out = drain(joined).filter(F.col("v_user") >= 0)
    return (
        out.withColumn("dt", F.date_format("view_ts", "yyyy-MM-dd"))
        .groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("row_ct"),
            F.count("click_ts").alias("matched_ct"),
            F.sum(F.col("click_ts").isNull().cast("bigint")).alias("unmatched_ct"),
        )
    )


ORACLE_STREAM_LEFT_OUTER = """
SELECT strftime(v.ts, '%Y-%m-%d') AS dt, count(*) AS row_ct,
       count(c.ts)::BIGINT AS matched_ct,
       sum(CASE WHEN c.ts IS NULL THEN 1 ELSE 0 END)::BIGINT AS unmatched_ct
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
GROUP BY 1
"""


def q_stream_dedup(spark, sf_dir):
    """Streaming exactly-once dedup via Spark's native
    ``dropDuplicatesWithinWatermark``: the source replays every event TWICE
    (the at-least-once redelivery shape a Kafka consumer restart produces —
    the situation the reference handles with Flink checkpoint replay +
    downstream idempotence, SURVEY §2.1 S7); the operator keeps first-seen
    per event_id, holding state only until the watermark passes the dup's
    event time — bounded state, unlike a global dropDuplicates. Oracle: the
    raw events table (dedup must exactly cancel the double delivery)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    stream = files.replay(ev.unionByName(ev), batches=3, order="ts")
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = drain(deduped)
    return (
        out.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )


ORACLE_STREAM_DEDUP = """
SELECT strftime(ts, '%Y-%m-%d') AS dt, count(*) AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users,
       round(sum(value), 2) AS value_sum
FROM events GROUP BY 1
"""


def q_stream_dim_incremental(spark, sf_dir):
    """S4 incremental config semantics through the STREAMING engine: the
    user_info CDC stream replays as two micro-batches (inserts, then the
    every-4th-key updates, replayed in ``_chunk`` order), a checkpointed
    foreachBatch applies the config-changelog DELTA for each batch's
    watermark to the broadcast map state (generation 1 with user_name for
    batch 1; generation 2 pruned to id,create_time for batch 2) and runs
    the shared route+prune+MERGE body. The final store shows the
    generation-dependent state the batch twin s4_dim_app_sync_incremental
    proves: updated rows lose user_name, untouched rows keep it."""
    from ..apps import _dim_sync_batch
    from .dwd import _union_envelope, _user_info_branches

    base = os.path.join(scratch_dir("streamq_s4i_"), "dim")
    c = load_table(spark, sf_dir, "customer")
    ins, upd = _user_info_branches(c)
    cdc = _union_envelope([ins, upd], via_json=True)
    chunked = cdc.withColumn(
        "_chunk", F.when(F.col("type") == "insert", 0).otherwise(1)
    )
    stream = files.replay(chunked, batches=2, order="_chunk").drop("_chunk")

    changelog = spark.createDataFrame(
        [
            ("user_info", "dim_user_info", "id,create_time,user_name", "id", 1, "u"),
            ("user_info", "dim_user_info", "id,create_time", "id", 2, "u"),
        ],
        ["source_table", "sink_table", "sink_columns", "sink_pk", "config_seq", "op"],
    )
    holder = {"last_wm": -(1 << 62), "state": {}}

    def _sync(batch: DataFrame, batch_id: int) -> None:
        wm = batch_id + 1
        delta = (
            changelog.filter(
                (F.col("config_seq") > holder["last_wm"])
                & (F.col("config_seq") <= wm)
            )
            .orderBy("config_seq")
            .collect()
        )
        for r in delta:
            if r["op"] == "d":
                holder["state"].pop(r["source_table"], None)
            else:
                holder["state"][r["source_table"]] = r.asDict()
        holder["last_wm"] = wm
        _dim_sync_batch(spark, batch, holder["state"], base)

    drain(stream, _sync)
    return read_parquet(spark, os.path.join(base, "dim_user_info")).select(
        F.col("id").cast("bigint").alias("id"), "create_time", "user_name"
    )


ORACLE_STREAM_DIM_INCR = """
SELECT c_custkey AS id,
       strftime(DATE '2024-01-01'
                + to_days((c_custkey % 365)::INT
                          + CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 0 END),
                '%Y-%m-%d %H:%M:%S') AS create_time,
       CASE WHEN c_custkey % 4 = 0 THEN NULL
            ELSE 'cust_' || c_custkey::VARCHAR END AS user_name
FROM customer
"""


def q_stream_lsh_incremental(spark, sf_dir):
    """Incremental corpus near-dup detection through the STREAMING engine —
    the nightly-ingest dedup shape: each new crawl increment is probed
    against the signature store of everything ingested before it, never
    rescanning the corpus.

    Documents replay in doc_id order as 4 micro-batches. Per batch, a
    checkpointed foreachBatch (a) computes MinHash band signatures for the
    batch, (b) flags a doc as dup iff it shares any (band, band_sig) bucket
    with a PRIOR document — earlier batch via the parquet signature store,
    or earlier doc_id within the same batch via a self semi-join, (c) lands
    the flags and appends the batch's signatures to the store. At scale the
    store is written partitioned by band, so the probe is a bucket-pruned
    join against an increment that is tiny relative to the corpus.

    Semantics = "duplicate of ANY earlier doc", which is batching-invariant
    and therefore oracle-checkable: the batch twin is a single self-join on
    band buckets with a doc_id < comparison.
    """
    from ..operators import dedup

    tmp = scratch_dir("streamq_lshinc_")
    store = os.path.join(tmp, "sig_store")
    flags_dir = os.path.join(tmp, "flags")

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = files.replay(d, order="doc_id")

    def _probe_and_merge(batch: DataFrame, batch_id: int) -> None:
        docs = batch.select("doc_id", "text")
        banded = dedup.doc_bands(dedup.shingles(docs))
        a, b = banded.alias("a"), banded.alias("b")
        intra = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
            "left_semi",
        ).select("doc_id")
        if os.path.exists(store):
            prior = read_parquet(spark, store).select("band", "band_sig")
            inter = banded.join(prior, ["band", "band_sig"], "left_semi").select(
                "doc_id"
            )
            dup_ids = intra.union(inter).distinct()
        else:
            dup_ids = intra.distinct()
        flags = docs.select("doc_id").join(
            dup_ids.withColumn("_dup", F.lit(True)), "doc_id", "left"
        ).select(
            "doc_id", F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup")
        )
        flags.write.mode("append").parquet(flags_dir)
        banded.select("band", "band_sig").write.mode("append").parquet(store)

    drain(stream, _probe_and_merge)
    return read_parquet(spark, flags_dir)


def _oracle_lsh_incremental() -> str:
    from .llm import _minhash_band_ctes, _shingles_cte

    return f"""
WITH {_shingles_cte()},{_minhash_band_ctes()},
dup AS (
  SELECT DISTINCT b.doc_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT d.doc_id, (dup.doc_id IS NOT NULL) AS is_dup
FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
"""


ORACLE_STREAM_LSH_INCR = _oracle_lsh_incremental()


def q_stream_mv_merge(spark, sf_dir):
    """Incremental MV maintenance through the STREAMING engine: each
    micro-batch's (dt, event_type) partials are MERGEd into the stored MV by
    partial-sum addition — the upsert-aggregate a lakehouse streaming job
    runs instead of recomputing the view. The money grid is rounded ONCE at
    read time, so merge order never double-rounds. Batch twin / oracle: the
    full recompute (e_mv_merge's oracle verbatim) — the green row proves
    stream-merge == recompute end-to-end."""
    tmp = scratch_dir("streamq_mv_")
    mv = os.path.join(tmp, "mv")
    stream = files.replay(load_table(spark, sf_dir, "events"))

    def _merge(batch: DataFrame, batch_id: int) -> None:
        partial = batch.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("dt"), "event_type"
        ).agg(F.count(F.lit(1)).alias("_n"), F.sum("value").alias("_s"))
        if os.path.exists(mv):
            partial = read_parquet(spark, mv).unionByName(partial)
        merged = partial.groupBy("dt", "event_type").agg(
            F.sum("_n").alias("_n"), F.sum("_s").alias("_s")
        )
        # parquet source dirs cannot be overwritten mid-read: land to a
        # fresh generation dir then swap the pointer file-free via rename
        gen = mv + ".next"
        merged.write.mode("overwrite").parquet(gen)
        import shutil

        if os.path.exists(mv):
            shutil.rmtree(mv)
        os.rename(gen, mv)

    drain(stream, _merge)
    return read_parquet(spark, mv).select(
        "dt",
        "event_type",
        F.col("_n").cast("bigint").alias("n_events"),
        F.round(F.col("_s"), 2).alias("value_sum"),
    )


SPECS = (
    QuerySpec(
        "s_stream_dedup", q_stream_dedup, ORACLE_STREAM_DEDUP,
        doc="at-least-once redelivery canceled by dropDuplicatesWithinWatermark",
        tags=("T3", "T11", "T1", "streaming"),
    ),
    QuerySpec(
        "s_stream_daily_uv", q_stream_daily_uv, ORACLE_DAILY_UV,
        doc="T3 executed via streaming: watermarked dropDuplicates per (mid, day)",
        tags=("T3", "T1", "streaming"),
    ),
    QuerySpec(
        "s_stream_is_new", q_stream_is_new, ORACLE_IS_NEW,
        doc="T2 executed via streaming: applyInPandasWithState first-seen-date repair",
        tags=("T2", "T1", "streaming"),
    ),
    QuerySpec(
        "s_stream_bounce", q_stream_bounce, ORACLE_STREAM_BOUNCE,
        doc="T5 executed via streaming: CEP match ∪ event-time-timeout union",
        tags=("T5", "T1", "streaming"),
    ),
    QuerySpec(
        "s_stream_left_outer_join", q_stream_left_outer_join, ORACLE_STREAM_LEFT_OUTER,
        doc="J2 executed via streaming: left-outer interval join, null-extension on watermark close",
        tags=("J2", "J7", "T1", "streaming"),
    ),
    QuerySpec(
        "s_stream_interval_join", q_stream_interval_join, ORACLE_STREAM_INTERVAL_JOIN,
        doc="J7/J1 executed via streaming: watermarked interval join, batch-equal",
        tags=("J7", "J1", "T1", "streaming"),
    ),
    QuerySpec(
        "s_stream_upsert_latest", q_stream_upsert_latest, ORACLE_UPSERT,
        doc="S8+T11 executed via streaming: checkpointed foreachBatch + idempotent MERGE",
        tags=("S8", "T11", "S6", "streaming"),
    ),
    QuerySpec(
        "s_stream_late_data", q_stream_late_data, ORACLE_STREAM_LATE,
        doc="watermark late-data semantics vs an independent SQL watermark model",
        tags=("T1", "streaming", "watermark"),
    ),
    QuerySpec(
        "s_stream_topn", q_stream_topn, ORACLE_STREAM_TOPN,
        doc="continuous TopN: complete-mode per-key counts ranked to top-3 per group",
        tags=("T1", "streaming", "window"),
    ),
    QuerySpec(
        "s_stream_hll_distinct", q_stream_hll_distinct, _oracle_hll(),
        doc="streaming HLL: per-batch registers, idempotent landing, read-side max-merge",
        tags=("T11", "T1", "streaming", "sketch"),
    ),
    QuerySpec(
        "s_stream_session_window", q_stream_session_window, ORACLE_SESSION,
        doc="session windows via Structured Streaming (native session_window, complete mode)",
        tags=("A1", "T1", "streaming", "window"),
    ),
    QuerySpec(
        "s_stream_sliding_window", q_stream_sliding_window, ORACLE_SLIDING,
        doc="sliding window via Structured Streaming: overlapping-window state, batch-equal",
        tags=("T1", "streaming", "window"),
    ),
    QuerySpec(
        "s_stream_cumulate", q_stream_cumulate, ORACLE_CUMULATE,
        doc="CUMULATE via streaming: per-step tumble partials + read-side rollup",
        tags=("A5", "T1", "streaming"),
    ),
    QuerySpec(
        "s_stream_tumble_keyed", q_stream_tumble_keyed, ORACLE_TUMBLE_KEYED,
        doc="A1 executed via Structured Streaming (AvailableNow replay), batch-equal",
        tags=("A1", "T1", "S1", "streaming"),
    ),
    QuerySpec(
        "s_stream_union_preagg", q_stream_union_preagg, ORACLE_UNION_PREAGG,
        doc="A4+T8 executed via Structured Streaming (AvailableNow replay), batch-equal",
        tags=("A4", "T8", "T1", "S1", "streaming"),
    ),
    QuerySpec(
        "s_stream_dim_incremental", q_stream_dim_incremental, ORACLE_STREAM_DIM_INCR,
        doc="S4 incremental config deltas applied per micro-batch in a checkpointed foreachBatch",
        tags=("S4", "T10", "S11", "T11", "streaming"),
    ),
    QuerySpec(
        "s_stream_lsh_incremental", q_stream_lsh_incremental, ORACLE_STREAM_LSH_INCR,
        doc="incremental LSH near-dup: per-batch probe vs the growing signature store",
        tags=("T11", "streaming", "dedup", "llm"),
    ),
    QuerySpec(
        "s_stream_mv_merge", q_stream_mv_merge, ORACLE_MV_MERGE,
        doc="streaming MV upsert: per-batch partials merged into the stored view",
        tags=("T11", "streaming", "agg", "scale"),
    ),
)


def q_stream_markov(spark, sf_dir):
    """Markov transition matrix through the STREAMING engine: per-user
    transitions extracted by a cross-batch stateful operator
    (streaming/stateful.transitions_stream — one (last_type, ts, id) triple
    of GroupState per user so pairs straddling micro-batch boundaries are
    not lost), then counted and normalized at read time. Batch twin /
    oracle: e_markov_transitions' lead()-window form VERBATIM — the green
    row proves the one-batch-at-a-time state walk reproduces the
    all-history window exactly on an ordered replay."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    stream = files.replay(ev, batches=6, order="ts")
    pairs = drain(sstate.transitions_stream(stream, key="user_id"))
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    tot = counts.groupBy("from_type").agg(F.sum("n_trans").alias("tot"))
    return counts.join(F.broadcast(tot), "from_type").select(
        "from_type", "to_type", "n_trans",
        (F.expr("(n_trans * 10000) div tot") / 1e4).alias("prob"),
    )


from .analytics import ORACLE_MARKOV  # noqa: E402

SPECS = SPECS + (
    QuerySpec(
        "s_stream_markov", q_stream_markov, ORACLE_MARKOV,
        doc="cross-batch stateful transition extraction == batch lead() window",
        tags=("T2", "T11", "streaming", "mining"),
    ),
)


def q_stream_pit_features(spark, sf_dir):
    """Point-in-time trailing-24h features through the STREAMING engine
    (streaming/stateful.trailing_features_stream): per-user sliding-buffer
    GroupState pruned as event time advances, emitting each purchase's
    leakage-free trailing count/value online. Oracle: e_pit_features'
    batch RANGE-frame form VERBATIM."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    stream = files.replay(ev, batches=6, order="ts").select(
        "user_id", "event_id", "event_type",
        F.floor(F.col("ts").cast("double")).cast("long").alias("epoch"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    feats = drain(sstate.trailing_features_stream(stream, key="user_id"))
    return feats.select(
        "event_id", "user_id", "trail_cnt",
        (F.col("trail_cents") / 100.0).alias("trail_value"),
    )


from .analytics import ORACLE_PIT_FEATURES  # noqa: E402

SPECS = SPECS + (
    QuerySpec(
        "s_stream_pit_features", q_stream_pit_features, ORACLE_PIT_FEATURES,
        doc="online PIT features: pruned sliding-buffer state == batch RANGE frame",
        tags=("T2", "T11", "streaming", "feature"),
    ),
)


def q_stream_order_preprocess(spark, sf_dir):
    """The reference's HARDEST app as ONE Structured Streaming query: the
    5-way order pre-process chain (DwdTradeOrderPreProcess.java:120-173 +
    DwdTradeOrderDetail.java) — order_detail ⋈ order_info INNER
    stream-stream join, LEFT-OUTER stream-stream joins to activity and
    coupon, broadcast base_dic lookup — with per-join watermark design.
    Batch twin / oracle: j6_dwd_order_detail VERBATIM.

    Event-time axis: every CDC row lands at its ORDER's transaction
    instant (all four tables commit inside the order transaction, Maxwell
    binlog order), with the order_status update image +1 h later — so the
    inner join's range is [0, 2 h] and the detail-level left joins are
    exact-instant [0, 0]. That bounds every join's state to rate x hours
    of event time (the honest Spark analog of the reference's
    IdleStateRetention TTL; the synthetic l_shipdate is NOT a CDC arrival
    axis — it ranges +-2500 days around the order date).

    Watermarks: chained stream-stream joins forbid redefining a watermark
    downstream, so each of the four leaf streams is watermarked ONCE (1 h)
    and the chain passes watermark=None; the non-current event-time column
    is dropped after each join (Spark requires one event-time column per
    stream). Per-table far-future sentinels flush the left-outer
    null-extensions at end-of-replay exactly as a continuously advancing
    production watermark would.

    Read side: the upsert-topic consumer contract (S8) — each od row keeps
    its LATEST order_info image (keyed max-window on order_id), preserving
    od-row multiplicity (two lineitem rows can pack to one detail id at
    fixture SFs; a latest-BY-KEY compaction would collapse them and drop
    rows the batch twin keeps).

    State backend: RocksDB (the Spark analog of the reference's Flink
    RocksDB state backend) — three chained joins buffer up to a replay
    chunk's worth of rows before watermark eviction at the next batch
    boundary, and the default in-heap HDFSBackedStateStore OOMs a 1g
    vanilla driver at sf0.1; RocksDB keeps join state off-heap/on-disk,
    which is also the only viable backend at production state sizes."""
    import datetime as dt

    from .dwd import _base_dic, _trade_envelope

    _provider_key = "spark.sql.streaming.stateStore.providerClass"
    _old_provider = spark.conf.get(_provider_key, None)
    spark.conf.set(
        _provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    env = _trade_envelope(spark, sf_dir).select("table", "type", "data", "old")
    d = F.col("data")
    ok = (
        F.when(F.col("table") == "order_detail", d["order_id"])
        .when(F.col("table") == "order_info", d["id"])
        .otherwise(
            (d["order_detail_id"].cast("bigint") / F.lit(8 * 4194304 * 16384))
            .cast("bigint")
            .cast("string")
        )
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("_ok"), F.col("o_orderdate").alias("_odate")
    )
    env = env.withColumn("_ok", ok.cast("bigint")).join(orders, "_ok")
    cdc_ts = F.when(
        (F.col("table") == "order_info") & (F.col("type") == "update"),
        F.col("_odate") + F.expr("INTERVAL 1 HOUR"),
    ).otherwise(F.col("_odate"))
    env = env.withColumn("cdc_ts", cdc_ts).drop("_ok", "_odate")
    max_ts = env.agg(F.max("cdc_ts")).first()[0]
    far = (max_ts + dt.timedelta(hours=4)).strftime("%Y-%m-%d %H:%M:%S")
    sents = spark.createDataFrame(
        [(t,) for t in ("order_detail", "order_info",
                        "order_detail_activity", "order_detail_coupon")],
        "table string",
    ).select(
        "table",
        F.lit("insert").alias("type"),
        F.create_map(
            F.lit("id"), F.lit("-1"), F.lit("order_id"), F.lit("-1"),
            F.lit("order_detail_id"), F.lit("-1"),
            F.lit("order_status"), F.lit("1001"),
        ).alias("data"),
        F.lit(None).cast("map<string,string>").alias("old"),
        F.lit(far).cast("timestamp").alias("cdc_ts"),
    )
    # join-state peak ~ one batch of rows (eviction happens at batch
    # boundaries), so finer batches bound state independent of SF
    stream = files.replay(env.unionByName(sents), batches=6, order="cdc_ts")

    od = stream.filter(
        (F.col("table") == "order_detail") & (F.col("type") == "insert")
    ).select(
        d["id"].alias("id"), d["order_id"].alias("order_id"),
        d["sku_id"].alias("sku_id"), d["sku_num"].alias("sku_num"),
        d["source_type"].alias("source_type"),
        d["create_time"].alias("create_time"), F.col("cdc_ts").alias("od_ts"),
    ).withWatermark("od_ts", "1 hour")
    oi = stream.filter(
        (F.col("table") == "order_info") & d["order_status"].isNotNull()
    ).select(
        d["id"].alias("order_info_id"), d["user_id"].alias("user_id"),
        d["province_id"].alias("province_id"),
        d["order_status"].alias("order_status"),
        d["operate_time"].alias("operate_time"), F.col("cdc_ts").alias("oi_ts"),
    ).withWatermark("oi_ts", "1 hour")
    oa = stream.filter(F.col("table") == "order_detail_activity").select(
        d["order_detail_id"].alias("activity_order_detail_id"),
        d["activity_id"].alias("activity_id"),
        d["activity_rule_id"].alias("activity_rule_id"),
        F.col("cdc_ts").alias("oa_ts"),
    ).withWatermark("oa_ts", "1 hour")
    oc = stream.filter(F.col("table") == "order_detail_coupon").select(
        d["order_detail_id"].alias("coupon_order_detail_id"),
        d["coupon_id"].alias("coupon_id"), F.col("cdc_ts").alias("oc_ts"),
    ).withWatermark("oc_ts", "1 hour")

    j1 = sjoins.interval_join(
        od, oi, F.col("order_id") == F.col("order_info_id"),
        left_ts="od_ts", right_ts="oi_ts", watermark=None,
        lower="0 seconds", upper="2 hours", how="inner",
    ).drop("oi_ts")
    j2 = sjoins.interval_join(
        j1, oa, F.col("id") == F.col("activity_order_detail_id"),
        left_ts="od_ts", right_ts="oa_ts", watermark=None,
        lower="0 seconds", upper="0 seconds", how="left_outer",
    ).drop("oa_ts")
    j3 = sjoins.interval_join(
        j2, oc, F.col("id") == F.col("coupon_order_detail_id"),
        left_ts="od_ts", right_ts="oc_ts", watermark=None,
        lower="0 seconds", upper="0 seconds", how="left_outer",
    )
    dic = _base_dic(spark, sf_dir).select(
        F.col("dic_code").alias("_src_code"),
        F.col("dic_name").alias("source_type_name"),
    )
    out = j3.join(F.broadcast(dic), F.col("source_type") == F.col("_src_code"), "left")

    try:
        res = drain(out).filter(F.col("id") != "-1")
    finally:
        if _old_provider is None:
            spark.conf.unset(_provider_key)
        else:
            spark.conf.set(_provider_key, _old_provider)
    from pyspark.sql import Window

    w = Window.partitionBy("order_info_id")
    final = res.withColumn("_max_ot", F.max("operate_time").over(w)).filter(
        F.col("operate_time") == F.col("_max_ot")
    )
    return final.select(
        F.col("id").cast("bigint").alias("detail_id"),
        F.col("order_id").cast("bigint").alias("order_id"),
        F.col("sku_id").cast("bigint").alias("sku_id"),
        F.col("sku_num").cast("int").alias("sku_num"),
        F.col("user_id").cast("bigint").alias("user_id"),
        "order_status",
        F.col("province_id").cast("int").alias("province_id"),
        F.col("activity_id").cast("int").alias("activity_id"),
        F.col("coupon_id").cast("int").alias("coupon_id"),
        "source_type_name",
        F.date_format(F.to_timestamp("create_time"), "yyyy-MM-dd").alias("date_id"),
    )


from .dwd import ORACLE_ORDER_DETAIL  # noqa: E402

SPECS = SPECS + (
    QuerySpec(
        "s_stream_order_preprocess", q_stream_order_preprocess, ORACLE_ORDER_DETAIL,
        doc="J6 streaming capstone: chained watermarked stream-stream joins == batch 5-way",
        tags=("J1", "J2", "J3", "J6", "J7", "S8", "T11", "streaming"),
    ),
)


def q_stream_dedup_incremental(spark, sf_dir):
    """Incremental-ingest dedup through the STREAMING engine — the
    production topology x_dedup_incremental models in one batch: the BASE
    corpus's artifacts (fingerprints, band-signature index, shingles) are
    PERSISTED once (the index build), then the incoming delta streams in
    micro-batches and each batch probes the index inside a checkpointed
    foreachBatch — exact-fingerprint semi-join, (band, band_sig) bucket
    join for candidates, Jaccard verify against base shingles PRUNED to
    candidate docs only (the index read never scans the full base side).
    Verdicts append to the sink; batch boundaries cannot change results
    because incoming docs never pair with each other (candidates are
    strictly incoming x base). Oracle: the batch twin's SQL VERBATIM."""
    from ..operators import dedup
    from .llm import _docs_par

    d = _docs_par(spark, sf_dir)
    inc_pred = F.col("doc_id") % 5 == 0
    base = d.filter(~inc_pred)
    tmp = scratch_dir("streamq_incdedup_")
    fp_dir = os.path.join(tmp, "base_fp")
    sh_dir = os.path.join(tmp, "base_sh")
    bands_dir = os.path.join(tmp, "base_bands")

    # ---- index build (batch, once — the persisted artifacts)
    base.select(dedup.fingerprint(F.col("text")).alias("fp")).distinct() \
        .write.parquet(fp_dir)
    dedup.shingles(base).write.parquet(sh_dir)
    dedup.doc_bands(read_parquet(spark, sh_dir)).write.parquet(bands_dir)

    # ---- incoming delta as a multi-file replay stream
    stream = files.replay(d.filter(inc_pred))

    def _probe(batch: DataFrame, _i: int) -> DataFrame:
        s = batch.sparkSession
        sh_i = dedup.shingles(batch)
        bands_i = dedup.doc_bands(sh_i).select(
            "band", "band_sig", F.col("doc_id").alias("_i")
        )
        bands_b = read_parquet(s, bands_dir).select(
            "band", "band_sig", F.col("doc_id").alias("_b")
        )
        cand = (
            bands_i.join(bands_b, ["band", "band_sig"])
            .select(
                F.least("_i", "_b").alias("doc_a"),
                F.greatest("_i", "_b").alias("doc_b"),
            )
            .distinct()
        )
        cand_base_ids = (
            cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
            .filter(F.col("doc_id") % 5 != 0)
            .distinct()
        )
        sh_b_pruned = read_parquet(s, sh_dir).join(
            cand_base_ids, "doc_id", "left_semi"
        )
        jac = dedup.jaccard_pairs(
            sh_i.unionByName(sh_b_pruned), threshold=0.5, candidates=cand
        )
        near = (
            jac.select(
                F.when(F.col("doc_a") % 5 == 0, F.col("doc_a"))
                .otherwise(F.col("doc_b"))
                .alias("doc_id"),
                "jaccard",
            )
            .groupBy("doc_id")
            .agg(F.max("jaccard").alias("_mj"))
        )
        exact = (
            batch.select("doc_id", dedup.fingerprint(F.col("text")).alias("fp"))
            .join(read_parquet(s, fp_dir), "fp", "left_semi")
            .select("doc_id")
            .withColumn("_e", F.lit(1))
        )
        return (
            batch.select("doc_id")
            .join(F.broadcast(exact), "doc_id", "left")
            .join(F.broadcast(near), "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("_e") == 1, F.lit("exact"))
                .when(F.col("_mj").isNotNull(), F.lit("near"))
                .otherwise(F.lit("new"))
                .alias("verdict"),
                F.when(F.col("_e").isNull(), F.col("_mj")).alias("max_jaccard"),
            )
        )

    return drain(stream, _probe)


from .llm import ORACLE_DEDUP_INCREMENTAL  # noqa: E402

SPECS = SPECS + (
    QuerySpec(
        "s_stream_dedup_incremental", q_stream_dedup_incremental,
        ORACLE_DEDUP_INCREMENTAL,
        doc="streaming delta-vs-index dedup: per-batch probe of persisted fingerprint/LSH index",
        tags=("llm", "dedup", "streaming", "T11"),
    ),
)


def q_stream_ann_probe(spark, sf_dir):
    """ANN SERVING through the streaming engine: the IVF index is built and
    PERSISTED once (centroids + the corpus stored partitioned by list_id —
    the write-time step), then a query stream arrives in micro-batches and
    each checkpointed batch probes only its queries' n_probe nearest lists
    via similarity.ivf_probe_topk — the broadcast probe join on the
    partition column lets dynamic partition pruning skip the unprobed lists
    at the scan, so per-batch cost tracks the probe fan-out, not corpus
    size. Results append to the sink; probes are per-query, so batch
    boundaries cannot change results and the batch IVF oracle applies with
    the same query predicate."""
    from ..operators import similarity
    from .llm import _embs_par

    e = _embs_par(spark, sf_dir)
    tmp = scratch_dir("streamq_annprobe_")
    cents_dir = os.path.join(tmp, "cents")
    index_dir = os.path.join(tmp, "index")

    # ---- index build (batch, once — the persisted artifacts)
    similarity.ivf_centroids(e, n_centroids=16).write.parquet(cents_dir)
    cents = read_parquet(spark, cents_dir)
    similarity.ivf_assign(e, cents).write.partitionBy("list_id").parquet(index_dir)

    # ---- query stream as a multi-file replay
    stream = files.replay(e.filter(F.col("vec_id") % 100 == 0))

    def _probe(batch: DataFrame, _i: int) -> DataFrame:
        s = batch.sparkSession
        return similarity.ivf_probe_topk(
            read_parquet(s, index_dir),
            read_parquet(s, cents_dir),
            batch,
            k=10,
            n_probe=4,
        )

    return drain(stream, _probe)


from .llm import ORACLE_ANN_IVF, _QUERY_IDS  # noqa: E402

ORACLE_STREAM_ANN_PROBE = ORACLE_ANN_IVF.replace(
    f"WHERE q.vec_id IN {_QUERY_IDS}", "WHERE q.vec_id % 100 = 0"
)
assert ORACLE_STREAM_ANN_PROBE != ORACLE_ANN_IVF, "query-predicate splice failed"

SPECS = SPECS + (
    QuerySpec(
        "s_stream_ann_probe", q_stream_ann_probe, ORACLE_STREAM_ANN_PROBE,
        doc="streaming ANN serving: micro-batched queries probing a persisted partitioned IVF index",
        tags=("llm", "similarity", "streaming", "T11"),
    ),
)


def q_stream_full_outer_join(spark, sf_dir):
    """Completes the stream-stream join matrix (inner: s_stream_interval_
    join; left outer: s_stream_left_outer_join): FULL OUTER interval join —
    null-extensions on BOTH sides emitted only once the watermark proves no
    match can arrive. Same sentinel watermark-push as the left-outer twin
    (the two far-future sentinels cover both sides' filters; a sentinel
    only ever joins a sentinel, and both carry user_id -1 so one filter
    drops them). Rows grouped by the day of whichever side exists."""
    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel_ts = F.lit(max_ts).cast("timestamp") + F.expr("INTERVAL 7200 SECONDS")
    sentinels = (
        spark.range(2)
        .select(
            F.lit(-1).cast("long").alias("user_id"),
            sentinel_ts.alias("ts"),
            F.when(F.col("id") == 0, F.lit("view")).otherwise(F.lit("click")).alias("event_type"),
        )
    )
    stream = files.replay(
        ev.select("user_id", "ts", "event_type").unionByName(sentinels),
        batches=3,
        order="ts",
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
    )
    joined = sjoins.interval_join(
        views,
        clicks,
        on=F.col("v_user") == F.col("c_user"),
        left_ts="view_ts",
        right_ts="click_ts",
        watermark="10 seconds",
        lower="0 seconds",
        upper="30 minutes",
        how="full_outer",
    )
    out = drain(joined).filter(
        F.coalesce("v_user", "c_user") >= 0
    )
    return (
        out.withColumn(
            "dt", F.date_format(F.coalesce("view_ts", "click_ts"), "yyyy-MM-dd")
        )
        .groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("row_ct"),
            F.sum((F.col("view_ts").isNotNull() & F.col("click_ts").isNotNull()).cast("bigint")).alias("matched_ct"),
            F.sum(F.col("click_ts").isNull().cast("bigint")).alias("left_only_ct"),
            F.sum(F.col("view_ts").isNull().cast("bigint")).alias("right_only_ct"),
        )
    )


ORACLE_STREAM_FULL_OUTER = """
SELECT strftime(coalesce(v.ts, c.ts), '%Y-%m-%d') AS dt, count(*) AS row_ct,
       sum(CASE WHEN v.ts IS NOT NULL AND c.ts IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS matched_ct,
       sum(CASE WHEN c.ts IS NULL THEN 1 ELSE 0 END)::BIGINT AS left_only_ct,
       sum(CASE WHEN v.ts IS NULL THEN 1 ELSE 0 END)::BIGINT AS right_only_ct
FROM (SELECT * FROM events WHERE event_type = 'view') v
FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
GROUP BY 1
"""


def q_stream_drift(spark, sf_dir):
    """The embedding-drift monitor as CONTINUOUS state: each micro-batch of
    vectors reduces to per-(cohort, dim) partial integer sums landed in a
    ``batch_id=N`` subdir (overwrite ⇒ idempotent replay, the exactly-once
    sink model s_stream_hll_distinct established); the read side merges
    partials with one 64-key sum — bigint addition is associative/
    commutative, so the merged drift equals batch x_embedding_drift
    REGARDLESS of micro-batch boundaries or replays. Same oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    stream = files.replay(e)

    def _partial(batch: DataFrame, _i: int) -> DataFrame:
        comps = batch.select(
            ((F.col("vec_id") % 2) == 0).alias("is_base"),
            F.posexplode(F.col("embedding")).alias("jpos", "val"),
        ).select(
            "is_base",
            F.col("jpos").cast("int").alias("dim"),
            F.floor(F.col("val").cast("double") * 1000).cast("bigint").alias("milli"),
        )
        return comps.groupBy("dim").agg(
            F.count(F.when(F.col("is_base"), 1)).alias("cnt_a"),
            F.count(F.when(~F.col("is_base"), 1)).alias("cnt_b"),
            F.sum(F.when(F.col("is_base"), F.col("milli")).otherwise(F.lit(0))).alias("sum_a"),
            F.sum(F.when(~F.col("is_base"), F.col("milli")).otherwise(F.lit(0))).alias("sum_b"),
        )

    merged = (
        drain(stream, _partial)
        .groupBy("dim")
        .agg(
            F.sum("cnt_a").alias("cnt_a"),
            F.sum("cnt_b").alias("cnt_b"),
            F.sum("sum_a").alias("sum_a"),
            F.sum("sum_b").alias("sum_b"),
        )
    )
    scored = merged.select(
        "dim", "cnt_a", "cnt_b", "sum_a", "sum_b",
        F.abs(F.col("sum_a") * F.col("cnt_b") - F.col("sum_b") * F.col("cnt_a")).alias("drift_num"),
    )
    return scored.orderBy(F.col("drift_num").desc(), F.col("dim")).limit(8)


from .llm import ORACLE_EMBEDDING_DRIFT  # noqa: E402

SPECS = SPECS + (
    QuerySpec(
        "s_stream_full_outer_join", q_stream_full_outer_join, ORACLE_STREAM_FULL_OUTER,
        doc="full-outer stream-stream interval join: both-side null-extensions on watermark close",
        tags=("J2", "streaming"),
    ),
    QuerySpec(
        "s_stream_drift", q_stream_drift, ORACLE_EMBEDDING_DRIFT,
        doc="streaming drift monitor: idempotent per-batch integer partials, read-side merge == batch",
        tags=("llm", "similarity", "streaming", "T11"),
    ),
)


def q_stream_funnel(spark, sf_dir):
    """Multi-step CEP through the streaming engine: the view → click →
    purchase conversion funnel as a per-user GroupState machine
    (streaming/stateful.funnel_stream) over the time-ordered replay —
    first qualifying event per stage sets its set-once timestamp, so with
    ordered arrival the stage tuples equal e_funnel's chained
    conditional-min windows exactly. Snapshots append per batch; the read
    side max-merges them per user (set-once ⇒ max = final) and aggregates
    the same stage counts as the batch twin — oracle VERBATIM."""
    from ..streaming.stateful import funnel_stream

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    stream = files.replay(ev, batches=3, order="ts")
    staged = funnel_stream(stream, key="user_id", ts_col="ts", type_col="event_type")
    out = drain(staged)
    per_user = out.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("t1").isNotNull().cast("bigint")).alias("stage_view"),
        F.sum(F.col("t2").isNotNull().cast("bigint")).alias("stage_click"),
        F.sum(F.col("t3").isNotNull().cast("bigint")).alias("stage_purchase"),
    )


from .analytics import ORACLE_FUNNEL  # noqa: E402

SPECS = SPECS + (
    QuerySpec(
        "s_stream_funnel", q_stream_funnel, ORACLE_FUNNEL,
        doc="multi-step CEP funnel through GroupState: set-once stage timestamps, max-merged snapshots",
        tags=("T5", "streaming", "llm"),
    ),
)


def q_stream_ewma(spark, sf_dir):
    """Dyadic EWMA through the STREAMING engine: per-user trailing-8
    weighted average maintained in a bounded BIGINT-array GroupState
    (streaming/stateful.ewma_stream) — the online metric smoother. The
    cent conversion happens JVM-side before the stateful operator; every
    score is integer arithmetic, so the online walk reproduces e_ewma's
    batch 8-lag keyed window bit-for-bit on an ordered replay. Oracle:
    e_ewma VERBATIM."""
    from ..streaming.stateful import ewma_stream

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    stream = files.replay(ev, batches=3, order="ts").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("v_cents"),
    )
    scored = ewma_stream(stream, key="user_id")
    return drain(scored)


from .analytics import ORACLE_EWMA  # noqa: E402

SPECS = SPECS + (
    QuerySpec(
        "s_stream_ewma", q_stream_ewma, ORACLE_EWMA,
        doc="online dyadic EWMA: bounded trailing-8 GroupState == batch 8-lag keyed window",
        tags=("T2", "T11", "streaming", "window"),
    ),
)


def q_stream_cms_heavy(spark, sf_dir):
    """Streaming heavy hitters via count-min sketch: each micro-batch of
    the replayed event stream reduces to its own bounded d×w CMS grid
    inside a checkpointed foreachBatch (landed under batch_id=N,
    overwrite ⇒ idempotent replay — the exactly-once sink model), and the
    read side merges grids by cell-wise SUM (CMS merge is additive,
    unlike HLL's register max) before probing the exact top-20 users.
    Because addition is associative/commutative and each batch lands
    exactly once, the merged grid equals the single-pass batch grid
    REGARDLESS of micro-batch boundaries or replays — the online heavy-
    hitter monitor at 100 TB stream rates: KBs of state per batch, never
    a vocabulary-sized table."""
    from ..operators import sketches

    grids = drain(
        files.replay(load_table(spark, sf_dir, "events")),
        lambda batch, _i: sketches.cms_table(batch, F.col("user_id").cast("string")),
    )
    merged = (
        grids.groupBy("cms_row", "cms_col")
        .agg(F.sum("cms_count").alias("cms_count"))
    )
    top = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").cast("string").alias("user"))
        .agg(F.count(F.lit(1)).alias("exact_ct"))
        .orderBy(F.col("exact_ct").desc(), "user")
        .limit(20)
    )
    return sketches.cms_lookup(merged, top, "user")


def _oracle_stream_cms() -> str:
    from ..functions.hashing import portable_hash64_sql
    from ..operators import sketches

    phash_user = f"({portable_hash64_sql('CAST(user_id AS VARCHAR)')} % 2147483647)"
    return f"""
WITH hb AS (SELECT {phash_user} AS _hb FROM events),
rows AS (SELECT unnest([0, 1, 2, 3]) AS cms_row),
cells AS (
  SELECT cms_row, {sketches.cms_col_sql("cms_row", "_hb")} AS cms_col,
         count(*)::BIGINT AS cms_count
  FROM hb CROSS JOIN rows GROUP BY 1, 2
),
top AS (
  SELECT CAST(user_id AS VARCHAR) AS "user", count(*)::BIGINT AS exact_ct
  FROM events GROUP BY 1 ORDER BY exact_ct DESC, "user" LIMIT 20
),
probes AS (
  SELECT "user", exact_ct, cms_row,
         {sketches.cms_col_sql("cms_row", f'({portable_hash64_sql(chr(34) + "user" + chr(34))} % 2147483647)')} AS cms_col
  FROM top CROSS JOIN rows
)
SELECT p."user", p.exact_ct, min(c.cms_count) AS cms_est
FROM probes p JOIN cells c ON p.cms_row = c.cms_row AND p.cms_col = c.cms_col
GROUP BY 1, 2
"""


SPECS = SPECS + (
    QuerySpec(
        "s_stream_cms_heavy", q_stream_cms_heavy, _oracle_stream_cms(),
        doc="streaming heavy hitters: per-batch CMS grids, additive merge, exact top-20 probe == batch grid",
        tags=("T11", "streaming", "sketch"),
    ),
)


# ---------------------------------------------------------------- r5: windowed top-k at window close
def q_stream_window_topk(spark, sf_dir):
    """Hourly TOP-3 event types, ranked AT WINDOW CLOSE — the Flink
    "HotItems" exercise (keyed window agg -> ProcessWindowFunction sort)
    in Structured Streaming form: a watermarked 1-hour tumble counts per
    (window, event_type) in APPEND mode, and the foreachBatch sink ranks
    each batch's windows as they finalize. The rank-per-batch step is
    correct because append mode finalizes a window atomically: every key
    of window w emits in the single micro-batch whose starting watermark
    first passes w.end, so the batch always holds w's complete key set.
    A far-future sentinel (the established tail-flush pattern, e.g.
    q_stream_left_outer_join) pushes the final watermark past every real
    window; the sentinel's own window never closes and is additionally
    filtered. Oracle: the plain batch hourly top-3.

    Scale shape: streaming state is one count per (window, type) — keyed,
    bounded, watermark-evicted; the per-batch rank sees only the handful
    of rows closing that batch, never the corpus."""
    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinels = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        (F.lit(max_ts).cast("timestamp") + F.expr("INTERVAL 7200 SECONDS")).alias("ts"),
        F.lit("_sentinel").alias("event_type"),
    )
    stream = files.replay(
        ev.select("user_id", "ts", "event_type").unionByName(sentinels),
        batches=3,
        order="ts",
    )
    counts = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("ct"))
        .select(F.col("w.start").cast("long").alias("stt"), "event_type", "ct")
    )

    def rank_batch(b, _i):
        from pyspark.sql import Window as _W

        w = _W.partitionBy("stt").orderBy(F.col("ct").desc(), "event_type")
        return b.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)

    return drain(counts, rank_batch).filter(
        F.col("event_type") != "_sentinel"
    ).select("stt", "rk", "event_type", "ct")


ORACLE_STREAM_WINDOW_TOPK = """
WITH counts AS (
  SELECT epoch(date_trunc('hour', ts))::BIGINT AS stt, event_type,
         count(*)::BIGINT AS ct
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT stt, event_type, ct,
         row_number() OVER (PARTITION BY stt ORDER BY ct DESC, event_type) AS rk
  FROM counts
)
SELECT stt, rk::BIGINT AS rk, event_type, ct FROM ranked WHERE rk <= 3
"""


SPECS = SPECS + (
    QuerySpec(
        "s_stream_window_topk", q_stream_window_topk, ORACLE_STREAM_WINDOW_TOPK,
        doc="streaming hourly top-3 event types ranked at window close (HotItems pattern)",
        tags=("A1", "T1", "streaming", "window"),
    ),
)


# ---------------------------------------------------------------- r5: online CUSUM drift monitor
def q_stream_cusum(spark, sf_dir):
    """Online CUSUM (Page's test) through streaming state: per event type,
    the daily drift statistic against a baseline k (the type's mean daily
    cents — calibrated on the reference window, joined into the stream as
    a broadcast static table: the standard monitor deployment). The
    GroupState is three BIGINTs per key (current-day partial, running
    prefix, running min-prefix) — see streaming/stateful.cusum_stream for
    the prefix closed form that makes the max(0, ...) recurrence both
    bounded-state and SQL-oracle-able. Per-type sentinels flush the last
    real day (a day finalizes when a later one arrives). Oracle: two
    keyed windows (running sum + running min) over the batch daily
    totals, alarm iff S > 2k."""
    from ..streaming.stateful import cusum_stream

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"))
    k_tab = daily.groupBy("event_type").agg(
        F.expr("CAST(sum(cents) DIV count(*) AS BIGINT)").alias("k_cents")
    )
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinels = (
        ev.select("event_type").distinct()
        .select(
            F.lit(-1).cast("long").alias("user_id"),
            (F.lit(max_ts).cast("timestamp") + F.expr("INTERVAL 2 DAYS")).alias("ts"),
            "event_type",
            F.lit(0.0).alias("value"),
        )
    )
    ordered = ev.select("user_id", "ts", "event_type", "value").unionByName(sentinels)
    stream = (
        files.replay(ordered, batches=3, order="ts")
        .join(F.broadcast(k_tab), "event_type")
        .select(
            "event_type",
            "ts",
            F.date_trunc("day", F.col("ts")).cast("long").alias("day_epoch"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_cents"),
            "k_cents",
            (F.col("user_id") < 0).alias("is_sentinel"),
        )
    )
    scored = cusum_stream(stream, key="event_type")
    return drain(scored)


ORACLE_STREAM_CUSUM = """
WITH daily AS (
  SELECT event_type, epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
         sum(round(value * 100)::BIGINT)::BIGINT AS day_cents
  FROM events GROUP BY 1, 2
),
k AS (
  SELECT event_type, (sum(day_cents) // count(*))::BIGINT AS k_cents
  FROM daily GROUP BY 1
),
walk AS (
  SELECT d.event_type, d.day_epoch, d.day_cents,
         sum(d.day_cents - k.k_cents) OVER (
           PARTITION BY d.event_type ORDER BY d.day_epoch)::BIGINT AS prefix,
         k.k_cents
  FROM daily d JOIN k USING (event_type)
),
s AS (
  SELECT event_type, day_epoch, day_cents,
         (prefix - least(0, min(prefix) OVER (
            PARTITION BY event_type ORDER BY day_epoch)))::BIGINT AS s_cents,
         k_cents
  FROM walk
)
SELECT event_type, day_epoch, day_cents, s_cents,
       (CASE WHEN s_cents > 2 * k_cents THEN 1 ELSE 0 END)::BIGINT AS alarm
FROM s
"""


SPECS = SPECS + (
    QuerySpec(
        "s_stream_cusum", q_stream_cusum, ORACLE_STREAM_CUSUM,
        doc="online CUSUM drift monitor: 3-BIGINT GroupState per key via the prefix closed form, alarm at 2k",
        tags=("T2", "T11", "streaming", "stats"),
    ),
)


# ---------------------------------------------------------------- r5: streaming covariance monitor
def q_stream_embedding_cov(spark, sf_dir):
    """Streaming covariance monitor: each micro-batch of the replayed
    embedding stream reduces to its own bounded dim*(dim+1)/2-row
    partial-gram frame (operators/similarity.embedding_gram — one int64
    matmul per Arrow batch) inside a checkpointed foreachBatch (landed
    under batch_id=N, overwrite ⇒ idempotent replay — the exactly-once
    sink model), and the read side merges partials by key-wise SUM.
    Because (n, sij, si, sj) are EXACT BIGINT sums on the milli grid,
    addition is associative/commutative, and each batch lands exactly
    once, the merged covariance equals x_embedding_cov's single-pass
    batch answer REGARDLESS of micro-batch boundaries or replays — the
    online representation-drift monitor for an embedding service at
    100 TB stream rates: ~2080 rows of state per batch, never a
    corpus-sized table, and the same exactness argument the streaming
    CMS (additive) and HLL (register-max) sketches lean on."""
    from ..operators import similarity

    stream = files.replay(load_table(spark, sf_dir, "embeddings"))
    merged = (
        drain(stream, lambda batch, _i: similarity.embedding_gram(batch))
        .groupBy("i", "j")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sij").alias("sij"),
            F.sum("si").alias("si"),
            F.sum("sj").alias("sj"),
        )
    )
    return merged.select(
        F.col("i").cast("bigint").alias("i"),
        F.col("j").cast("bigint").alias("j"),
        F.col("n"),
        F.expr("CAST(sij DIV n - (si DIV n) * (sj DIV n) AS BIGINT)").alias(
            "cov_milli2"
        ),
    )


def _oracle_stream_cov() -> str:
    """Batch-equal by construction, so the oracle is x_embedding_cov's
    single-pass covariance SQL VERBATIM."""
    from .llm import ORACLE_EMBEDDING_COV

    return ORACLE_EMBEDDING_COV


SPECS = SPECS + (
    QuerySpec(
        "s_stream_embedding_cov", q_stream_embedding_cov, _oracle_stream_cov(),
        doc="streaming covariance monitor: per-batch partial grams, exact additive merge == single-pass batch matrix",
        tags=("T11", "streaming", "similarity", "stats"),
    ),
)


# ================================================================ round 6
def q_stream_benford(spark, sf_dir):
    """Benford first-digit audit through the STREAMING engine: the digit
    extraction + (event_type, digit) count runs as a complete-mode
    Structured Streaming aggregate over the multi-file replay, and the
    expectation join / ppm statistics run over the drained final image
    via the exact batch tail (analytics.benford_from_counts — shared
    code, not a copy). AvailableNow + complete mode make the image equal
    to the batch counts by construction, so e_benford's oracle applies
    VERBATIM; what the green row adds is proof the streaming digit
    pipeline (map-side expr + stateful count) reproduces it."""
    from .analytics import benford_digits, benford_from_counts

    stream = files.replay(load_table(spark, sf_dir, "events"))
    counts = benford_digits(stream).groupBy("event_type", "digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    return benford_from_counts(drain(counts, mode="complete"))


def _oracle_stream_benford() -> str:
    from .analytics import ORACLE_BENFORD

    return ORACLE_BENFORD


SPECS = SPECS + (
    QuerySpec(
        "s_stream_benford", q_stream_benford, _oracle_stream_benford(),
        doc="streaming Benford audit: complete-mode digit counts drained to an image, batch expectation tail shared verbatim",
        tags=("T11", "streaming", "stats"),
    ),
)


def q_stream_safety_screen(spark, sf_dir):
    """Blocklist policy screen through the STREAMING engine: the tokenize
    -> broadcast term join -> per-(doc, category) hit count runs as a
    complete-mode aggregate over a chunked documents replay; the category
    rollup (rates + '__any__' union row) is the exact batch tail
    (llm.safety_tail — shared code). Complete mode + AvailableNow make
    the drained per-doc image equal to the batch counts by construction,
    so x_safety_screen's oracle applies VERBATIM; the green row proves
    the moderation pre-filter works incrementally (the deployment shape:
    screen documents as they arrive, not in a nightly batch)."""
    from ..functions import tokenize
    from ..operators import dedup
    from .llm import safety_tail, safety_terms_df

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = files.replay(d, order="doc_id")
    toks = stream.select(
        "doc_id",
        F.explode(
            tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
        ).alias("term"),
    )
    per_doc = (
        toks.join(F.broadcast(safety_terms_df(spark)), "term")
        .groupBy("doc_id", "category")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    image = drain(per_doc, mode="complete")
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("total_docs")
    )
    return safety_tail(image, n_docs)


def _oracle_stream_safety() -> str:
    from .llm import ORACLE_SAFETY_SCREEN

    return ORACLE_SAFETY_SCREEN


SPECS = SPECS + (
    QuerySpec(
        "s_stream_safety_screen", q_stream_safety_screen, _oracle_stream_safety(),
        doc="streaming blocklist screen: complete-mode per-doc hit counts drained to an image, batch rollup shared verbatim",
        tags=("T11", "streaming", "filter", "safety"),
    ),
)


def q_stream_holt(spark, sf_dir):
    """Holt level+trend smoothing through streaming state: daily totals
    accumulate in GroupState per event type and the dyadic recursion
    fires once per day rollover (streaming/stateful.holt_stream — five
    BIGINTs of state per key). Per-type sentinels flush the last real
    day. The drained append stream is exactly the batch recursion's
    row set, so e_holt_winters' recursive-CTE oracle applies VERBATIM
    (day_epoch converted back to DATE at read time); the green row
    proves the one-day-at-a-time state walk reproduces the full-history
    recursion on an ordered replay."""
    from ..streaming.stateful import holt_stream

    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinels = (
        ev.select("event_type").distinct()
        .select(
            F.lit(-1).cast("long").alias("user_id"),
            (F.lit(max_ts).cast("timestamp") + F.expr("INTERVAL 2 DAYS")).alias("ts"),
            "event_type",
            F.lit(0.0).alias("value"),
        )
    )
    ordered = ev.select("user_id", "ts", "event_type", "value").unionByName(sentinels)
    stream = (
        files.replay(ordered, batches=3, order="ts")
        .select(
            "event_type",
            "ts",
            F.date_trunc("day", F.col("ts")).cast("long").alias("day_epoch"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_cents"),
            (F.col("user_id") < 0).alias("is_sentinel"),
        )
    )
    scored = holt_stream(stream, key="event_type")
    out = drain(scored)
    return out.select(
        "event_type",
        F.to_date(F.timestamp_seconds(F.col("day_epoch"))).alias("dt"),
        "day_cents",
        "pred_cents",
        "level_cents",
        "trend_cents",
    )


def _oracle_stream_holt() -> str:
    from .analytics import ORACLE_HOLT_WINTERS

    return ORACLE_HOLT_WINTERS


SPECS = SPECS + (
    QuerySpec(
        "s_stream_holt", q_stream_holt, _oracle_stream_holt(),
        doc="online Holt level+trend smoothing: 5-BIGINT GroupState per key, day-rollover recursion == batch recursive CTE",
        tags=("T2", "T11", "streaming", "timeseries"),
    ),
)


def q_stream_entropy_filter(spark, sf_dir):
    """The unigram-entropy repetitiveness filter through the STREAMING
    engine: per-(doc, token) counts run as a complete-mode aggregate
    over the chunked documents replay; the surprisal/entropy rollup and
    top-20 selection are the exact batch tail (llm.entropy_tail — shared
    code). Complete mode + AvailableNow make the drained count image
    equal the batch counts by construction, so x_entropy_filter's oracle
    applies VERBATIM; the green row adds proof the quality screen works
    incrementally over arriving documents."""
    from ..functions import tokenize
    from ..operators import dedup
    from .llm import entropy_tail

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = files.replay(d, order="doc_id")
    tc = (
        stream.select(
            "doc_id",
            F.explode(
                tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
            ).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return entropy_tail(drain(tc, mode="complete"))


def _oracle_stream_entropy() -> str:
    from .llm import ORACLE_ENTROPY_FILTER

    return ORACLE_ENTROPY_FILTER


SPECS = SPECS + (
    QuerySpec(
        "s_stream_entropy_filter", q_stream_entropy_filter, _oracle_stream_entropy(),
        doc="streaming entropy screen: complete-mode (doc, token) counts drained to an image, batch rollup shared verbatim",
        tags=("T11", "streaming", "quality"),
    ),
)


# ---------------------------------------------------------------- r7: streaming bottom-k sample
def q_stream_bottomk(spark, sf_dir):
    """Streaming uniform sample via PER-BUCKET HASH MINIMA (the k-partition
    bottom-k sketch): each event hashes to one of 32 buckets with a salted
    portable hash; the sample is, per bucket, the event carrying the
    smallest hash. min() is associative/commutative and the salted hash is
    a pure function of the row, so the maintained sample is EXACTLY
    invariant to micro-batch boundaries, replays, and arrival order — the
    streaming-safe substitute for reservoir sampling (whose state is
    order-dependent and thus unreplayable); x_reservoir_sample is the
    batch complement. Per batch a bounded 32-row min-grid lands under
    batch_id=N (overwrite ⇒ idempotent, the exactly-once model shared
    with s_stream_cms_heavy); the read side min-merges the grids, which
    equals the single-pass batch minima by associativity — the oracle is
    the direct batch argmin.

    Scale/state: O(buckets) state per batch, never data-proportional; at
    100 TB rates the per-batch grid is a map-side-combinable 32-row
    aggregate. struct(h, event_id, user_id) min gives a total order
    (event_id unique), so ties cannot split across engines."""
    from ..functions.hashing import portable_hash64

    def _grid(df: DataFrame, _i: int) -> DataFrame:
        h = portable_hash64(
            F.concat(F.lit("bk:"), F.col("event_id").cast("string"))
        )
        return (
            df.select(
                F.pmod(h, F.lit(32)).cast("int").alias("bucket"),
                F.struct(
                    h.alias("h"),
                    F.col("event_id").alias("event_id"),
                    F.col("user_id").alias("user_id"),
                ).alias("s"),
            )
            .groupBy("bucket")
            .agg(F.min("s").alias("s"))
        )

    ev = files.replay(load_table(spark, sf_dir, "events"))
    merged = drain(ev, _grid).groupBy("bucket").agg(F.min("s").alias("s"))
    return merged.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("s.h").alias("min_hash"),
        F.col("s.event_id").alias("event_id"),
        F.col("s.user_id").alias("user_id"),
    ).orderBy("bucket")


def _oracle_stream_bottomk() -> str:
    from ..functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("'bk:' || event_id::VARCHAR")
    return f"""
WITH hb AS (
  SELECT ({h}) % 32 AS bucket, ({h}) AS h, event_id, user_id
  FROM events
),
r AS (
  SELECT bucket, h, event_id, user_id,
         row_number() OVER (PARTITION BY bucket ORDER BY h, event_id, user_id) AS rk
  FROM hb
)
SELECT bucket::BIGINT AS bucket, h::BIGINT AS min_hash, event_id, user_id
FROM r WHERE rk = 1 ORDER BY bucket
"""


SPECS = SPECS + (
    QuerySpec("s_stream_bottomk", q_stream_bottomk, _oracle_stream_bottomk(),
              doc="streaming per-bucket hash-minimum sample (order/batch/replay-invariant bottom-k), min-merged grids == batch argmin",
              tags=("stream", "sampling")),
)


# ---------------------------------------------------------------- r7: streaming Welch A/B monitor
def q_stream_welch_t2(spark, sf_dir):
    """Streaming A/B significance monitor: per micro-batch, the 'click'
    and 'view' populations reduce to their exact BIGINT cent MOMENTS
    (n, Σx, Σx²) — a 1-row grid landed under batch_id=N (overwrite ⇒
    idempotent replay, the s_stream_cms_heavy exactly-once model); the
    read side SUMS the grids (moments are additive, so the merge equals
    the single-pass batch moments regardless of micro-batch boundaries)
    and evaluates the identical Welch t² scalar as e_welch_t2 — whose
    oracle this query shares VERBATIM. This is the production shape of an
    online experiment dashboard: O(1) state per batch, the statistic
    recomputable at any watermark, no raw-event retention.

    Scale/state: a 1-row conditional aggregate per batch (map-side
    combinable), KBs of landed state per trigger at any stream rate."""
    def _moments(df: DataFrame, _i: int) -> DataFrame:
        cents = F.expr("CAST(round(value * 100) AS BIGINT)")
        is_a = F.col("event_type") == "click"
        return df.filter(F.col("event_type").isin("click", "view")).agg(
            F.coalesce(F.sum(F.when(is_a, 1).otherwise(0)), F.lit(0)).cast("bigint").alias("n_a"),
            F.coalesce(F.sum(F.when(is_a, cents).otherwise(0)), F.lit(0)).cast("bigint").alias("s_a"),
            F.coalesce(F.sum(F.when(is_a, cents * cents).otherwise(0)), F.lit(0)).cast("bigint").alias("ss_a"),
            F.coalesce(F.sum(F.when(~is_a, 1).otherwise(0)), F.lit(0)).cast("bigint").alias("n_b"),
            F.coalesce(F.sum(F.when(~is_a, cents).otherwise(0)), F.lit(0)).cast("bigint").alias("s_b"),
            F.coalesce(F.sum(F.when(~is_a, cents * cents).otherwise(0)), F.lit(0)).cast("bigint").alias("ss_b"),
        )

    ev = files.replay(load_table(spark, sf_dir, "events"))
    m = drain(ev, _moments).agg(
        F.sum("n_a").cast("bigint").alias("n_a"),
        F.sum("s_a").cast("bigint").alias("s_a"),
        F.sum("ss_a").cast("bigint").alias("ss_a"),
        F.sum("n_b").cast("bigint").alias("n_b"),
        F.sum("s_b").cast("bigint").alias("s_b"),
        F.sum("ss_b").cast("bigint").alias("ss_b"),
    )
    return m.select(
        "n_a",
        "n_b",
        F.expr("s_a div greatest(n_a, 1)").alias("mean_a_cents"),
        F.expr("s_b div greatest(n_b, 1)").alias("mean_b_cents"),
        F.expr(
            "CASE WHEN n_a > 1 AND n_b > 1 AND "
            "((CAST(n_a * ss_a - s_a * s_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * (n_a - 1))) / n_a "
            " + (CAST(n_b * ss_b - s_b * s_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * (n_b - 1))) / n_b) > 0 "
            "THEN CAST(floor(1000000.0 * "
            "  (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b) * "
            "  (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b) / "
            "  ((CAST(n_a * ss_a - s_a * s_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * (n_a - 1))) / n_a "
            "   + (CAST(n_b * ss_b - s_b * s_b AS DOUBLE) / (CAST(n_b AS DOUBLE) * (n_b - 1))) / n_b)"
            ") AS BIGINT) ELSE NULL END"
        ).alias("t2_micro"),
    )


def _oracle_stream_welch() -> str:
    from .analytics import ORACLE_WELCH_T2

    return ORACLE_WELCH_T2


SPECS = SPECS + (
    QuerySpec("s_stream_welch_t2", q_stream_welch_t2, _oracle_stream_welch(),
              doc="streaming Welch t-squared from additive per-batch BIGINT moment grids; shares e_welch_t2's oracle verbatim",
              tags=("stream", "stats")),
)


# ---------------------------------------------------------------- r7: streaming OHLC bars
def q_stream_ohlc(spark, sf_dir):
    """Daily OHLC bars maintained INCREMENTALLY: each micro-batch lands its
    per-day partial bars — n, min/max cents, and the arg-extremes as
    struct(us, event_id, cents) min/max keys — under batch_id=N
    (idempotent overwrite, the s_stream_cms_heavy exactly-once model);
    the read side merges by the same min/max/sum, which equals the
    single-pass batch bars because min/max over a TOTAL key order and sum
    are associative-commutative — so e_ohlc's oracle applies VERBATIM.
    The production shape of candlestick/metric-bar maintenance: per-batch
    state is O(|days touched|), the merge never re-reads raw events.

    Scale/state: one day-keyed partial aggregate per batch (map-side
    combinable), bar-count-bounded landed state per trigger."""
    def _bars(df: DataFrame, _i: int) -> DataFrame:
        cents = F.expr("CAST(round(value * 100) AS BIGINT)")
        base = df.filter(F.col("event_type") == "purchase").select(
            F.to_date("ts").alias("dt"),
            F.unix_micros(F.col("ts")).alias("us"),
            "event_id",
            cents.alias("cents"),
        )
        key = F.struct(F.col("us"), F.col("event_id"), F.col("cents"))
        return base.groupBy("dt").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trades"),
            F.min(key).alias("o_key"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max(key).alias("c_key"),
        )

    ev = files.replay(load_table(spark, sf_dir, "events"))
    merged = drain(ev, _bars).groupBy("dt").agg(
        F.sum("n_trades").cast("bigint").alias("n_trades"),
        F.min("o_key").alias("o_key"),
        F.max("high_cents").alias("high_cents"),
        F.min("low_cents").alias("low_cents"),
        F.max("c_key").alias("c_key"),
    )
    return merged.select(
        "dt", "n_trades",
        F.col("o_key.cents").alias("open_cents"),
        "high_cents", "low_cents",
        F.col("c_key.cents").alias("close_cents"),
    ).orderBy("dt")


def _oracle_stream_ohlc() -> str:
    from .analytics import ORACLE_OHLC

    return ORACLE_OHLC


SPECS = SPECS + (
    QuerySpec("s_stream_ohlc", q_stream_ohlc, _oracle_stream_ohlc(),
              doc="streaming daily OHLC via mergeable per-batch partial bars (arg-extreme struct keys); shares e_ohlc's oracle verbatim",
              tags=("stream", "timeseries")),
)


# ---------------------------------------------------------------- r7: streaming new-user split
def q_stream_new_users(spark, sf_dir):
    """The new-vs-returning daily split maintained INCREMENTALLY: each
    micro-batch lands its distinct (user, day) pairs AND its per-user min
    day under batch_id=N (idempotent overwrite); the read side re-distincts
    the pair union and min-merges first-seen — both associative, so the
    merged state equals the single-pass batch frames regardless of batch
    boundaries and e_new_vs_returning's oracle applies VERBATIM. This is
    the s_stream_dedup_incremental exact-index pattern applied to growth
    accounting: the landed (user, day) index is the only
    data-proportional state, and it is exactly the state the batch query
    scans anyway.

    Scale/state: per batch one distinct + one min agg, both
    map-side-combinable and bounded by the batch's own user set."""
    ud = drain(
        files.replay(load_table(spark, sf_dir, "events")),
        lambda batch, _i: batch.select("user_id", F.to_date("ts").alias("dt")).distinct(),
    ).distinct()
    first = ud.groupBy("user_id").agg(F.min("dt").alias("first_seen"))
    return (
        ud.join(first, "user_id")
        .groupBy("dt")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
            F.coalesce(F.sum(F.when(F.col("dt") == F.col("first_seen"), 1).otherwise(0)), F.lit(0))
            .cast("bigint").alias("n_new"),
            F.coalesce(F.sum(F.when(F.col("dt") != F.col("first_seen"), 1).otherwise(0)), F.lit(0))
            .cast("bigint").alias("n_returning"),
        )
        .orderBy("dt")
    )


def _oracle_stream_new_users() -> str:
    from .analytics import ORACLE_NEW_VS_RETURNING

    return ORACLE_NEW_VS_RETURNING


SPECS = SPECS + (
    QuerySpec("s_stream_new_users", q_stream_new_users, _oracle_stream_new_users(),
              doc="incremental new-vs-returning split from an idempotent landed (user, day) index; shares e_new_vs_returning's oracle verbatim",
              tags=("stream", "analytics")),
)


def q_stream_quantile(spark, sf_dir):
    """Streaming mergeable histogram-quantile: each replayed micro-batch
    reduces its event values to a fixed-width bin histogram (value cents //
    1000 — the e_hist_quantile sketch shape) inside a checkpointed
    foreachBatch, landed under batch_id=N (overwrite ⇒ idempotent replay);
    the read side merges histograms by bin-wise SUM — addition is
    associative/commutative, so the merged table equals the single-pass
    batch histogram regardless of micro-batch boundaries — and answers
    p50/p90/p99 with exact integer ceiling ranks over a broadcast
    triangular cumsum of the ≤~hundreds-row bin table. The online latency/
    spend-quantile monitor at stream scale: per-batch state is the bin
    table (KBs), never the value stream."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")

    def _hist(batch: DataFrame, _i: int) -> DataFrame:
        return (
            batch.select(F.floor(cents / F.lit(1000)).cast("bigint").alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    hist = (
        drain(files.replay(load_table(spark, sf_dir, "events")), _hist)
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
        .cache()
    )
    n = hist.agg(F.sum("cnt").alias("n_rows"))
    a, b = hist.alias("a"), hist.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.bin") <= F.col("a.bin"))
        .groupBy(F.col("a.bin").alias("bin"))
        .agg(F.sum(F.col("b.cnt")).alias("cum"))
    )
    qs = spark.createDataFrame([(500,), (900,), (990,)], ["q_milli"])
    ranks = qs.crossJoin(F.broadcast(n)).withColumn(
        "rank", F.expr("(q_milli * n_rows + 999) div 1000")
    )
    return (
        ranks.join(F.broadcast(cum), F.col("cum") >= F.col("rank"))
        .groupBy("q_milli", "n_rows", "rank")
        .agg(F.min("bin").alias("bin"))
        .select(
            "q_milli",
            "n_rows",
            "rank",
            "bin",
            ((F.col("bin") + 1) * 1000 - 1).alias("approx_upper_cents"),
        )
    )


ORACLE_STREAM_QUANTILE = """
WITH bins AS (
  SELECT floor(floor(value * 100 + 0.5) / 1000)::BIGINT AS bin, count(*)::BIGINT AS cnt
  FROM events GROUP BY 1
),
n AS (SELECT sum(cnt)::BIGINT AS n_rows FROM bins),
cum AS (
  SELECT a.bin, sum(b.cnt)::BIGINT AS cum
  FROM bins a JOIN bins b ON b.bin <= a.bin
  GROUP BY a.bin
),
qs AS (SELECT unnest([500, 900, 990]) AS q_milli),
ranks AS (
  SELECT q_milli, n_rows, (q_milli * n_rows + 999) // 1000 AS rank
  FROM qs CROSS JOIN n
)
SELECT r.q_milli, r.n_rows, r.rank, min(c.bin) AS bin,
       (min(c.bin) + 1) * 1000 - 1 AS approx_upper_cents
FROM ranks r JOIN cum c ON c.cum >= r.rank
GROUP BY 1, 2, 3
"""


SPECS = SPECS + (
    QuerySpec("s_stream_quantile", q_stream_quantile, ORACLE_STREAM_QUANTILE,
              doc="streaming mergeable histogram-quantile (p50/p90/p99): per-batch bin grids landed idempotently, merged by sum",
              tags=("stream", "sketch")),
)


def q_stream_burst(spark, sf_dir):
    """Streaming rate-anomaly monitor: each micro-batch lands its own
    (event_type, hour) count grid under batch_id=N (overwrite ⇒ idempotent
    replay); the read side merges grids by SUM — hourly counts are
    additive, so the merged table equals the batch hourly table regardless
    of micro-batch boundaries — then applies the e_burst_hours
    cross-multiplied >= 2.5x-average filter. The online incident shortlist
    at stream rates: per-batch state is |types|x|active hours| rows, and
    the oracle is the batch twin's VERBATIM (same semantics, streaming
    execution path)."""
    def _hourly(batch: DataFrame, _i: int) -> DataFrame:
        return batch.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).cast("long").alias("hr")
        ).agg(F.count(F.lit(1)).alias("cnt"))

    hourly = (
        drain(files.replay(load_table(spark, sf_dir, "events")), _hourly)
        .groupBy("event_type", "hr")
        .agg(F.sum("cnt").alias("cnt"))
        .cache()
    )
    totals = hourly.groupBy("event_type").agg(
        F.sum("cnt").alias("_tot"), F.count(F.lit(1)).alias("_nh")
    )
    return (
        hourly.join(F.broadcast(totals), "event_type")
        .filter(F.expr("cnt * _nh * 10 >= 25 * _tot"))
        .select(
            "event_type",
            F.col("hr").cast("bigint").alias("hr"),
            F.col("cnt").cast("bigint").alias("cnt"),
        )
        .orderBy("event_type", "hr")
    )


def _oracle_stream_burst() -> str:
    from .r8 import ORACLE_BURST_HOURS

    return ORACLE_BURST_HOURS


SPECS = SPECS + (
    QuerySpec("s_stream_burst", q_stream_burst, _oracle_stream_burst(),
              doc="incremental hourly-count grids merged by sum, then the >=2.5x-average burst filter; shares e_burst_hours' oracle verbatim",
              tags=("stream", "stats")),
)


# ===================================================================== r9:
# streaming twins of the r8 batch heavies with natural incremental forms —
# 13-gram decontamination (persisted gram index probed per batch, the
# s_stream_dedup_incremental pattern) and LSH band health (mergeable
# per-batch bucket grids, the s_stream_quantile pattern).


def q_stream_contam_13gram(spark, sf_dir):
    """Streaming benchmark decontamination at the 13-token gram: the TRAIN
    split's distinct 13-grams are PERSISTED once (the index build — at
    100 TB this is the write-time artifact a decontamination service keeps
    hot), then the EVAL docs stream in micro-batches and each batch probes
    the index inside a checkpointed foreachBatch: distinct grams per
    incoming doc, one gram-keyed join against the index, per-doc
    (n_grams, n_hit) landed under batch_id=N (overwrite ⇒ idempotent
    replay). Batch boundaries cannot change results — each eval doc's
    verdict depends only on that doc and the static index, never on other
    eval docs — so the read-back equals the batch twin and the oracle is
    ORACLE_CONTAM_13GRAM VERBATIM. Per-batch state: the incoming docs'
    gram lists; the index side stays parquet-pruned to the join.

    The gram index is a STANDING artifact (io.ensure_dataset under the
    warehouse root, fingerprinted by the documents table's footer stats)
    — built on first touch per sf, reused by every later invocation and
    session, exactly like the persisted IVF index. A decontamination
    service does not re-shingle its train corpus per probe."""
    from ..io import ensure_dataset
    from ..operators import dedup
    from .llm import _docs_par
    from .r10 import _sf_tag, _warehouse_root, corpus_token

    d = _docs_par(spark, sf_dir)

    # ---- index ensure (batch, once per sf): train split -> distinct 13-grams.
    # Fingerprint folds in the gram width k, an algorithm version, and the
    # documents table's FOOTER stats (corpus_token — no corpus-count job in
    # the probe path) so a shingling change or a corpus regeneration
    # rebuilds instead of serving stale grams; version 1 =
    # whitespace-normalized 13-gram md5. Publication is atomic (fp-addressed
    # immutable dir, see io.ensure_dataset).
    _GRAM_INDEX_VERSION = 1
    train = d.filter(F.col("doc_id") % 17 != 0)
    idx_dir = ensure_dataset(
        str(_warehouse_root() / f"contam13_{_sf_tag(sf_dir)}"),
        f"v{_GRAM_INDEX_VERSION}-k13-{corpus_token(sf_dir, 'documents')}",
        lambda p: dedup.shingles(train, k=13)
        .select("shingle")
        .distinct()
        .write.parquet(p),
    )

    # ---- eval docs as a replayed stream
    stream = files.replay(d.filter(F.col("doc_id") % 17 == 0))

    def _probe(batch: DataFrame, _i: int) -> DataFrame:
        s = batch.sparkSession
        g = dedup.shingles(batch, k=13)
        idx = read_parquet(s, idx_dir)
        hits = g.join(idx, "shingle").groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_hit")
        )
        per_doc = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
        return per_doc.join(hits, "doc_id")

    return (
        drain(stream, _probe)
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.expr("n_hit * 1000 div n_grams").cast("bigint").alias("contam_milli"),
        )
        .orderBy("doc_id")
    )


def q_stream_band_health(spark, sf_dir):
    """Streaming LSH index-health monitor: each micro-batch reduces its
    docs to the (band, band_sig) bucket-count grid inside a checkpointed
    foreachBatch, landed under batch_id=N (overwrite ⇒ idempotent replay);
    the read side merges grids by bucket-wise SUM — bucket membership
    counts are additive across batches because a doc lands in exactly one
    batch — then applies the x_lsh_band_health rollup (colliding buckets
    only, candidate-pair volume computed ARITHMETICALLY from merged sizes,
    never by expanding pairs). The quadratic-blowup early-warning running
    continuously as docs ingest: per-batch state is the batch's bucket
    grid; the merged table is the same band-signature index the batch
    query reads. Oracle: ORACLE_LSH_BAND_HEALTH VERBATIM."""
    from ..operators import dedup
    from .llm import _docs_par

    d = _docs_par(spark, sf_dir)
    stream = files.replay(d)

    def _grid(batch: DataFrame, _i: int) -> DataFrame:
        return (
            dedup.doc_bands(dedup.shingles(batch))
            .groupBy("band", "band_sig")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    buckets = (
        drain(stream, _grid)
        .groupBy("band", "band_sig")
        .agg(F.sum("cnt").alias("sz"))
        .filter(F.col("sz") > 1)
    )
    return (
        buckets.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.sum(F.expr("sz * (sz - 1) div 2")).cast("bigint").alias("n_cand_pairs"),
            F.max("sz").cast("bigint").alias("max_bucket"),
        )
        .orderBy("band")
    )


def _oracle_stream_contam_13gram() -> str:
    from .r8 import ORACLE_CONTAM_13GRAM

    return ORACLE_CONTAM_13GRAM


def _oracle_stream_band_health() -> str:
    from .r8 import ORACLE_LSH_BAND_HEALTH

    return ORACLE_LSH_BAND_HEALTH


SPECS = SPECS + (
    QuerySpec("s_stream_contam_13gram", q_stream_contam_13gram, _oracle_stream_contam_13gram(),
              doc="streaming 13-gram decontamination: persisted train-gram index probed per micro-batch; batch oracle verbatim",
              tags=("stream", "llm", "dedup")),
    QuerySpec("s_stream_band_health", q_stream_band_health, _oracle_stream_band_health(),
              doc="streaming LSH band health: per-batch bucket grids merged by sum, quadratic term computed from sizes; batch oracle verbatim",
              tags=("stream", "llm", "dedup")),
)


def q_stream_char_class(spark, sf_dir):
    """Streaming corpus-composition monitor: each micro-batch reduces its
    docs to the per-source char-class count grid (doc count, chars, alpha/
    digit/space sums — all pure string expressions, no Python) inside a
    checkpointed foreachBatch, landed under batch_id=N (overwrite ⇒
    idempotent replay); the read side merges grids by SUM — every column
    is additive — and computes the milli ratios on the merged exact
    integers, so the result equals the batch twin regardless of
    micro-batch boundaries. The live "did the feed turn into markup?"
    screen as docs ingest; per-batch state is |sources| rows. Oracle:
    ORACLE_CHAR_CLASS_MIX VERBATIM."""
    from .llm import _docs_par

    d = _docs_par(spark, sf_dir)
    stream = files.replay(d)

    def _grid(batch: DataFrame, _i: int) -> DataFrame:
        return (
            batch.select(
                "source",
                F.length("text").cast("bigint").alias("_n"),
                F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", "")).cast("bigint").alias("_a"),
                F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).cast("bigint").alias("_d"),
                F.length(F.regexp_replace(F.col("text"), "[^ ]", "")).cast("bigint").alias("_s"),
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("_n").cast("bigint").alias("n_chars"),
                F.sum("_a").cast("bigint").alias("ca"),
                F.sum("_d").cast("bigint").alias("cd"),
                F.sum("_s").cast("bigint").alias("cs"),
            )
        )

    merged = (
        drain(stream, _grid)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("ca").cast("bigint").alias("_ca"),
            F.sum("cd").cast("bigint").alias("_cd"),
            F.sum("cs").cast("bigint").alias("_cs"),
        )
    )
    return (
        merged.select(
            "source",
            "n_docs",
            "n_chars",
            F.expr("_ca * 1000 div n_chars").cast("bigint").alias("alpha_milli"),
            F.expr("_cd * 1000 div n_chars").cast("bigint").alias("digit_milli"),
            F.expr("_cs * 1000 div n_chars").cast("bigint").alias("space_milli"),
            F.expr("(n_chars - _ca - _cd - _cs) * 1000 div n_chars")
            .cast("bigint")
            .alias("other_milli"),
        )
        .orderBy("source")
    )


def _oracle_stream_char_class() -> str:
    from .r9 import ORACLE_CHAR_CLASS_MIX

    return ORACLE_CHAR_CLASS_MIX


SPECS = SPECS + (
    QuerySpec("s_stream_char_class", q_stream_char_class, _oracle_stream_char_class(),
              doc="streaming per-source char-class composition: additive count grids merged by sum; batch oracle verbatim",
              tags=("stream", "llm", "text")),
)


def q_stream_seasonal_index(spark, sf_dir):
    """Streaming seasonal-profile monitor: each micro-batch lands its
    (event_type, day) PARTIAL CENT SUMS (per-row floor(value·100 + 0.5) —
    exact on the money grid and additive, which is why the batch twin
    defines daily totals this way) under batch_id=N inside a checkpointed
    foreachBatch (overwrite ⇒ idempotent replay); the read side merges by
    sum to the identical daily grid and applies e_seasonal_index's
    cross-multiplied dow rollup. Per-batch state is |types|×|active days|
    rows; the oracle is ORACLE_SEASONAL_INDEX VERBATIM."""
    def _daily(batch: DataFrame, _i: int) -> DataFrame:
        return batch.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")).alias("c")
        )

    daily = (
        drain(files.replay(load_table(spark, sf_dir, "events")), _daily)
        .groupBy("event_type", "day")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .withColumn(
            # tz-independent dow (r9 advice; keep identical to e_seasonal_index)
            "dow",
            F.expr("(datediff(day, date'1970-01-01') + 4) % 7"),
        )
        .cache()
    )
    per_dow = daily.groupBy("event_type", "dow").agg(
        F.sum("c").cast("bigint").alias("sum_dow"),
        F.count(F.lit(1)).cast("bigint").alias("n_days_dow"),
    )
    per_type = daily.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("sum_all"),
        F.count(F.lit(1)).cast("bigint").alias("n_days_all"),
    )
    return (
        per_dow.join(F.broadcast(per_type), "event_type")
        .select(
            "event_type",
            F.col("dow").cast("bigint").alias("dow"),
            "n_days_dow",
            F.expr("sum_dow * n_days_all * 1000 div (sum_all * n_days_dow)")
            .cast("bigint")
            .alias("index_milli"),
        )
        .orderBy("event_type", "dow")
    )


def _oracle_stream_seasonal_index() -> str:
    from .r9 import ORACLE_SEASONAL_INDEX

    return ORACLE_SEASONAL_INDEX


SPECS = SPECS + (
    QuerySpec("s_stream_seasonal_index", q_stream_seasonal_index, _oracle_stream_seasonal_index(),
              doc="streaming dow seasonal index: additive per-batch cent grids merged by sum; batch oracle verbatim",
              tags=("stream", "stats", "timeseries")),
)


def q_stream_shard_skew(spark, sf_dir):
    """Streaming partition-balance monitor: each micro-batch lands its
    per-shard (doc count, token count) grid — both ADDITIVE — inside a
    checkpointed foreachBatch under batch_id=N (overwrite ⇒ idempotent
    replay); the read side merges by sum and applies x_shard_skew's exact
    cross-multiplied rollup. The live straggler predictor as docs ingest:
    a hot shard shows up in the merged ratio long before a real job
    discovers it as a 10× task. Per-batch state is 32 rows; oracle is
    x_shard_skew's VERBATIM."""
    from ..functions.hashing import portable_hash64
    from ..operators import dedup as _dedup
    from .llm import _docs_par

    d = _docs_par(spark, sf_dir)
    stream = files.replay(d)

    def _grid(batch: DataFrame, _i: int) -> DataFrame:
        toks = _dedup.whitespace_tokens(_dedup.normalize_text(F.col("text")))
        return (
            batch.select(
                F.pmod(
                    portable_hash64(
                        F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))
                    ),
                    F.lit(32),
                ).alias("shard"),
                F.size(toks).cast("bigint").alias("_nt"),
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("_nt").cast("bigint").alias("n_tokens"),
            )
        )

    per = (
        drain(stream, _grid)
        .groupBy("shard")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_shard_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_shard_tokens"),
        F.expr("max(n_tokens) * count(1) * 1000 div sum(n_tokens)")
        .cast("bigint")
        .alias("skew_milli"),
    )


def _oracle_stream_shard_skew() -> str:
    from .r9 import _oracle_shard_skew

    return _oracle_shard_skew()


SPECS = SPECS + (
    QuerySpec("s_stream_shard_skew", q_stream_shard_skew, _oracle_stream_shard_skew(),
              doc="streaming shard-balance monitor: additive per-batch shard grids merged by sum; batch oracle verbatim",
              tags=("stream", "llm", "scale")),
)

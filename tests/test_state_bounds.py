"""Wall-clock state-boundedness of the stateful streaming operators (r10
verdict item 6): the per-key state shapes are documented, but nothing
asserted they stay bounded under a LONG replay. These tests drive two
stateful ops over many micro-batches and pin the state-store metrics
(stateOperators[].numRowsTotal from StreamingQueryProgress):

- trailing_features_stream (applyInPandasWithState, NoTimeout): one state
  row per KEY holding the pruned sliding buffer — numRowsTotal must
  plateau at the distinct-key count and never track event count.
- daily_first_stream (watermarked dropDuplicates, the T3/DwdTraffic
  UniqueVisitorDetail analog): state rows are (key, day) entries EVICTED
  by the watermark — over a multi-day replay the store must stay a
  bounded window of recent days, never the full history.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_flink_230422_spark.sources import files
from gmall_flink_230422_spark.streaming import stateful


def _state_rows(progresses) -> list[int]:
    out = []
    for p in progresses:
        ops = p.get("stateOperators") or []
        if ops:
            out.append(int(ops[0]["numRowsTotal"]))
    return out


def _run_stream(stream, build, sink, ck) -> list[int]:
    q = (
        build(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _state_rows(q.recentProgress)


def test_trailing_features_state_plateaus_at_key_count(spark, tmp_path):
    n_users, n_batches, horizon = 6, 12, 3600
    rows = []
    eid = 0
    for b in range(n_batches):
        for u in range(n_users):
            for j in range(2):  # 2 events per user per hour-batch
                rows.append((eid, u, "purchase" if j else "view",
                             b * 3600 + 60 * j, 100 + eid, b))
                eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, "
        "epoch bigint, cents bigint, _chunk int",
    )
    stream = files.replay(df, batches=n_batches, order="_chunk").drop("_chunk")

    state = _run_stream(
        stream,
        lambda s: stateful.trailing_features_stream(s, horizon_s=horizon),
        str(tmp_path / "sink"), str(tmp_path / "ck"),
    )
    assert len(state) >= n_batches, f"missing progress: {state}"
    # one state row per key, from the first batch (all users appear in
    # every batch) to the last — NEVER per event (which would read 12x)
    assert max(state) == n_users, state
    tail = state[len(state) // 2:]
    assert all(v == n_users for v in tail), f"state did not plateau: {state}"


def test_daily_first_state_evicted_by_watermark(spark, tmp_path):
    n_users, n_days = 8, 6
    rows = []
    for d in range(n_days):
        for u in range(n_users):
            for h in (1, 13):  # two events per user per day
                rows.append((u, d * 86400 + h * 3600, d))
    df = spark.createDataFrame(
        rows, "mid bigint, epoch bigint, _chunk int"
    ).withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")
    stream = files.replay(df, batches=n_days, order="_chunk").drop("_chunk")

    state = _run_stream(
        stream,
        lambda s: stateful.daily_first_stream(s, ["mid"], "ts"),
        str(tmp_path / "sink"), str(tmp_path / "ck"),
    )
    assert state, "no stateOperators progress recorded"
    # full history would be n_users*n_days rows; the watermark must keep
    # the store to a sliding window of recent days
    assert max(state) < n_users * n_days, f"state never evicted: {state}"
    assert max(state) <= 3 * n_users, f"state window too wide: {state}"
    # the dedup itself still produced every (user, day) first-visit
    out = spark.read.parquet(str(tmp_path / "sink"))
    assert out.count() == n_users * n_days

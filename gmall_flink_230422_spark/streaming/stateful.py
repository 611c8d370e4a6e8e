"""Structured-Streaming stateful operators — the true streaming forms of
SURVEY §2.5 T2/T3/T5, sharing semantics with operators.stateful (whose batch
forms are the DuckDB-checked oracles).

  - daily_first_stream  (T3): dropDuplicatesWithinWatermark on (key, day)
    — one state entry per (key, day), EXPIRED once the watermark passes
    its first event + 1 day, exactly where the reference used a 1-day
    StateTtlConfig (DwdTrafficUniqueVisitorDetail.java:62-65).
  - repair_is_new_stream (T2): applyInPandasWithState with a per-visitor
    first-seen-date state — the GroupState analog of the reference's
    ValueState<lastVisitDate> (BaseLogApp.java:56-91).
  - bounce_stream (T5): applyInPandasWithState with event-time timeout —
    the CEP match ∪ timeout union (DwdTrafficUserJumpDetail.java:48-82):
    an entry whose successor doesn't arrive within the horizon is emitted on
    timeout; an entry followed by another entry is emitted immediately.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def daily_first_stream(df: DataFrame, key_cols: list[str], ts_col: str, watermark: str = "1 day") -> DataFrame:
    """T3 streaming: first event per (key, day); state evicted by watermark.

    ``dropDuplicatesWithinWatermark``, NOT plain ``dropDuplicates``: the
    plain form only evicts state when the event-time column is itself a
    dedup key, so keying on (key, day) would retain every (key, day) pair
    FOREVER — tests/test_state_bounds.py catches exactly that leak (state
    growing linearly over a 6-day replay). The within-watermark form expires
    each entry once the watermark passes first_ts + delay, which is
    precisely the reference's 1-day StateTtlConfig
    (DwdTrafficUniqueVisitorDetail.java:62-65). Semantics are unchanged
    for day-keyed dedup: a same-day duplicate is at most 24 h after its
    day's first event, and the watermark (lagging max event time by the
    same 1-day delay) cannot reach first_ts + 1 day before every same-day
    event has arrived, so within-day dedup is exact for any lateness up
    to the watermark delay."""
    return (
        df.withColumn("cur_date", F.to_date(F.col(ts_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([*key_cols, "cur_date"])
    )


_IS_NEW_STATE = T.StructType([T.StructField("first_date", T.StringType())])


def repair_is_new_stream(df: DataFrame, key: str, ts_col: str) -> DataFrame:
    """T2 streaming: rewrite is_new using per-visitor first-seen-date state.

    Output schema: (key, ts, is_new). Matches operators.stateful.repair_is_new
    on in-order data (state sees history, batch sees min-over-partition).
    """
    out_schema = T.StructType(
        [
            T.StructField(key, T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("is_new", T.IntegerType()),
        ]
    )

    def fn(
        key_tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (kv,) = key_tuple
        first_date = state.get[0] if state.exists else None
        # concat BEFORE sorting: a key's micro-batch may span several Arrow
        # chunks, and per-chunk sorts leave cross-chunk order arbitrary
        # (the cusum_stream bug class — latent here until a key exceeds
        # the ~10k-row chunk size in one batch)
        pdf = pd.concat(list(batches))
        if len(pdf):
            pdf = pdf.sort_values(ts_col)
            dates = pdf[ts_col].dt.strftime("%Y-%m-%d")
            if first_date is None:
                first_date = dates.iloc[0]
            is_new = (dates == first_date).astype("int32")
            yield pd.DataFrame({key: kv, "ts": pdf[ts_col], "is_new": is_new})
        state.update((first_date,))

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, _IS_NEW_STATE, "append", GroupStateTimeout.NoTimeout
    )


_BOUNCE_STATE = T.StructType(
    [T.StructField("pending_ts", T.DoubleType()), T.StructField("last_ts", T.DoubleType())]
)


def bounce_stream(
    df: DataFrame, key: str, ts_col: str, gap_seconds: int, watermark: str = "10 seconds"
) -> DataFrame:
    """T5 streaming: emit bounce events (entries with no successor within the
    gap, or whose successor is itself an entry), using event-time timeouts.

    Semantics identical to operators.stateful.detect_bounces' is_bounce=true
    rows. State: the pending candidate entry + last event time per key.
    """
    out_schema = T.StructType(
        [
            T.StructField(key, T.LongType()),
            T.StructField("bounce_ts", T.DoubleType()),
        ]
    )

    def fn(
        key_tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (kv,) = key_tuple
        pending, last = (state.get if state.exists else (None, None))
        bounces: list[float] = []
        if state.hasTimedOut:
            if pending is not None:
                bounces.append(pending)
            state.remove()
            yield pd.DataFrame({key: kv, "bounce_ts": bounces})
            return
        rows = pd.concat(list(batches)).sort_values(ts_col)
        for t in rows[ts_col]:
            tsec = t.timestamp()
            is_entry = last is None or (tsec - last) > gap_seconds
            if pending is not None:
                # successor arrived: bounce iff successor is itself an entry
                if is_entry:
                    bounces.append(pending)
                pending = None
            if is_entry:
                pending = tsec
            last = tsec
        state.update((pending, last))
        if last is not None:
            state.setTimeoutTimestamp(int((last + gap_seconds) * 1000) + 1)
        yield pd.DataFrame({key: kv, "bounce_ts": bounces})

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, _BOUNCE_STATE, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


_TTL_STATE = T.StructType([T.StructField("last_value", T.StringType())])


def ttl_latest_stream(
    df: DataFrame, key: str, val_col: str, ttl_seconds: int
) -> DataFrame:
    """WALL-CLOCK state TTL — the true processing-time analog of Flink's
    ``StateTtlConfig`` / join-state TTL (DwdTradePayDetailSuc.java:19 sets
    905 s; DwdTradeOrderPreProcess.java:20), closing the documented J7
    divergence where this repo otherwise maps TTLs onto event-time
    watermarks: here expiry follows the processing clock, independent of
    event timestamps, exactly like the reference.

    Keeps the latest value per key in GroupState with a
    ProcessingTimeTimeout; every update re-arms the timer (sliding TTL —
    Flink's OnCreateAndWrite semantics). When the wall clock passes the
    TTL with no new data for the key (and a later micro-batch gives the
    engine a chance to fire timers), the state is emitted as an
    ``expired`` record and REMOVED — the observable contract of TTL'd
    join state: a subsequent probe misses.

    Output: (key, value, event) with event ∈ {updated, expired}. By
    construction nondeterministic against wall time, so this op is
    pytest-verified with generous margins rather than DuckDB-oracled —
    the reason the rest of the repo prefers the watermark mapping.

    Driver caveat: do NOT wait on such a query with
    ``processAllAvailable()`` — re-arming processing-time timers mean the
    engine always considers work pending, so that call never returns
    (observed on Spark 4.1); poll the sink until the expected records
    land (tests/test_ttl_state.py).
    """
    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("event", T.StringType()),
        ]
    )

    def fn(
        key_tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (kv,) = key_tuple
        if state.hasTimedOut:
            last = state.get[0] if state.exists else None
            state.remove()
            yield pd.DataFrame({key: [kv], "value": [last], "event": ["expired"]})
            return
        last = state.get[0] if state.exists else None
        for pdf in batches:
            if len(pdf):
                last = str(pdf[val_col].iloc[-1])
        state.update((last,))
        state.setTimeoutDuration(ttl_seconds * 1000)
        yield pd.DataFrame({key: [kv], "value": [last], "event": ["updated"]})

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, _TTL_STATE, "append", GroupStateTimeout.ProcessingTimeTimeout
    )


_TRANS_STATE = T.StructType(
    [
        T.StructField("last_type", T.StringType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("last_eid", T.LongType()),
    ]
)


def transitions_stream(df: DataFrame, key: str = "user_id") -> DataFrame:
    """Per-key event-transition extraction with CROSS-BATCH state: emits one
    (from_type, to_type) row per consecutive event pair in a user's stream,
    carrying the last event of every user in GroupState so pairs that
    straddle a micro-batch boundary are not lost — the stateful half of the
    Markov transition matrix (e_markov_transitions is the batch twin; the
    lead() window sees all history at once, this sees it one batch at a
    time and must remember one row per key).

    In-batch rows are ordered by (ts, event_id) — the same deterministic
    order as the batch oracle — so with a time-ordered replay source the
    streamed pair multiset equals the batch lead() pairs exactly. State is
    exactly one (type, ts, id) triple per user: O(keys), watermark-free.

    Out-of-order protection: a row whose (ts, event_id) is <= the state's
    committed last pair arrived LATE relative to already-emitted transitions and is
    DROPPED — emitting it would fabricate a backwards transition the
    batch lead() window never produces. On an ordered replay the guard
    never fires, so batch parity is unchanged.
    """
    out_schema = T.StructType(
        [
            T.StructField("from_type", T.StringType()),
            T.StructField("to_type", T.StringType()),
        ]
    )

    def fn(
        key_tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last_type, last_ts, last_eid = (
            state.get if state.exists else (None, None, None)
        )
        frm, to = [], []
        # concat before sorting — per-chunk sorts leave cross-chunk order
        # arbitrary once a key spans Arrow chunks (the cusum bug class)
        allpdf = pd.concat(list(batches))
        if len(allpdf):
            pdf = allpdf.sort_values(["ts", "event_id"])
            for row in pdf.itertuples(index=False):
                cur_ts = row.ts.timestamp()
                cur_eid = int(row.event_id)
                if last_ts is not None and (cur_ts, cur_eid) <= (
                    last_ts,
                    last_eid,
                ):
                    continue  # late arrival vs committed state: drop
                cur = row.event_type
                if last_type is not None:
                    frm.append(last_type)
                    to.append(cur)
                last_type = cur
                last_ts = cur_ts
                last_eid = cur_eid
        if last_type is not None:
            state.update((last_type, last_ts, last_eid))
        yield pd.DataFrame({"from_type": frm, "to_type": to})

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, _TRANS_STATE, "append", GroupStateTimeout.NoTimeout
    )


_PIT_STATE = T.StructType(
    [
        T.StructField("ts_buf", T.ArrayType(T.LongType())),
        T.StructField("cents_buf", T.ArrayType(T.LongType())),
    ]
)


def trailing_features_stream(
    df: DataFrame,
    key: str = "user_id",
    horizon_s: int = 86400,
    emit_type: str = "purchase",
) -> DataFrame:
    """Point-in-time trailing features through streaming state: for every
    ``emit_type`` event, the count and cents-sum of the user's STRICTLY
    EARLIER events within the trailing horizon — the online-serving form of
    e_pit_features' batch RANGE frame (its oracle verifies this op
    verbatim on an ordered replay).

    State per key is the sliding buffer itself: (epoch, cents) pairs inside
    the horizon, PRUNED as event time advances — the honest bound of any
    sliding aggregation (Flink's over-window state is the same shape), so
    state is O(events per user per horizon), never whole history.
    Same-second peers are excluded exactly like the batch frame's
    ``RANGE … 1 PRECEDING`` (frame compares epoch seconds, not arrival).

    Input must carry integer ``epoch`` and ``cents`` columns (pre-computed
    JVM-side); rows are walked in (epoch, event_id) order — the oracle's
    deterministic order.
    """
    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(key, T.LongType()),
            T.StructField("trail_cnt", T.LongType()),
            T.StructField("trail_cents", T.LongType()),
        ]
    )

    def fn(
        key_tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # O(1) amortized per row (a list.pop(0) + full-buffer
        # comprehension per emit would be quadratic per key per batch): a
        # deque with running (count, cents) totals, plus a
        # trailing same-second subtotal so the STRICTLY-EARLIER frame
        # (t <= ep-1) is total minus current-second — initialized from
        # restored state so same-second pairs straddling a batch boundary
        # stay excluded exactly like the batch RANGE frame.
        from collections import deque

        (kv,) = key_tuple
        buf: deque[tuple[int, int]] = (
            deque(zip(state.get[0], state.get[1])) if state.exists else deque()
        )
        buf_cnt = len(buf)
        buf_cents = sum(c for _, c in buf)
        sec_ts, sec_cnt, sec_cents = None, 0, 0
        if buf:
            sec_ts = buf[-1][0]
            for t, c in reversed(buf):
                if t != sec_ts:
                    break
                sec_cnt += 1
                sec_cents += c
        eids, cnts, sums = [], [], []
        # concat before sorting — per-chunk sorts leave cross-chunk order
        # arbitrary once a key spans Arrow chunks (the cusum bug class)
        allpdf = pd.concat(list(batches))
        if len(allpdf):
            pdf = allpdf.sort_values(["epoch", "event_id"])
            for row in pdf.itertuples(index=False):
                ep = int(row.epoch)
                lo = ep - horizon_s
                while buf and buf[0][0] < lo:
                    _, c = buf.popleft()
                    buf_cnt -= 1
                    buf_cents -= c
                if sec_ts != ep:
                    sec_ts, sec_cnt, sec_cents = ep, 0, 0
                if row.event_type == emit_type:
                    eids.append(int(row.event_id))
                    cnts.append(buf_cnt - sec_cnt)
                    sums.append(buf_cents - sec_cents)
                c = int(row.cents)
                buf.append((ep, c))
                buf_cnt += 1
                buf_cents += c
                sec_cnt += 1
                sec_cents += c
        state.update(([t for t, _ in buf], [c for _, c in buf]))
        yield pd.DataFrame(
            {"event_id": eids, key: kv, "trail_cnt": cnts, "trail_cents": sums}
        )

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, _PIT_STATE, "append", GroupStateTimeout.NoTimeout
    )


_FUNNEL_STATE = T.StructType(
    [
        T.StructField("t1", T.DoubleType()),
        T.StructField("t2", T.DoubleType()),
        T.StructField("t3", T.DoubleType()),
    ]
)


def funnel_stream(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
) -> DataFrame:
    """Multi-step CEP through streaming state: the ordered conversion funnel
    stage1 → stage2 → stage3 (e_funnel's chained conditional-min windows)
    as a per-key state machine — first qualifying stage-1 event sets t1,
    the first stage-2 event strictly after t1 sets t2, the first stage-3
    event strictly after t2 sets t3. With a time-ordered replay source,
    "first qualifying in processing order" == "min qualifying ts", so the
    streamed stage tuples equal the batch window result exactly.

    Stage timestamps are SET-ONCE (never overwritten), so the read side may
    merge per-batch snapshots with a plain max per key — no ordering
    metadata needed. Every key emits at least one row (first sight emits
    even an all-null tuple) so stage-0 users are counted like the batch
    twin counts them. State: 3 nullable doubles per key, O(keys), bounded.
    """
    out_schema = T.StructType(
        [
            T.StructField(key, T.LongType()),
            T.StructField("t1", T.DoubleType()),
            T.StructField("t2", T.DoubleType()),
            T.StructField("t3", T.DoubleType()),
        ]
    )
    s1, s2, s3 = stages

    def fn(
        key_tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (kv,) = key_tuple
        existed = state.exists
        t1, t2, t3 = state.get if existed else (None, None, None)
        before = (t1, t2, t3)
        # concat before sorting — per-chunk sorts leave cross-chunk order
        # arbitrary once a key spans Arrow chunks (the cusum bug class)
        allpdf = pd.concat(list(batches))
        if len(allpdf):
            pdf = allpdf.sort_values(ts_col)
            for row in pdf.itertuples(index=False):
                tsec = getattr(row, ts_col).timestamp()
                etype = getattr(row, type_col)
                if t1 is None:
                    if etype == s1:
                        t1 = tsec
                elif t2 is None:
                    if etype == s2 and tsec > t1:
                        t2 = tsec
                elif t3 is None and etype == s3 and tsec > t2:
                    t3 = tsec
        state.update((t1, t2, t3))
        if not existed or (t1, t2, t3) != before:
            yield pd.DataFrame({key: [kv], "t1": [t1], "t2": [t2], "t3": [t3]})
        else:
            yield pd.DataFrame({key: [], "t1": [], "t2": [], "t3": []})

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, _FUNNEL_STATE, "append", GroupStateTimeout.NoTimeout
    )


_EWMA_STATE = T.StructType([T.StructField("tail", T.ArrayType(T.LongType()))])


def ewma_stream(df: DataFrame, key: str = "user_id", depth: int = 8) -> DataFrame:
    """Online dyadic EWMA through streaming state: for every event, the
    trailing-``depth`` exponentially-weighted average of the key's values
    (weights 2^(depth-1)..2^0, normalized by the weight mass of the lags
    actually observed) — the serving form of e_ewma's batch 8-lag keyed
    window, verified verbatim by its oracle on an ordered replay.

    State per key is EXACTLY the trailing ``depth`` cent values (a bounded
    BIGINT array — the smallest possible sliding-window state; compare the
    pruned-buffer trailing_features_stream above whose state is
    horizon-bounded, not count-bounded). All arithmetic is integer, so the
    online scores are bit-identical to the batch window's.

    Input must carry integer ``v_cents`` (pre-computed JVM-side), ``ts``
    and ``event_id``; rows are walked in (ts, event_id) order — the batch
    window's deterministic order.
    """
    out_schema = T.StructType(
        [
            T.StructField(key, T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("v_cents", T.LongType()),
            T.StructField("n_in_frame", T.LongType()),
            T.StructField("ewma_cents", T.LongType()),
        ]
    )
    full_mass = 1 << depth  # 256 for depth 8

    def fn(
        key_tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from collections import deque

        (kv,) = key_tuple
        buf: deque[int] = deque(state.get[0], maxlen=depth) if state.exists else deque(
            maxlen=depth
        )
        eids, vals, ks, ew = [], [], [], []
        # concat before sorting — per-chunk sorts leave cross-chunk order
        # arbitrary once a key spans Arrow chunks (the cusum bug class)
        allpdf = pd.concat(list(batches))
        if len(allpdf):
            pdf = allpdf.sort_values(["ts", "event_id"])
            for row in pdf.itertuples(index=False):
                c = int(row.v_cents)
                buf.append(c)  # maxlen evicts the 9th-oldest automatically
                k = len(buf)
                wsum = 0
                for j in range(k):  # j=0 is the current row
                    wsum += buf[-1 - j] * (1 << (depth - 1 - j))
                mass = full_mass - (1 << (depth - k))
                eids.append(int(row.event_id))
                vals.append(c)
                ks.append(k)
                # truncate-toward-zero, matching the batch window's Spark
                # DIV / DuckDB // semantics; Python // floors, which is 1
                # lower for negative wsum (latent while fixture values are
                # all positive)
                ew.append(-((-wsum) // mass) if wsum < 0 else wsum // mass)
        state.update((list(buf),))
        yield pd.DataFrame(
            {
                key: kv,
                "event_id": eids,
                "v_cents": vals,
                "n_in_frame": ks,
                "ewma_cents": ew,
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, _EWMA_STATE, "append", GroupStateTimeout.NoTimeout
    )


# STATE-SCHEMA COMPATIBILITY: cur_k (day-open k capture) was added later,
# changing the GroupState layout from the original 4-field form. A
# streaming checkpoint written by the old layout CANNOT be restored
# against this schema — applyInPandasWithState state deserialization
# fails loudly on the field-count mismatch. This repo's checkpoints are
# ephemeral tmp dirs, so nothing here migrates; an external user of
# cusum_stream upgrading across the change must start a fresh checkpoint
# (or backfill cur_k = calibrated k at restore time with their own tool).
_CUSUM_STATE = T.StructType(
    [
        T.StructField("cur_day", T.LongType()),
        T.StructField("cur_cents", T.LongType()),
        T.StructField("cur_k", T.LongType()),
        T.StructField("prefix", T.LongType()),
        T.StructField("min_prefix", T.LongType()),
    ]
)


def cusum_stream(
    df: DataFrame,
    key: str = "event_type",
    h_mult: int = 2,
) -> DataFrame:
    """Online CUSUM drift monitor (Page's test) through streaming state:
    per key, the one-sided cumulative-sum statistic over DAILY value
    totals against a calibrated baseline, with an alarm flag when the
    statistic crosses h = h_mult * k — the production change-detection
    monitor (a level shift accumulates in S linearly; in-control noise
    keeps it pinned near 0).

    The recurrence S_d = max(0, S_{d-1} + (x_d - k)) is order-dependent,
    but has the prefix closed form  S_d = P_d - min(0, min_{j<=d} P_j)
    with P the running sum of (x - k) — so the state is THREE BIGINTs per
    key (current-day partial, running prefix, running min-prefix), the
    emitted statistic is exact integer arithmetic, and the batch oracle
    is two keyed windows (running sum + running min), no recursion.

    Input rows must carry ``ts``, integer ``v_cents``, integer ``k_cents``
    (the per-key baseline, joined upstream — calibrated on a reference
    window, the standard CUSUM deployment shape) and ``is_sentinel``
    (far-future flush rows, emitted by the harness once per key: a day
    finalizes only when a LATER day arrives, so the sentinel closes the
    last real day; the sentinel's own pending day is never emitted).
    Event-time-ordered arrival per key is assumed (the ordered-replay
    harness contract, same as ewma_stream).

    Output per finalized day: (key, day_epoch, day_cents, s_cents,
    alarm) — every day, not only alarms, so the oracle checks the whole
    statistic path."""
    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField("day_epoch", T.LongType()),
            T.StructField("day_cents", T.LongType()),
            T.StructField("s_cents", T.LongType()),
            T.StructField("alarm", T.LongType()),
        ]
    )

    def fn(
        key_tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (kv,) = key_tuple
        if state.exists:
            cur_day, cur_cents, cur_k, prefix, min_prefix = (
                state.get[0], state.get[1], state.get[2],
                state.get[3], state.get[4]
            )
        else:
            cur_day, cur_cents, cur_k, prefix, min_prefix = None, 0, None, 0, 0
        days, totals, stats, alarms = [], [], [], []

        def finalize(day, cents, k):
            nonlocal prefix, min_prefix
            prefix += cents - k
            # the running min INCLUDES the current prefix (S_1 = max(0, P_1)
            # requires it), matching the oracle's default window frame
            min_prefix = min(min_prefix, prefix)
            s = prefix - min(0, min_prefix)
            days.append(day)
            totals.append(cents)
            stats.append(s)
            alarms.append(1 if s > h_mult * k else 0)

        # concat BEFORE sorting: a high-volume key's micro-batch spans
        # several Arrow chunks and per-chunk sorts leave days interleaved
        # across chunks (caught at sf0.1: the 'view' group dropped its
        # first days). Day totals are order-insensitive within a day, so
        # ts alone is a sufficient sort key.
        rows_all = pd.concat(list(batches))
        if len(rows_all):
            rows_all = rows_all.sort_values("ts")
            # a day is scored with the k_cents captured when it was OPENED
            # (stored in state alongside its partial total), never with the
            # k of the row that happens to trigger finalization — the
            # next day's first row, or the sentinel. Identical under the
            # constant-per-key baseline contract; correct even if a
            # time-varying baseline were joined upstream.
            for row in rows_all.itertuples(index=False):
                day = int(row.day_epoch)
                if bool(row.is_sentinel):
                    if cur_day is not None:
                        finalize(cur_day, cur_cents, cur_k)
                        cur_day, cur_cents, cur_k = None, 0, None
                    continue
                if cur_day is None:
                    cur_day, cur_cents, cur_k = day, 0, int(row.k_cents)
                elif day > cur_day:
                    finalize(cur_day, cur_cents, cur_k)
                    cur_day, cur_cents, cur_k = day, 0, int(row.k_cents)
                cur_cents += int(row.v_cents)
        state.update(
            (cur_day, cur_cents, cur_k, prefix, min_prefix)
        )
        yield pd.DataFrame(
            {
                key: kv,
                "day_epoch": days,
                "day_cents": totals,
                "s_cents": stats,
                "alarm": alarms,
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, _CUSUM_STATE, "append", GroupStateTimeout.NoTimeout
    )


_HOLT_STATE = T.StructType(
    [
        T.StructField("cur_day", T.LongType()),
        T.StructField("cur_cents", T.LongType()),
        T.StructField("level", T.LongType()),
        T.StructField("trend", T.LongType()),
        T.StructField("has_model", T.LongType()),
    ]
)


def holt_stream(df: DataFrame, key: str = "event_type") -> DataFrame:
    """Online Holt linear-trend smoothing through streaming state — the
    incremental twin of plans.analytics.q_holt_winters: per key, daily
    value totals feed the level+trend recursion with dyadic gains
    (alpha = 1/2, beta = 1/4; every update an exact truncated BIGINT
    division, see the batch docstring for the cross-engine contract).

    GroupState per key is five BIGINTs: the open day, its partial total,
    and the model (level, trend, has_model). A day finalizes when a later
    day's first row (or the sentinel) arrives — same flush protocol as
    cusum_stream; event-time-ordered arrival per key is the
    ordered-replay harness contract.

    Output per finalized day: (key, day_epoch, day_cents, pred_cents,
    level_cents, trend_cents) with pred_cents NULL on each key's first
    day — exactly the batch recursion's rows."""
    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField("day_epoch", T.LongType()),
            T.StructField("day_cents", T.LongType()),
            T.StructField("pred_cents", T.LongType()),
            T.StructField("level_cents", T.LongType()),
            T.StructField("trend_cents", T.LongType()),
        ]
    )

    def tdiv(a: int, b: int) -> int:
        return -((-a) // b) if a < 0 else a // b

    def fn(
        key_tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (kv,) = key_tuple
        if state.exists:
            cur_day, cur_cents, level, trend, has_model = state.get
        else:
            cur_day, cur_cents, level, trend, has_model = None, 0, 0, 0, 0
        days, totals, preds, levels, trends = [], [], [], [], []

        def finalize(day, cents):
            nonlocal level, trend, has_model
            if not has_model:
                pred, level, trend, has_model = None, cents, 0, 1
            else:
                pred = level + trend
                new_level = pred + tdiv(cents - pred, 2)
                trend = trend + tdiv(new_level - level - trend, 4)
                level = new_level
            days.append(day)
            totals.append(cents)
            preds.append(pred)
            levels.append(level)
            trends.append(trend)

        # concat BEFORE sorting (the cusum_stream cross-chunk fix)
        rows_all = pd.concat(list(batches))
        if len(rows_all):
            rows_all = rows_all.sort_values("ts")
            for row in rows_all.itertuples(index=False):
                day = int(row.day_epoch)
                if bool(row.is_sentinel):
                    if cur_day is not None:
                        finalize(cur_day, cur_cents)
                        cur_day, cur_cents = None, 0
                    continue
                if cur_day is None:
                    cur_day, cur_cents = day, 0
                elif day > cur_day:
                    finalize(cur_day, cur_cents)
                    cur_day, cur_cents = day, 0
                cur_cents += int(row.v_cents)
        state.update((cur_day, cur_cents, level, trend, has_model))
        yield pd.DataFrame(
            {
                key: kv,
                "day_epoch": days,
                "day_cents": totals,
                "pred_cents": pd.array(preds, dtype="Int64"),
                "level_cents": levels,
                "trend_cents": trends,
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, _HOLT_STATE, "append", GroupStateTimeout.NoTimeout
    )

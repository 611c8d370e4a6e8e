"""Analytics extensions beyond the reference surface (SURVEY §2.3 note:
semi/anti come free on Spark and are exposed deliberately; likewise
rollup/distinct-agg/top-n/session windows — the pieces the reference left to
downstream ClickHouse)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators import dedup
from ..operators.windows import distributed_cumsum
from ..streaming.joins import session_agg
from . import QuerySpec
from .common import _docs_par, _TOKS

SESSION_GAP_S = 1800


def q_window_functions(spark, sf_dir):
    """The analytic window-function surface in one plan: ranking
    (row_number/rank/dense_rank/ntile), navigation (lag/lead), distribution
    (percent_rank/cume_dist), frames (running sum, partition extremes) —
    each per-customer over the order history.

    Scale shape: ONE hash-partition shuffle on o_custkey serves every
    function (Spark collapses same-partitioning windows into one Window
    node; the two sort orders become two in-partition sorts, never extra
    Exchanges). Determinism: ranking/navigation order by the unique
    (o_orderdate, o_orderkey); rank/percent_rank order by o_totalprice,
    where ties share a rank, so output is tie-safe in both engines. The
    running sum adds doubles in the same unique row order in both engines →
    bit-identical; round2 lands it on the money grid."""
    o = load_table(spark, sf_dir, "orders")
    seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    by_price = Window.partitionBy("o_custkey").orderBy("o_totalprice")
    part = Window.partitionBy("o_custkey")
    running = seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(seq).alias("seq_no"),
        F.rank().over(by_price).alias("price_rank"),
        F.dense_rank().over(by_price).alias("price_dense_rank"),
        F.ntile(4).over(seq).alias("quartile"),
        F.lag("o_totalprice").over(seq).alias("prev_price"),
        F.lead("o_totalprice").over(seq).alias("next_price"),
        (F.floor(F.percent_rank().over(by_price) * 1000000) / 1000000).alias("price_pctile"),
        (F.floor(F.cume_dist().over(by_price) * 1000000) / 1000000).alias("price_cume"),
        F.round(F.sum("o_totalprice").over(running), 2).alias("running_spend"),
        F.count(F.lit(1)).over(part).alias("n_orders"),
        F.date_format(F.first("o_orderdate").over(seq), "yyyy-MM-dd").alias("first_order_dt"),
    )


ORACLE_WINDOW_FUNCTIONS = """
SELECT o_orderkey, o_custkey,
       row_number() OVER seq AS seq_no,
       rank() OVER byp AS price_rank,
       dense_rank() OVER byp AS price_dense_rank,
       ntile(4) OVER seq AS quartile,
       lag(o_totalprice) OVER seq AS prev_price,
       lead(o_totalprice) OVER seq AS next_price,
       floor(percent_rank() OVER byp * 1000000) / 1000000 AS price_pctile,
       floor(cume_dist() OVER byp * 1000000) / 1000000 AS price_cume,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
       count(*) OVER (PARTITION BY o_custkey) AS n_orders,
       strftime(first_value(o_orderdate) OVER seq, '%Y-%m-%d') AS first_order_dt
FROM orders
WINDOW seq AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       byp AS (PARTITION BY o_custkey ORDER BY o_totalprice)
"""


def q_semi_join(spark, sf_dir):
    """left_semi: customers having ≥1 open-status order, counted by nation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )


ORACLE_SEMI = """
SELECT c_nationkey, count(*) AS n_cust FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
GROUP BY c_nationkey
"""


def q_anti_join(spark, sf_dir):
    """left_anti: customers who never placed a high-value (>350k) order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


ORACLE_ANTI = """
SELECT c_custkey, c_name, c_nationkey FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 350000
)
"""


def q_rollup(spark, sf_dir):
    """ROLLUP over (region, nation): subtotal + grand-total rows."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("acctbal_sum"),
    )


ORACLE_ROLLUP = """
SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS acctbal_sum
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_cube(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all grouping-set combinations —
    the full-lattice companion to e_rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("qty_sum"),
    )


ORACLE_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
       round(sum(l_quantity), 2) AS qty_sum
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_distinct_agg(spark, sf_dir):
    """Multiple count(DISTINCT) in one aggregate (expand-based plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_DISTINCT = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_lines
FROM lineitem GROUP BY l_returnflag
"""


def q_topn_per_group(spark, sf_dir):
    """Top-3 orders by totalprice per priority (rank-limit per group —
    Spark's WindowGroupLimit does partial top-k before the shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


ORACLE_TOPN = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
  SELECT *, row_number() OVER (
      PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3
"""


def q_session_window(spark, sf_dir):
    """Session windows (gap 1800 s) per user via Spark's native
    ``session_window`` — the streaming-capable sessionizer; emitted as
    epoch-second bounds (end = last event + gap)."""
    return user_sessions(load_table(spark, sf_dir, "events"))


def user_sessions(ev):
    """Per-user sessions of ``ev`` (batch or streaming) through
    streaming.joins.session_agg: event count and 2-dp value sum per
    session."""
    return session_agg(
        ev,
        "ts",
        f"{SESSION_GAP_S} seconds",
        ["user_id"],
        [F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum")],
    )


ORACLE_SESSION = f"""
WITH seq AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > {SESSION_GAP_S}
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), grp AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM seq
)
SELECT user_id,
       floor(epoch(min(ts)))::BIGINT AS session_start,
       floor(epoch(max(ts)))::BIGINT + {SESSION_GAP_S} AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS value_sum
FROM grp GROUP BY user_id, session_no
"""


def q_pivot(spark, sf_dir):
    """Pivot: daily event counts, one column per event type."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("dt")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


ORACLE_PIVOT = """
SELECT strftime(ts, '%Y-%m-%d') AS dt,
       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
       sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
FROM events GROUP BY 1
"""


def q_value_histogram(spark, sf_dir):
    """Fixed-width histogram of event values (bucket = floor(value/50))."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", F.floor(F.col("value") / 50).cast("bigint"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )


ORACLE_HISTOGRAM = """
SELECT floor(value / 50)::BIGINT AS bucket, count(*) AS ct
FROM events GROUP BY 1
"""


def q_hist_quantile(spark, sf_dir):
    """Mergeable histogram-quantile sketch: GLOBAL approximate p50/p90/p99
    of order totals from fixed 1000.00-unit bins — the fixed-size,
    mergeable alternative to an exact global sort at 100 TB (per-partition
    bin counts merge like HLL registers; only the ≤~600-row bin table is
    ever globally combined). Money enters the integer domain as cents
    (floor(x*100 + 0.5) — identical IEEE product both engines), ranks are
    exact integer ceilings, and the answer is each quantile's bin with its
    inclusive upper edge in cents. Cumulative counts come from a
    triangular join over the tiny bin table (broadcast) — deliberately NOT
    a global-order window, which would single-partition the plan."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    hist = (
        o.select(F.floor(cents / F.lit(100000)).cast("bigint").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
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
            ((F.col("bin") + 1) * 100000 - 1).alias("approx_upper_cents"),
        )
    )


ORACLE_HIST_QUANTILE = """
WITH bins AS (
  SELECT floor(floor(o_totalprice * 100 + 0.5) / 100000)::BIGINT AS bin FROM orders
),
hist AS (SELECT bin, count(*) AS cnt FROM bins GROUP BY 1),
n AS (SELECT sum(cnt)::BIGINT AS n_rows FROM hist),
cum AS (
  SELECT a.bin, sum(b.cnt)::BIGINT AS cum
  FROM hist a JOIN hist b ON b.bin <= a.bin GROUP BY a.bin
),
qs AS (SELECT unnest([500, 900, 990]) AS q_milli),
ranks AS (
  SELECT q_milli, n_rows, (q_milli * n_rows + 999) // 1000 AS rank
  FROM qs CROSS JOIN n
)
SELECT r.q_milli, r.n_rows, r.rank, min(c.bin) AS bin,
       (min(c.bin) + 1) * 100000 - 1 AS approx_upper_cents
FROM ranks r JOIN cum c ON c.cum >= r.rank
GROUP BY r.q_milli, r.n_rows, r.rank
"""


def q_sliding_window(spark, sf_dir):
    """Sliding window (2 h width, 1 h hop) keyed count+sum — extension; each
    event lands in exactly 2 windows, expanded JVM-side pre-aggregate."""
    from ..operators import windows

    ev = load_table(spark, sf_dir, "events")
    return windows.slide(
        ev,
        "ts",
        "2 hours",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("ct"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        ],
    )


# each event belongs to the hop-aligned window it starts and the one before
ORACLE_SLIDING = """
SELECT (floor(epoch(ts) / 3600) * 3600 - j * 3600)::BIGINT AS stt,
       (floor(epoch(ts) / 3600) * 3600 - j * 3600 + 7200)::BIGINT AS edt,
       event_type, count(*) AS ct, round(sum(value), 2) AS value_sum
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS j)
GROUP BY 1, 2, 3
"""


def q_cumulate_window(spark, sf_dir):
    """CUMULATE window (Flink 1.13 TVF analog; 1 h step, 4 h span): each
    span emits growing partials at every step boundary."""
    from ..operators import windows

    ev = load_table(spark, sf_dir, "events")
    return windows.cumulate(
        ev,
        "ts",
        "1 hour",
        "4 hours",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("ct"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        ],
    )


ORACLE_CUMULATE = """
SELECT (floor(epoch(ts) / 14400) * 14400)::BIGINT AS stt,
       (floor(epoch(ts) / 14400) * 14400 + k * 3600)::BIGINT AS edt,
       event_type, count(*) AS ct, round(sum(value), 2) AS value_sum
FROM events CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS k)
WHERE epoch(ts) < floor(epoch(ts) / 14400) * 14400 + k * 3600
GROUP BY 1, 2, 3
"""


def q_quantiles(spark, sf_dir):
    """Exact per-group order statistics (median / p90 of order value per
    customer) via rank selection — integer rank arithmetic (ceil(p·n) as
    (p_num·n + p_den−1) div p_den) so both engines pick the identical row,
    no float quantile interpolation to diverge on.

    Scale shape: the window partitions by clerk — group count grows with
    the data while rows-per-group stays bounded (~10 orders/customer at any
    SF), so per-partition sort memory is constant and parallelism scales.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    ranked = o.select(
        "o_custkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("o_custkey")).alias("n"),
    )
    return ranked.groupBy("o_custkey").agg(
        F.max("n").alias("n_orders"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("o_totalprice"))).alias("median_price"),
        F.max(F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("o_totalprice"))).alias("p90_price"),
    )


ORACLE_QUANTILES = """
WITH ranked AS (
  SELECT o_custkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_custkey) AS n
  FROM orders
)
SELECT o_custkey, max(n)::BIGINT AS n_orders,
       max(CASE WHEN rn = (n + 1) // 2 THEN o_totalprice END) AS median_price,
       max(CASE WHEN rn = (9 * n + 9) // 10 THEN o_totalprice END) AS p90_price
FROM ranked GROUP BY o_custkey
"""


def q_running_total(spark, sf_dir):
    """Running/cumulative window aggregate: daily revenue per event_type
    with a per-type running total. The window's input is the PRE-AGGREGATED
    daily table (days × types rows), so cumulative state is tiny at any
    scale — never a raw-row running sum."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("dt", "event_type")
        .agg(F.round(F.sum("value"), 2).alias("day_sum"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("dt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "dt", "event_type", "day_sum",
        F.round(F.sum("day_sum").over(w), 2).alias("running_sum"),
    )


ORACLE_RUNNING_TOTAL = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type, round(sum(value), 2) AS day_sum
  FROM events GROUP BY 1, 2
)
SELECT dt, event_type, day_sum,
       round(sum(day_sum) OVER (
         PARTITION BY event_type ORDER BY dt
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum
FROM daily
"""


def q_grouping_sets(spark, sf_dir):
    """GROUPING SETS ((region, nation), (region), (nation)) — the irregular
    lattice rollup/cube can't express; one shuffle, expand-node fan-out."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    joined.createOrReplaceTempView("_gs_cust")
    return spark.sql(
        """
        SELECT r_name, n_name, count(*) AS n_cust,
               round(sum(c_acctbal), 2) AS acctbal_sum
        FROM _gs_cust
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), (n_name))
        """
    )


ORACLE_GROUPING_SETS = """
SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS acctbal_sum
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), (n_name))
"""


def q_asof_join(spark, sf_dir):
    """AS-OF join (extension): each event picks the customer's latest order
    at-or-before the event time — the time-series join Spark lacks natively,
    built scalably as tag-union + one keyed shuffle + running last-non-null
    window (operators/joins.py::asof_join), never a quadratic
    join-filter-argmax. Oracle: DuckDB's native ASOF LEFT JOIN. The right
    side is pre-deduped to one row per (customer, date) via a single
    max(struct) aggregate so both engines pick the same row."""
    from ..operators import joins as jops

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("custkey"), "ts", "event_id"
    )
    o = load_table(spark, sf_dir, "orders")
    o1 = (
        o.groupBy(F.col("o_custkey").alias("custkey"), "o_orderdate")
        .agg(F.max(F.struct("o_orderkey", "o_totalprice")).alias("s"))
        .select(
            "custkey",
            F.col("o_orderdate").cast("timestamp").alias("order_ts"),
            F.col("s.o_orderkey").alias("o_orderkey"),
            F.col("s.o_totalprice").alias("o_totalprice"),
        )
    )
    joined = jops.asof_join(
        ev, o1, ["custkey"], "ts", "order_ts", ["o_orderkey", "o_totalprice"]
    )
    return joined.groupBy("custkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("o_orderkey").alias("n_matched"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    )


ORACLE_ASOF = """
WITH o1 AS (
  SELECT custkey, order_ts, o_orderkey, o_totalprice FROM (
    SELECT o_custkey AS custkey, o_orderdate::TIMESTAMP AS order_ts,
           o_orderkey, o_totalprice,
           row_number() OVER (
             PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
    FROM orders) WHERE rn = 1
),
j AS (
  SELECT e.user_id AS custkey, o1.o_orderkey, o1.o_totalprice
  FROM events e ASOF LEFT JOIN o1
    ON e.user_id = o1.custkey AND e.ts >= o1.order_ts
)
SELECT custkey, count(*) AS n_events, count(o_orderkey) AS n_matched,
       round(sum(o_totalprice), 2) AS price_sum
FROM j GROUP BY custkey
"""


def q_range_join(spark, sf_dir):
    """Pure range (interval-overlap) join, binned: high-value events spawn
    10-minute incident windows; every event falling inside a window is
    attributed to it (an event can hit several overlapping windows, like the
    theta-join oracle). operators/joins.py::range_join turns the
    nested-loop predicate into an equi-join on a time bin + residual filter
    — the plan must show a hash/broadcast join, never
    BroadcastNestedLoopJoin (asserted in test_scale_plans)."""
    from ..operators import joins as jops

    ev = load_table(spark, sf_dir, "events")
    incidents = ev.filter(F.col("value") > 225.0).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
    )
    j = jops.range_join(
        ev.select("ts", "value"), incidents, "ts", "w_start", "w_end",
        bin_seconds=600,
    )
    return j.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )


ORACLE_RANGE_JOIN = """
WITH w AS (
  SELECT event_id AS incident_id, ts AS w_start, ts + INTERVAL 10 MINUTE AS w_end
  FROM events WHERE value > 225.0
)
SELECT incident_id, count(*) AS n_events, round(sum(e.value), 2) AS value_sum
FROM w JOIN events e ON e.ts >= w.w_start AND e.ts <= w.w_end
GROUP BY incident_id
"""


def q_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct-count sketch per event_type, with
    the exact count alongside. Fixed 256-register state per group merged
    map-side (operators/sketches.py) — the 100 TB shape for distinct
    counting; the estimate is bit-reproducible cross-engine (integer-exact
    harmonic sum, one double division), so DuckDB matches it exactly —
    unlike approx_count_distinct, whose sketch is engine-private. Raw
    estimator: biased high when exact_ct << 2.5·m (visible at sf0.001),
    documented in the module."""
    from ..operators import sketches

    ev = load_table(spark, sf_dir, "events")
    b = sketches.hll_buckets(
        ev, F.col("event_id").cast("string"), ["event_type"]
    )
    est = sketches.hll_estimate(b, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("event_id").alias("exact_ct")
    )
    return exact.join(est, "event_type").select(
        "event_type", "exact_ct", "hll_est"
    )


def oracle_hll() -> str:
    from ..functions.hashing import portable_hash64_sql
    from ..operators import sketches

    return f"""
WITH h AS (
  SELECT event_type, {portable_hash64_sql("CAST(event_id AS VARCHAR)")} AS _h
  FROM events
),
r AS (SELECT event_type, {sketches.hll_rho_sql("_h")} FROM h),
reg AS (
  SELECT event_type, _bucket, max(_rho) AS _max_rho FROM r GROUP BY 1, 2
),
est AS (
  SELECT event_type, {sketches.hll_estimate_sql()} AS hll_est
  FROM reg GROUP BY 1
),
exact AS (
  SELECT event_type, count(DISTINCT event_id)::BIGINT AS exact_ct
  FROM events GROUP BY 1
)
SELECT exact.event_type, exact_ct, hll_est
FROM exact JOIN est ON exact.event_type = est.event_type
"""


def q_hll_sliding(spark, sf_dir):
    """Sliding-window distinct via HLL register MERGING: distinct counts
    cannot be summed across overlapping windows, but register-max can be
    merged — per-hour registers are built once (≤256 rows per hour) and
    each hour's registers fan into its 3 covering windows with a tiny
    3-element explode, then max-merge + estimate per window. This is the
    sketch-mergeability pattern that makes sliding/overlapping distinct
    affordable at 100 TB (the naive form re-scans every window). Exact
    count alongside for calibration."""
    from ..operators import sketches

    ev = load_table(spark, sf_dir, "events")
    hours = ev.select(
        F.date_trunc("hour", "ts").cast("long").alias("hr"),
        F.col("event_id").cast("string").alias("eid"),
        "event_id",
    )
    regs = sketches.hll_buckets(hours, F.col("eid"), ["hr"])
    # each hour's registers serve windows ending at hr, hr+1h, hr+2h
    fan = regs.select(
        F.explode(
            F.array(F.col("hr"), F.col("hr") + 3600, F.col("hr") + 7200)
        ).alias("win_end_hr"),
        "_bucket",
        "_max_rho",
    )
    merged = fan.groupBy("win_end_hr", "_bucket").agg(
        F.max("_max_rho").alias("_max_rho")
    )
    est = sketches.hll_estimate(merged, ["win_end_hr"])
    exact = (
        hours.select(
            F.explode(
                F.array(F.col("hr"), F.col("hr") + 3600, F.col("hr") + 7200)
            ).alias("win_end_hr"),
            "event_id",
        )
        .groupBy("win_end_hr")
        .agg(F.countDistinct("event_id").alias("exact_ct"))
    )
    return exact.join(est, "win_end_hr").select(
        F.col("win_end_hr").alias("win_end"), "exact_ct", "hll_est"
    )


def _oracle_hll_sliding() -> str:
    from ..functions.hashing import portable_hash64_sql
    from ..operators import sketches

    return f"""
WITH h AS (
  SELECT epoch(date_trunc('hour', ts))::BIGINT AS hr, event_id,
         {portable_hash64_sql("CAST(event_id AS VARCHAR)")} AS _h
  FROM events
),
r AS (SELECT hr, {sketches.hll_rho_sql("_h")} FROM h),
reg AS (SELECT hr, _bucket, max(_rho) AS _max_rho FROM r GROUP BY 1, 2),
fan AS (
  SELECT hr + o AS win_end_hr, _bucket, _max_rho
  FROM reg CROSS JOIN (SELECT unnest([0, 3600, 7200]) AS o)
),
merged AS (
  SELECT win_end_hr, _bucket, max(_max_rho) AS _max_rho FROM fan GROUP BY 1, 2
),
est AS (
  SELECT win_end_hr, {sketches.hll_estimate_sql()} AS hll_est
  FROM merged GROUP BY 1
),
exact AS (
  SELECT hr + o AS win_end_hr, count(DISTINCT event_id)::BIGINT AS exact_ct
  FROM h CROSS JOIN (SELECT unnest([0, 3600, 7200]) AS o)
  GROUP BY 1
)
SELECT exact.win_end_hr AS win_end, exact_ct, hll_est
FROM exact JOIN est ON exact.win_end_hr = est.win_end_hr
"""


def q_bloom_join(spark, sf_dir):
    """Bloom-pruned dimension join: revenue of suppliers in one nation.
    The supplier keyset folds into an 8 KB deterministic Bloom bitset
    (operators/sketches.py::bloom_build — bounded driver state, like the
    reference's broadcast config); the lineitem scan is pruned by a pure
    projection-time probe BEFORE any shuffle, then the exact join
    guarantees correctness (false positives only prune less). At 100 TB
    this is the difference between shuffling the whole fact table and
    shuffling ~1/25th of it. Oracle: the plain join — bloom must be
    result-invisible."""
    from ..operators import sketches

    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    dim = s.join(
        F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]
    ).select("s_suppkey", "s_name")
    words = sketches.bloom_build(dim, F.col("s_suppkey"))
    li = load_table(spark, sf_dir, "lineitem")
    pruned = sketches.bloom_prune(li, F.col("l_suppkey"), words)
    return (
        pruned.join(dim, pruned["l_suppkey"] == dim["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
    )


ORACLE_BLOOM_JOIN = """
SELECT s_suppkey, s_name, count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
GROUP BY s_suppkey, s_name
"""


ASOF_TOL_S = 7 * 86400


def q_asof_tolerance(spark, sf_dir):
    """AS-OF join with a 7-day tolerance (pandas merge_asof parity): the
    latest order at-or-before each event still matches, but matches older
    than the tolerance are nulled in a post-projection guard — same single
    window pass. Oracle: DuckDB native ASOF plus the same gap guard."""
    from ..operators import joins as jops

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("custkey"), "ts", "event_id"
    )
    o = load_table(spark, sf_dir, "orders")
    o1 = (
        o.groupBy(F.col("o_custkey").alias("custkey"), "o_orderdate")
        .agg(F.max(F.struct("o_orderkey", "o_totalprice")).alias("s"))
        .select(
            "custkey",
            F.col("o_orderdate").cast("timestamp").alias("order_ts"),
            F.col("s.o_orderkey").alias("o_orderkey"),
            F.col("s.o_totalprice").alias("o_totalprice"),
        )
    )
    joined = jops.asof_join(
        ev,
        o1,
        ["custkey"],
        "ts",
        "order_ts",
        ["o_orderkey", "o_totalprice"],
        tolerance_seconds=ASOF_TOL_S,
    )
    return joined.groupBy("custkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("o_orderkey").alias("n_matched"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    )


ORACLE_ASOF_TOLERANCE = f"""
WITH o1 AS (
  SELECT custkey, order_ts, o_orderkey, o_totalprice FROM (
    SELECT o_custkey AS custkey, o_orderdate::TIMESTAMP AS order_ts,
           o_orderkey, o_totalprice,
           row_number() OVER (
             PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
    FROM orders) WHERE rn = 1
),
j AS (
  SELECT e.user_id AS custkey,
         CASE WHEN epoch(e.ts) - epoch(o1.order_ts) <= {ASOF_TOL_S}
              THEN o1.o_orderkey END AS o_orderkey,
         CASE WHEN epoch(e.ts) - epoch(o1.order_ts) <= {ASOF_TOL_S}
              THEN o1.o_totalprice END AS o_totalprice
  FROM events e ASOF LEFT JOIN o1
    ON e.user_id = o1.custkey AND e.ts >= o1.order_ts
)
SELECT custkey, count(*) AS n_events, count(o_orderkey) AS n_matched,
       round(sum(o_totalprice), 2) AS price_sum
FROM j GROUP BY custkey
"""


ATTR_TOL_S = 3600


def q_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase credits the same user's most
    recent click within 1 h (the as-of join with tolerance, composed into
    the classic marketing-attribution shape); daily totals of attributed
    vs organic revenue. One keyed as-of pass + one day aggregate."""
    from ..operators import joins as jops

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("revenue")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    # dedupe clicks to one per (user, ts): keep max click_id so both engines
    # pick the identical row (asof_join requires unique right timestamps)
    clicks1 = clicks.groupBy("user_id", "click_ts").agg(
        F.max("click_id").alias("click_id")
    )
    joined = jops.asof_join(
        purchases,
        clicks1,
        ["user_id"],
        "ts",
        "click_ts",
        ["click_id"],
        tolerance_seconds=ATTR_TOL_S,
    )
    return (
        joined.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("click_id").isNotNull().cast("bigint")).alias("n_attributed"),
            F.round(
                F.sum(F.when(F.col("click_id").isNotNull(), F.col("revenue")).otherwise(0.0)),
                2,
            ).alias("attributed_revenue"),
            F.round(
                F.sum(F.when(F.col("click_id").isNull(), F.col("revenue")).otherwise(0.0)),
                2,
            ).alias("organic_revenue"),
        )
    )


ORACLE_ATTRIBUTION = f"""
WITH purchases AS (
  SELECT user_id, ts, value AS revenue FROM events WHERE event_type = 'purchase'
),
clicks1 AS (
  SELECT user_id, ts AS click_ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
j AS (
  SELECT p.user_id, p.ts, p.revenue,
         CASE WHEN epoch(p.ts) - epoch(c.click_ts) <= {ATTR_TOL_S}
              THEN c.click_id END AS click_id
  FROM purchases p ASOF LEFT JOIN clicks1 c
    ON p.user_id = c.user_id AND p.ts >= c.click_ts
)
SELECT strftime(ts, '%Y-%m-%d') AS dt, count(*) AS n_purchases,
       sum(CASE WHEN click_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_attributed,
       round(sum(CASE WHEN click_id IS NOT NULL THEN revenue ELSE 0 END), 2)
         AS attributed_revenue,
       round(sum(CASE WHEN click_id IS NULL THEN revenue ELSE 0 END), 2)
         AS organic_revenue
FROM j GROUP BY 1
"""


def q_gap_fill(spark, sf_dir):
    """Time-series densification (gap fill): hourly event counts per type
    with EVERY hour slot in the type's [min, max] range present, zeros
    where no events landed — the resample step dashboards and window
    models expect dense input for.

    Scale shape: counts and spans are two aggregates over the same
    (type, hour) grain; the slot axis is generated per type with
    ``sequence`` + ``explode`` (slots = time-range/step rows — tiny next to
    the events), then a left join back to the counts on the natural key.
    No driver-side calendar, no cross join against a global axis."""
    ev = load_table(spark, sf_dir, "events")
    hours = ev.select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    )
    counts = hours.groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("ct"))
    spans = counts.groupBy("event_type").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    slots = spans.select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hr"),
    )
    return (
        slots.join(counts, ["event_type", "hr"], "left")
        .select(
            "event_type",
            F.col("hr").cast("long").alias("slot"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )


ORACLE_GAP_FILL = """
WITH counts AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS ct
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM counts GROUP BY 1
),
slots AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM spans
)
SELECT s.event_type, epoch(s.hr)::BIGINT AS slot, coalesce(c.ct, 0) AS ct
FROM slots s LEFT JOIN counts c ON s.event_type = c.event_type AND s.hr = c.hr
"""


def q_asof_forward(spark, sf_dir):
    """Forward AS-OF join: each event picks the customer's FIRST order
    at-or-after the event time (next-event lookup — the reverse read of the
    same single-shuffle union-window asof operator). DuckDB has no native
    forward ASOF, so the oracle mirrors the union + first_value IGNORE
    NULLS forward-frame construction directly."""
    from ..operators import joins as jops

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("custkey"), "ts", "event_id"
    )
    o = load_table(spark, sf_dir, "orders")
    o1 = (
        o.groupBy(F.col("o_custkey").alias("custkey"), "o_orderdate")
        .agg(F.max(F.struct("o_orderkey", "o_totalprice")).alias("s"))
        .select(
            "custkey",
            F.col("o_orderdate").cast("timestamp").alias("order_ts"),
            F.col("s.o_orderkey").alias("o_orderkey"),
            F.col("s.o_totalprice").alias("o_totalprice"),
        )
    )
    joined = jops.asof_join(
        ev,
        o1,
        ["custkey"],
        "ts",
        "order_ts",
        ["o_orderkey", "o_totalprice"],
        direction="forward",
    )
    return joined.groupBy("custkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("o_orderkey").alias("n_matched"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    )


ORACLE_ASOF_FORWARD = """
WITH o1 AS (
  SELECT custkey, order_ts, o_orderkey, o_totalprice FROM (
    SELECT o_custkey AS custkey, o_orderdate::TIMESTAMP AS order_ts,
           o_orderkey, o_totalprice,
           row_number() OVER (
             PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
    FROM orders) WHERE rn = 1
),
u AS (
  SELECT user_id AS custkey, ts AS _ts, 1 AS _side,
         NULL::BIGINT AS r_orderkey, NULL::DOUBLE AS r_totalprice
  FROM events
  UNION ALL
  SELECT custkey, order_ts, 2, o_orderkey, o_totalprice FROM o1
),
carried AS (
  SELECT custkey, _side,
         first_value(r_orderkey IGNORE NULLS) OVER w AS o_orderkey,
         first_value(r_totalprice IGNORE NULLS) OVER w AS o_totalprice
  FROM u
  WINDOW w AS (PARTITION BY custkey ORDER BY _ts, _side
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT custkey, count(*) AS n_events, count(o_orderkey) AS n_matched,
       round(sum(o_totalprice), 2) AS price_sum
FROM carried WHERE _side = 1 GROUP BY custkey
"""


def q_changelog_retract(spark, sf_dir):
    """Changelog → retract stream (operators/stateful.changelog_to_retract):
    the orders changelog keyed by customer emits the +I/-U/+U RowKind
    sequence a Flink retract sink consumes (SURVEY §2.1 S8 semantics),
    one keyed shuffle."""
    from ..operators.stateful import changelog_to_retract

    o = load_table(spark, sf_dir, "orders")
    return changelog_to_retract(
        o,
        keys=["o_custkey"],
        order_by=[F.col("o_orderdate"), F.col("o_orderkey")],
        payload=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )


ORACLE_CHANGELOG_RETRACT = """
WITH seq AS (
  SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
         row_number() OVER w AS version,
         lag(o_orderkey)    OVER w AS p_orderkey,
         lag(o_orderstatus) OVER w AS p_orderstatus,
         lag(o_totalprice)  OVER w AS p_totalprice
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT o_custkey, version, '+I' AS row_kind, o_orderkey, o_orderstatus, o_totalprice
FROM seq WHERE version = 1
UNION ALL
SELECT o_custkey, version, '-U', p_orderkey, p_orderstatus, p_totalprice
FROM seq WHERE version > 1
UNION ALL
SELECT o_custkey, version, '+U', o_orderkey, o_orderstatus, o_totalprice
FROM seq WHERE version > 1
"""


def q_retract_agg(spark, sf_dir):
    """Retract-aware aggregation (the consumer side of Flink's changelog
    semantics): fold the +I/-U/+U stream with signed contributions —
    retractions subtract — so the aggregate nets out to CURRENT state, not
    history. Per customer the net totalprice equals the latest version's
    value, which is what the oracle asserts via last_value. One shuffle for
    the retract window (reused from changelog_to_retract) + one for the
    final aggregate."""
    from ..operators.stateful import changelog_to_retract

    o = load_table(spark, sf_dir, "orders")
    retract = changelog_to_retract(
        o,
        keys=["o_custkey"],
        order_by=[F.col("o_orderdate"), F.col("o_orderkey")],
        payload=["o_orderkey", "o_totalprice"],
    )
    signed = F.when(
        F.col("row_kind") == "-U", -F.col("o_totalprice")
    ).otherwise(F.col("o_totalprice"))
    return (
        retract.groupBy("o_custkey")
        .agg(
            F.round(F.sum(signed), 2).alias("current_totalprice"),
            F.max("version").alias("n_versions"),
        )
    )


ORACLE_RETRACT_AGG = """
WITH seq AS (
  SELECT o_custkey, o_totalprice,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY o_custkey) AS n
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC)
)
SELECT o_custkey, round(o_totalprice, 2) AS current_totalprice,
       n AS n_versions
FROM seq WHERE rn = 1
"""


_SQL_SURFACE = """
WITH daily AS (
  SELECT date_format(ts, 'yyyy-MM-dd') AS dt, user_id,
         count(*) AS n_events,
         round(sum(value), 2) AS value_sum
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY value_sum DESC, dt, user_id) AS rk
  FROM daily
)
SELECT r.dt, r.user_id, r.n_events, r.value_sum, r.rk,
       count(*) OVER () AS n_rows
FROM ranked r WHERE r.rk <= 20
"""


def q_sql_interface(spark, sf_dir):
    """The SQL-first interface (the reference's users write Flink SQL): the
    whole pipeline — CTEs, aggregate, global rank, windowed count — issued
    as ONE ``spark.sql`` string over registered views (io.register_views).
    Catalyst plans the identical pruned scan + WindowGroupLimit top-k it
    gives the DataFrame form; this query is the parity proof that a
    SQL-only user can drive the engine."""
    from ..io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_SURFACE)


ORACLE_SQL_INTERFACE = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS dt, user_id,
         count(*) AS n_events, round(sum(value), 2) AS value_sum
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY value_sum DESC, dt, user_id) AS rk
  FROM daily
)
SELECT dt, user_id, n_events, value_sum, rk,
       (SELECT count(*) FROM ranked WHERE rk <= 20) AS n_rows
FROM ranked WHERE rk <= 20
"""


def q_salted_join(spark, sf_dir):
    """Skew-mitigated join, driver-checked: orders ⋈ customer through
    operators/joins.salted_join (8 salts — the pre-planned skew strategy
    for when AQE can't apply, e.g. streaming micro-batches), aggregated to
    order counts + revenue per customer nation. Salting changes ONLY the
    shuffle distribution, so the result equals the plain equi-join the
    oracle runs."""
    from ..operators.joins import salted_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = salted_join(
        o.withColumnRenamed("o_custkey", "c_custkey"), c, "c_custkey", n_salts=8
    )
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


ORACLE_SALTED_JOIN = """
SELECT c_nationkey, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def q_unpivot(spark, sf_dir):
    """Unpivot (melt) — the inverse reshape of e_pivot: the wide daily
    counts matrix stacked back to long (dt, event_type, ct) via Spark's
    native ``unpivot``. Round-tripping through both reshapes is the
    wide↔long contract BI layers depend on; zero-filled cells survive as
    explicit zero rows."""
    types = ["click", "error", "purchase", "signup", "view"]
    wide = q_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["dt"],
        values=types,
        variableColumnName="event_type",
        valueColumnName="ct",
    )


ORACLE_UNPIVOT = """
WITH counts AS (
  SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type, count(*) AS ct
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT dt, t.event_type
  FROM (SELECT DISTINCT dt FROM counts)
  CROSS JOIN (SELECT unnest(['click','error','purchase','signup','view']) AS event_type) t
)
SELECT g.dt, g.event_type, coalesce(c.ct, 0) AS ct
FROM grid g LEFT JOIN counts c ON g.dt = c.dt AND g.event_type = c.event_type
"""


def q_outlier_stats(spark, sf_dir):
    """Statistical profiling with 3σ outlier counts per event type — the
    numeric-column screening step of data curation. Moments are EXACT:
    values live on the 2-dec grid, so Σv and Σv² are computed in centi-unit
    BIGINTs (order-independent, no float-summation drift); mean/σ then come
    from one identical double expression per engine, and sqrt is IEEE
    correctly-rounded (unlike ln) so both engines agree bit-for-bit. One
    aggregate + one broadcast-back pass."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("vc")
    )
    stats = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vc").alias("s1"),
        F.sum(F.col("vc") * F.col("vc")).alias("s2"),
    )
    mean_c = F.col("s1") / F.col("n")
    var_c = F.col("s2") / F.col("n") - mean_c * mean_c
    enriched = stats.withColumn("mean_c", mean_c).withColumn(
        "std_c", F.sqrt(var_c)
    )
    flagged = base.join(F.broadcast(enriched), "event_type").withColumn(
        "is_outlier",
        (F.abs(F.col("vc") - F.col("mean_c")) > 3 * F.col("std_c")).cast("bigint"),
    )
    return flagged.groupBy("event_type").agg(
        F.max("n").alias("n"),
        (F.floor(F.max("mean_c") * 100) / 10000).alias("mean_value"),
        (F.floor(F.max("std_c") * 100) / 10000).alias("std_value"),
        F.sum("is_outlier").alias("n_outliers"),
    )


ORACLE_OUTLIER = """
WITH base AS (
  SELECT event_type, round(value * 100)::BIGINT AS vc FROM events
),
stats AS (
  SELECT event_type, count(*) AS n, sum(vc) AS s1, sum(vc * vc) AS s2
  FROM base GROUP BY 1
),
enriched AS (
  SELECT event_type, n,
         s1 / n AS mean_c,
         sqrt(s2 / n - (s1 / n) * (s1 / n)) AS std_c
  FROM stats
)
SELECT b.event_type, max(e.n) AS n,
       floor(max(e.mean_c) * 100) / 10000 AS mean_value,
       floor(max(e.std_c) * 100) / 10000 AS std_value,
       sum(CASE WHEN abs(b.vc - e.mean_c) > 3 * e.std_c THEN 1 ELSE 0 END)::BIGINT
         AS n_outliers
FROM base b JOIN enriched e USING (event_type)
GROUP BY 1
"""


def q_rolling_window(spark, sf_dir):
    """Time-RANGE window frame: 7-day rolling order revenue per day — the
    range-interval frame (`RANGE BETWEEN INTERVAL 6 DAYS PRECEDING`)
    rows-based frames can't express over a sparse day grid. Pre-aggregate
    to the day grid first (the 100 TB discipline: the rolling pass runs
    over ~days rows, not raw orders), then — instead of an unpartitioned
    rangeBetween window — EXPLODE each
    day's contribution to the 6 following target days and hash-aggregate
    by target day: every stage is a keyed shuffle, no global sort, and
    the 7x expansion is of the tiny cached day grid. The rolling sum runs
    on the integer cent grid (playbook: integer-grid arithmetic for
    anything whose float summation order would otherwise differ between
    engines); the true sum is ON the money grid, so the final round(,2)
    agrees with the oracle's float window sum."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("dt"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("day_rev"))
        .withColumn("epoch_d", F.unix_date("dt"))
        .withColumn("day_cents", F.round(F.col("day_rev") * 100).cast("bigint"))
        .cache()
    )
    contrib = daily.select(
        F.explode(
            F.sequence(F.col("epoch_d"), F.col("epoch_d") + F.lit(6))
        ).alias("tgt"),
        "day_cents",
    )
    rolled = contrib.groupBy("tgt").agg(
        F.sum("day_cents").alias("roll_cents"),
        F.count(F.lit(1)).alias("days_in_frame"),
    )
    return daily.join(
        F.broadcast(rolled), F.col("epoch_d") == F.col("tgt")
    ).select(
        F.date_format("dt", "yyyy-MM-dd").alias("dt"),
        "day_rev",
        F.round(F.col("roll_cents") / 100.0, 2).alias("rolling_7d_rev"),
        "days_in_frame",
    )


ORACLE_ROLLING = """
WITH daily AS (
  SELECT o_orderdate::DATE AS dt, round(sum(o_totalprice), 2) AS day_rev
  FROM orders GROUP BY 1
)
SELECT strftime(dt, '%Y-%m-%d') AS dt, day_rev,
       round(sum(day_rev) OVER w, 2) AS rolling_7d_rev,
       count(*) OVER w AS days_in_frame
FROM daily
WINDOW w AS (ORDER BY dt RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
"""


def q_session_paths(spark, sf_dir):
    """Journey mining: sessionize (native session_window, 30 min gap),
    string the session's event types in time order into a path, rank the
    top-20 paths by frequency. Path assembly is sort_array over
    (ts, event_id, type) structs — deterministic under the unique event_id
    tie-break, unlike a bare collect_list. One session shuffle + one path
    count; the top-k is TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    sess = (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("w"), "user_id"
        )
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.transform(F.col("evs"), lambda e: e["event_type"]), ">"
            ).alias("path")
        )
    )
    return (
        sess.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


ORACLE_SESSION_PATHS = f"""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > {SESSION_GAP_S}
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), grp AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM seq
), paths AS (
  SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM grp GROUP BY user_id, session_no
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path LIMIT 20
"""


def q_funnel(spark, sf_dir):
    """Ordered conversion funnel view → click → purchase: each user's first
    view, first click strictly after that view, first purchase strictly
    after that click; corpus-level counts of users reaching each stage (the
    ClickHouse windowFunnel shape, left downstream by the reference).

    Scale shape: the three stage timestamps are chained conditional-min
    window passes over ONE user_id hash partitioning — Spark plans a single
    Exchange and reuses it for all three Window nodes and the per-user
    dedup; the final count is a scalar aggregate. Integer-only output."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = (
        ev.select("user_id", "ts", "event_type")
        .withColumn(
            "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .groupBy("user_id")
        # the window made t1..t3 per-user constants, so max == the value and
        # the groupBy reuses the window's hashpartitioning(user_id) with NO
        # new Exchange (a distinct over (user_id, t1, t2, t3) would re-hash)
        .agg(F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3"))
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("t1").isNotNull().cast("bigint")).alias("stage_view"),
        F.sum(F.col("t2").isNotNull().cast("bigint")).alias("stage_click"),
        F.sum(F.col("t3").isNotNull().cast("bigint")).alias("stage_purchase"),
    )


ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
             OVER (PARTITION BY user_id) AS t1
  FROM events
), s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                OVER (PARTITION BY user_id) AS t2
  FROM s1
), s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                OVER (PARTITION BY user_id) AS t3
  FROM s2
), per_user AS (
  SELECT DISTINCT user_id, t1, t2, t3 FROM s3
)
SELECT count(*) AS n_users,
       sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS stage_view,
       sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS stage_click,
       sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS stage_purchase
FROM per_user
"""


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-active date, distinct
    active users at day offsets 0–7 (the classic DAU-retention triangle).

    Scale shape: one distinct over (user, day) — the natural dedup grain —
    then the cohort date as a min-window over the user partitioning, then
    the (cohort, offset) count-distinct. Each step keys the shuffle on what
    the next consumes; no collect, no cross join; integer-only output."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("dt")).distinct()
    w = Window.partitionBy("user_id")
    return (
        days.withColumn("cohort_dt", F.min("dt").over(w))
        .withColumn("day_offset", F.datediff("dt", F.col("cohort_dt")))
        .filter(F.col("day_offset") <= 7)
        .groupBy(F.date_format("cohort_dt", "yyyy-MM-dd").alias("cohort_dt"), "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


ORACLE_COHORT = """
WITH days AS (
  SELECT DISTINCT user_id, ts::DATE AS dt FROM events
), coh AS (
  SELECT user_id, dt, min(dt) OVER (PARTITION BY user_id) AS cohort_dt
  FROM days
)
SELECT strftime(cohort_dt, '%Y-%m-%d') AS cohort_dt,
       date_diff('day', cohort_dt, dt)::INT AS day_offset,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM coh
WHERE date_diff('day', cohort_dt, dt) <= 7
GROUP BY 1, 2
"""


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering audit: events keyed by the interleaved
    (user bucket, time-of-day bucket) code, grouped into 16x16 tiles (the
    top 8 interleaved bits). Each tile's min/max span in BOTH dimensions is
    bounded at 15 — the property that makes a Z-ordered file layout prune
    scans on either column's min/max stats, where a plain sort would only
    prune its leading column. The write-time recipe at 100 TB is
    sort-within-partitions by z_key before landing files; this query is the
    layout-quality check that runs after.
    """
    from ..io import load_table, zorder_key

    ev = load_table(spark, sf_dir, "events")
    u = F.pmod(F.col("user_id"), F.lit(256))
    t8 = F.floor(F.pmod(F.unix_timestamp("ts"), F.lit(86400)) / F.lit(338)).cast(
        "bigint"
    )
    z = zorder_key([u, t8], bits=8)
    return (
        ev.select(u.alias("u"), t8.alias("t8"), z.alias("z"))
        .groupBy(F.shiftright(F.col("z"), 8).alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("u").alias("u_min"),
            F.max("u").alias("u_max"),
            F.min("t8").alias("t8_min"),
            F.max("t8").alias("t8_max"),
        )
    )


def _zorder_sql(u: str, t: str) -> str:
    terms = []
    for b in range(8):
        terms.append(f"((({u} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({t} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


ORACLE_ZORDER = f"""
WITH base AS (
  SELECT user_id % 256 AS u,
         ((floor(epoch(ts))::BIGINT % 86400) // 338) AS t8
  FROM events
), coded AS (
  SELECT u, t8, ({_zorder_sql('u', 't8')}) AS z FROM base
)
SELECT (z >> 8) AS tile, count(*) AS n_rows,
       min(u) AS u_min, max(u) AS u_max,
       min(t8) AS t8_min, max(t8) AS t8_max
FROM coded GROUP BY 1
"""


def q_zorder_prune(spark, sf_dir):
    """File-skipping simulation over the Z-order layout: treat each Morton
    tile as one data file with min/max column stats (what a parquet footer /
    Iceberg manifest stores) and plan the scan for the predicate
    ``u BETWEEN 100 AND 115`` — a tile is read iff its [u_min, u_max] range
    overlaps the predicate. Reports how many tiles/rows the pruned scan
    touches vs the full table: the concrete number the Z-order layout buys
    at 100 TB, where every skipped tile is a skipped file.
    """
    from ..io import load_table, zorder_key

    ev = load_table(spark, sf_dir, "events")
    u = F.pmod(F.col("user_id"), F.lit(256))
    t8 = F.floor(F.pmod(F.unix_timestamp("ts"), F.lit(86400)) / F.lit(338)).cast(
        "bigint"
    )
    z = zorder_key([u, t8], bits=8)
    tiles = (
        ev.select(u.alias("u"), z.alias("z"))
        .groupBy(F.shiftright(F.col("z"), 8).alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("u").alias("u_min"),
            F.max("u").alias("u_max"),
            F.sum((F.col("u").between(100, 115)).cast("bigint")).alias("n_match"),
        )
    )
    touched = (F.col("u_min") <= 115) & (F.col("u_max") >= 100)
    return tiles.agg(
        F.count(F.lit(1)).alias("tiles_total"),
        F.sum(touched.cast("bigint")).alias("tiles_read"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.when(touched, F.col("n_rows")).otherwise(F.lit(0))).alias("rows_read"),
        F.sum("n_match").alias("rows_match"),
    )


ORACLE_ZORDER_PRUNE = f"""
WITH base AS (
  SELECT user_id % 256 AS u,
         ((floor(epoch(ts))::BIGINT % 86400) // 338) AS t8
  FROM events
), coded AS (
  SELECT u, ({_zorder_sql('u', 't8')}) AS z FROM base
), tiles AS (
  SELECT (z >> 8) AS tile, count(*) AS n_rows,
         min(u) AS u_min, max(u) AS u_max,
         sum(CASE WHEN u BETWEEN 100 AND 115 THEN 1 ELSE 0 END)::BIGINT AS n_match
  FROM coded GROUP BY 1
)
SELECT count(*) AS tiles_total,
       sum(CASE WHEN u_min <= 115 AND u_max >= 100 THEN 1 ELSE 0 END)::BIGINT AS tiles_read,
       sum(n_rows)::BIGINT AS rows_total,
       sum(CASE WHEN u_min <= 115 AND u_max >= 100 THEN n_rows ELSE 0 END)::BIGINT AS rows_read,
       sum(n_match)::BIGINT AS rows_match
FROM tiles
"""


def q_mv_merge(spark, sf_dir):
    """Incremental materialized-view maintenance: the daily-revenue MV is
    kept as mergeable partials — a base aggregate (historical partitions)
    plus a delta aggregate (the newly arrived slice) re-aggregated, never a
    full recompute. count/sum partials merge exactly; the money grid is
    rounded once, at the END (round2 on the merged sum — rounding the
    partials first would double-round). The oracle is the full recompute,
    so the query IS the proof that merge == recompute. At 100 TB this is
    the difference between touching one day's partition and re-scanning
    the table."""

    ev = load_table(spark, sf_dir, "events")
    dt = F.date_format("ts", "yyyy-MM-dd").alias("dt")
    base = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) < 8)
    delta = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) >= 8)

    def partial(df):
        return df.groupBy(dt, "event_type").agg(
            F.count(F.lit(1)).alias("_n"), F.sum("value").alias("_s")
        )

    return (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("dt", "event_type")
        .agg(
            F.sum("_n").alias("n_events"),
            F.round(F.sum("_s"), 2).alias("value_sum"),
        )
    )


ORACLE_MV_MERGE = """
SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
       count(*) AS n_events, round(sum(value), 2) AS value_sum
FROM events GROUP BY 1, 2
"""


def q_group_quantiles(spark, sf_dir):
    """Exact per-group quantiles by nearest-rank selection (rank =
    ceil(q*n)): p50/p90 of event value per type. No float interpolation —
    the emitted values are actual data points, so parity is exact. The
    grouped complement of the global e_quantiles; the sketch-based
    alternative for unsorted 100 TB inputs is e_hist_quantile."""

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").asc(), F.col("event_id"))
    ranked = ev.select(
        "event_type", "value", F.row_number().over(w).alias("_rk")
    ).withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("event_type")))
    p50 = F.max(F.when(F.col("_rk") == F.ceil(F.col("_n") * 0.5), F.col("value")))
    p90 = F.max(F.when(F.col("_rk") == F.ceil(F.col("_n") * 0.9), F.col("value")))
    return ranked.groupBy("event_type").agg(
        p50.alias("p50"), p90.alias("p90"), F.max("_n").cast("bigint").alias("n")
    )


ORACLE_GROUP_QUANTILES = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       max(CASE WHEN rk = ceil(n * 0.5) THEN value END) AS p50,
       max(CASE WHEN rk = ceil(n * 0.9) THEN value END) AS p90,
       max(n)::BIGINT AS n
FROM ranked GROUP BY event_type
"""


def q_skew_distinct(spark, sf_dir):
    """Skew-safe exact distinct: count distinct users per event_type with the
    two-stage expansion — stage 1 dedups on (event_type, user_id) with the
    full composite key spread across all reducers, stage 2 counts the
    deduped rows per type. A direct countDistinct on 5 types would route
    every row through 5 reducers and hold a per-type hash set; the two-stage
    form is the standard rewrite when group cardinality is tiny and group
    sizes are huge (the definition of skew). Result is identical — the
    oracle computes the direct form."""

    ev = load_table(spark, sf_dir, "events")
    stage1 = ev.select("event_type", "user_id").distinct()
    return stage1.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )


ORACLE_SKEW_DISTINCT = """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
FROM events GROUP BY event_type
"""


SPECS = [
    QuerySpec("e_asof_tolerance", q_asof_tolerance, ORACLE_ASOF_TOLERANCE,
              doc="as-of join with 7-day tolerance: stale matches nulled post-window",
              tags=("ext", "join", "asof")),
    QuerySpec("e_attribution", q_attribution, ORACLE_ATTRIBUTION,
              doc="last-touch attribution: purchases credited to the preceding click within 1 h",
              tags=("ext", "asof", "analytics")),
    QuerySpec("e_gap_fill", q_gap_fill, ORACLE_GAP_FILL,
              doc="time-series densification: zero-filled hourly slots per type",
              tags=("ext", "window", "timeseries")),
    QuerySpec("e_asof_forward", q_asof_forward, ORACLE_ASOF_FORWARD,
              doc="forward as-of join: next order at-or-after each event, reverse-read window",
              tags=("ext", "join", "asof")),
    QuerySpec("e_retract_agg", q_retract_agg, ORACLE_RETRACT_AGG,
              doc="retract-aware aggregate: signed fold of +I/-U/+U nets out to current state",
              tags=("ext", "cdc", "S8")),
    QuerySpec("e_changelog_retract", q_changelog_retract, ORACLE_CHANGELOG_RETRACT,
              doc="changelog to retract stream: +I/-U/+U RowKind sequence per key version",
              tags=("ext", "cdc", "S8")),
    QuerySpec("e_sql_interface", q_sql_interface, ORACLE_SQL_INTERFACE,
              doc="full pipeline issued as one spark.sql string over registered views",
              tags=("ext", "sql")),
    QuerySpec("e_salted_join", q_salted_join, ORACLE_SALTED_JOIN,
              doc="pre-planned skew salting (8 salts), result-identical to the plain equi-join",
              tags=("ext", "join", "skew")),
    QuerySpec("e_unpivot", q_unpivot, ORACLE_UNPIVOT,
              doc="unpivot/melt: the wide pivot matrix back to long rows, zero cells explicit",
              tags=("ext", "reshape")),
    QuerySpec("e_outlier_stats", q_outlier_stats, ORACLE_OUTLIER,
              doc="3-sigma outlier screen: exact integer moments, IEEE sqrt, broadcast-back",
              tags=("ext", "agg", "stats")),
    QuerySpec("e_rolling_window", q_rolling_window, ORACLE_ROLLING,
              doc="7-day RANGE-frame rolling revenue over the pre-aggregated day grid",
              tags=("ext", "window", "timeseries")),
    QuerySpec("e_session_paths", q_session_paths, ORACLE_SESSION_PATHS,
              doc="journey mining: sessionized event-type paths, top-20 by frequency",
              tags=("ext", "window", "analytics")),
    QuerySpec("e_funnel", q_funnel, ORACLE_FUNNEL,
              doc="ordered view→click→purchase funnel: chained conditional-min windows, one shuffle",
              tags=("ext", "window", "analytics")),
    QuerySpec("e_cohort_retention", q_cohort_retention, ORACLE_COHORT,
              doc="first-active-date cohorts × day offsets 0-7, distinct-user retention counts",
              tags=("ext", "window", "analytics")),
    QuerySpec("e_bloom_join", q_bloom_join, ORACLE_BLOOM_JOIN,
              doc="Bloom-prefiltered supplier join: bitset prune before shuffle, exact join after",
              tags=("ext", "join", "sketch")),
    QuerySpec("e_range_join", q_range_join, ORACLE_RANGE_JOIN,
              doc="binned interval-overlap join: events inside incident windows",
              tags=("ext", "join", "range")),
    QuerySpec("e_hll_sliding", q_hll_sliding, _oracle_hll_sliding(),
              doc="sliding-window distinct via HLL register merging (3h windows, 1h hop)",
              tags=("ext", "sketch", "window")),
    QuerySpec("e_hll_distinct", q_hll_distinct, oracle_hll(),
              doc="deterministic HLL distinct sketch vs exact, per event_type",
              tags=("ext", "sketch", "agg")),
    QuerySpec("e_asof_join", q_asof_join, ORACLE_ASOF,
              doc="as-of join: latest order at-or-before each event, union-sort form",
              tags=("ext", "join", "asof")),
    QuerySpec("e_quantiles", q_quantiles, ORACLE_QUANTILES,
              doc="exact per-group order statistics by integer rank selection",
              tags=("ext", "window", "agg")),
    QuerySpec("e_running_total", q_running_total, ORACLE_RUNNING_TOTAL,
              doc="cumulative window aggregate over pre-aggregated daily grid",
              tags=("ext", "window")),
    QuerySpec("e_grouping_sets", q_grouping_sets, ORACLE_GROUPING_SETS,
              doc="GROUPING SETS irregular lattice aggregate",
              tags=("ext", "agg")),
    QuerySpec("e_window_functions", q_window_functions, ORACLE_WINDOW_FUNCTIONS,
              doc="ranking/navigation/distribution/frame window functions, one shuffle",
              tags=("ext", "window")),
    QuerySpec("e_semi_join", q_semi_join, ORACLE_SEMI, tags=("ext", "join")),
    QuerySpec("e_sliding_window", q_sliding_window, ORACLE_SLIDING, tags=("ext", "window", "streaming")),
    QuerySpec("e_cumulate_window", q_cumulate_window, ORACLE_CUMULATE, tags=("ext", "window")),
    QuerySpec("e_anti_join", q_anti_join, ORACLE_ANTI, tags=("ext", "join")),
    QuerySpec("e_rollup", q_rollup, ORACLE_ROLLUP, tags=("ext", "agg")),
    QuerySpec("e_cube", q_cube, ORACLE_CUBE, tags=("ext", "agg")),
    QuerySpec("e_distinct_agg", q_distinct_agg, ORACLE_DISTINCT, tags=("ext", "agg")),
    QuerySpec("e_topn_per_group", q_topn_per_group, ORACLE_TOPN, tags=("ext", "window")),
    QuerySpec("e_session_window", q_session_window, ORACLE_SESSION, tags=("ext", "window", "streaming")),
    QuerySpec("e_pivot", q_pivot, ORACLE_PIVOT, tags=("ext", "agg")),
    QuerySpec("e_value_histogram", q_value_histogram, ORACLE_HISTOGRAM, tags=("ext", "agg")),
    QuerySpec("e_hist_quantile", q_hist_quantile, ORACLE_HIST_QUANTILE,
              doc="mergeable histogram-quantile sketch: global p50/p90/p99 from fixed bins",
              tags=("ext", "agg", "sketch")),
    QuerySpec("e_zorder_layout", q_zorder_layout, ORACLE_ZORDER,
              doc="Z-order clustering audit: per-tile spans bounded in both interleaved dims",
              tags=("ext", "layout", "scale")),
    QuerySpec("e_zorder_prune", q_zorder_prune, ORACLE_ZORDER_PRUNE,
              doc="manifest-stats scan planning over Morton tiles: rows read vs full scan",
              tags=("ext", "layout", "scale")),
    QuerySpec("e_mv_merge", q_mv_merge, ORACLE_MV_MERGE,
              doc="incremental MV maintenance: mergeable partials == full recompute",
              tags=("ext", "agg", "scale")),
    QuerySpec("e_group_quantiles", q_group_quantiles, ORACLE_GROUP_QUANTILES,
              doc="exact per-group nearest-rank quantiles (p50/p90), zero interpolation",
              tags=("ext", "agg")),
    QuerySpec("e_skew_distinct", q_skew_distinct, ORACLE_SKEW_DISTINCT,
              doc="two-stage exact distinct under group skew: composite-key dedup then count",
              tags=("ext", "agg", "skew")),
]


# ------------------------------------------------- winsorized robust mean
def q_winsorize(spark, sf_dir):
    """Winsorized (p05/p95-clamped) mean order value per priority class —
    the robust-mean screen that survives fat-tailed value columns where a
    plain mean is one outlier away from useless.

    Scale shape: thresholds come from a VALUE HISTOGRAM (one hash-agg to
    (priority, cents) counts — bounded by the price grid, not the row
    count), a cumulative window over the histogram, then nearest-rank
    selection (smallest value whose cumulative count reaches ceil(p·n) via
    integer cross-multiplication, no float quantiles). The 5-row threshold
    table broadcasts back onto the raw scan for the clamp; the final mean
    is an exact integer cents sum + one integer division on the 1e-2 grid.
    Never a per-group sort of raw rows — the window runs over distinct
    values only.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    hist = o.groupBy("o_orderpriority", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "o_orderpriority", "cents", "cnt", F.sum("cnt").over(wcum).alias("cum")
    )
    tot = hist.groupBy("o_orderpriority").agg(F.sum("cnt").alias("n"))
    thr = (
        cum.join(tot, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_orders"),
            F.min(F.when(F.col("cum") * 20 >= F.col("n"), F.col("cents"))).alias("lo_c"),
            F.min(F.when(F.col("cum") * 20 >= 19 * F.col("n"), F.col("cents"))).alias("hi_c"),
        )
    )
    clamped = o.join(F.broadcast(thr), "o_orderpriority").select(
        "o_orderpriority", "n_orders", "lo_c", "hi_c",
        F.least(F.greatest(F.col("cents"), F.col("lo_c")), F.col("hi_c")).alias("wc"),
    )
    return clamped.groupBy("o_orderpriority").agg(
        F.max("n_orders").alias("n_orders"),
        (F.max("lo_c") / 100.0).alias("p05"),
        (F.max("hi_c") / 100.0).alias("p95"),
        (F.expr("sum(wc) div count(*)") / 100.0).alias("winsor_mean"),
    )


ORACLE_WINSORIZE = """
WITH o AS (
  SELECT o_orderpriority, floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
  FROM orders
),
hist AS (
  SELECT o_orderpriority, cents, count(*) AS cnt FROM o GROUP BY 1, 2
),
cum AS (
  SELECT o_orderpriority, cents, cnt,
         sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY cents) AS cum
  FROM hist
),
tot AS (SELECT o_orderpriority, sum(cnt) AS n FROM hist GROUP BY 1),
thr AS (
  SELECT c.o_orderpriority, max(t.n) AS n_orders,
         min(CASE WHEN c.cum * 20 >= t.n THEN c.cents END) AS lo_c,
         min(CASE WHEN c.cum * 20 >= 19 * t.n THEN c.cents END) AS hi_c
  FROM cum c JOIN tot t USING (o_orderpriority)
  GROUP BY 1
)
SELECT o.o_orderpriority,
       max(thr.n_orders)::BIGINT AS n_orders,
       max(thr.lo_c) / 100.0 AS p05,
       max(thr.hi_c) / 100.0 AS p95,
       (sum(least(greatest(o.cents, thr.lo_c), thr.hi_c))
        // count(*)) / 100.0 AS winsor_mean
FROM o JOIN thr USING (o_orderpriority)
GROUP BY 1
"""

SPECS.append(
    QuerySpec("e_winsorize", q_winsorize, ORACLE_WINSORIZE,
              doc="p05/p95-winsorized mean per priority via value-histogram nearest-rank thresholds",
              tags=("ext", "agg", "robust"))
)


# ------------------------------------------- point-in-time trailing features
def q_pit_features(spark, sf_dir):
    """Point-in-time feature generation (the feature-store contract): for
    every purchase event, the user's trailing-24h activity count and value
    sum over STRICTLY EARLIER events — no leakage of the current row or
    same-second peers, reproducible as-of training time.

    Scale shape: one keyed window (partition by user, RANGE frame over
    epoch seconds) — per-user event counts are bounded at any corpus size,
    so partition sort memory is flat; no self-join, no driver calendar.
    Value sums ride the exact integer cents grid.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("ts").cast("double")).cast("long").alias("epoch"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch")
        .rangeBetween(-86400, -1)
    )
    feats = ev.select(
        "event_id", "user_id", "event_type", "epoch",
        F.count(F.lit(1)).over(w).alias("trail_cnt"),
        F.coalesce(F.sum("cents").over(w), F.lit(0)).alias("trail_cents"),
    )
    return feats.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id",
        "trail_cnt",
        (F.col("trail_cents") / 100.0).alias("trail_value"),
    )


ORACLE_PIT_FEATURES = """
WITH ev AS (
  SELECT event_id, user_id, event_type,
         floor(epoch(ts))::BIGINT AS epoch,
         floor(value * 100 + 0.5)::BIGINT AS cents
  FROM events
),
feats AS (
  SELECT event_id, user_id, event_type,
         count(*) OVER w AS trail_cnt,
         coalesce(sum(cents) OVER w, 0) AS trail_cents
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch
               RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, trail_cnt::BIGINT AS trail_cnt,
       trail_cents / 100.0 AS trail_value
FROM feats WHERE event_type = 'purchase'
"""


# ------------------------------------------------- robust MAD outlier screen
def q_mad_outliers(spark, sf_dir):
    """Median/MAD robust outlier screen per event type: |v − median| >
    3·MAD flags rows a mean/σ screen would let a single spike poison.

    Both the median and the MAD come from VALUE HISTOGRAMS (distinct cents
    values, not raw rows) with nearest-rank selection (smallest value whose
    cumulative count doubles past n) — the same bounded-axis shape as
    e_winsorize, twice. Thresholds broadcast back for the flag count; all
    arithmetic integer cents.

    The per-type med/mad frames are CACHED: med feeds dev, mad, AND flagged — uncached, the same
    scan->histogram->window->agg chain compiled three times (17 shuffles,
    the registry's worst; three full fact scans at 100 TB where one
    suffices per pass). Cached, the plan is the inherent three passes:
    med histogram, deviation histogram, flag count.

    Caching the 2-column projected `ev` frame too (scan repeat 5
    otherwise) measured faster warm and cold at sf0.1 — kept. The cache is the pruned (event_type,
    cents) projection, ~16 B/row; at extreme scale MEMORY_AND_DISK
    spills gracefully and the three consumers still beat three full
    parquet passes, but if executor memory is the binding constraint the
    no-cache form is the documented fallback (same results, repeat 5).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    ).cache()

    def _nearest_rank_median(vals, key_col):
        hist = vals.groupBy(key_col, "v").agg(F.count(F.lit(1)).alias("cnt"))
        wc = (
            Window.partitionBy(key_col).orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = hist.select(key_col, "v", "cnt", F.sum("cnt").over(wc).alias("cum"))
        tot = hist.groupBy(key_col).agg(F.sum("cnt").alias("n"))
        return (
            cum.join(tot, key_col)
            .groupBy(key_col)
            .agg(F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("v"))).alias("med"))
        )

    med = _nearest_rank_median(
        ev.select("event_type", F.col("cents").alias("v")), "event_type"
    ).cache()
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "cents", F.abs(F.col("cents") - F.col("med")).alias("v")
    )
    mad = _nearest_rank_median(dev.select("event_type", "v"), "event_type") \
        .withColumnRenamed("med", "mad").cache()
    flagged = (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select(
            "event_type", "med", "mad",
            (F.abs(F.col("cents") - F.col("med")) > 3 * F.col("mad")).cast("int").alias("is_out"),
        )
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.max("med") / 100.0).alias("median_value"),
        (F.max("mad") / 100.0).alias("mad_value"),
        F.sum("is_out").alias("n_outliers"),
    )


ORACLE_MAD_OUTLIERS = """
WITH ev AS (
  SELECT event_type, floor(value * 100 + 0.5)::BIGINT AS cents FROM events
),
h1 AS (SELECT event_type, cents AS v, count(*) AS cnt FROM ev GROUP BY 1, 2),
c1 AS (
  SELECT event_type, v, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum
  FROM h1
),
t1 AS (SELECT event_type, sum(cnt) AS n FROM h1 GROUP BY 1),
med AS (
  SELECT c.event_type,
         min(CASE WHEN c.cum * 2 >= t.n THEN c.v END) AS med
  FROM c1 c JOIN t1 t USING (event_type) GROUP BY 1
),
dev AS (
  SELECT e.event_type, abs(e.cents - m.med) AS v
  FROM ev e JOIN med m USING (event_type)
),
h2 AS (SELECT event_type, v, count(*) AS cnt FROM dev GROUP BY 1, 2),
c2 AS (
  SELECT event_type, v, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum
  FROM h2
),
t2 AS (SELECT event_type, sum(cnt) AS n FROM h2 GROUP BY 1),
mad AS (
  SELECT c.event_type,
         min(CASE WHEN c.cum * 2 >= t.n THEN c.v END) AS mad
  FROM c2 c JOIN t2 t USING (event_type) GROUP BY 1
)
SELECT e.event_type,
       count(*)::BIGINT AS n_rows,
       max(m.med) / 100.0 AS median_value,
       max(d.mad) / 100.0 AS mad_value,
       sum(CASE WHEN abs(e.cents - m.med) > 3 * d.mad THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM ev e JOIN med m USING (event_type) JOIN mad d USING (event_type)
GROUP BY 1
"""


# ---------------------------------------------------- one-pass data profiler
def q_data_profile(spark, sf_dir):
    """Column-level data-quality profile of the events table — null count
    and exact distinct cardinality per column, the screen you run before
    trusting a new feed. ONE pass over the data: a single aggregate
    computes every per-column statistic (Spark plans multi-distinct via
    expand, still one scan), then the 1-row result unpivots to one row per
    column — never N scans for N columns."""
    ev = load_table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(c).alias(f"{c}__nn"))
        aggs.append(F.countDistinct(c).alias(f"{c}__nd"))
    one = ev.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', n_rows - {c}__nn, {c}__nd" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS (column_name, n_null, n_distinct)"
    )


ORACLE_DATA_PROFILE = """
SELECT 'event_id' AS column_name, (count(*) - count(event_id))::BIGINT AS n_null,
       count(DISTINCT event_id)::BIGINT AS n_distinct FROM events
UNION ALL
SELECT 'user_id', (count(*) - count(user_id))::BIGINT,
       count(DISTINCT user_id)::BIGINT FROM events
UNION ALL
SELECT 'event_type', (count(*) - count(event_type))::BIGINT,
       count(DISTINCT event_type)::BIGINT FROM events
UNION ALL
SELECT 'value', (count(*) - count(value))::BIGINT,
       count(DISTINCT value)::BIGINT FROM events
"""

SPECS += [
    QuerySpec("e_pit_features", q_pit_features, ORACLE_PIT_FEATURES,
              doc="point-in-time trailing-24h features per purchase, leakage-free RANGE frame",
              tags=("ext", "window", "feature")),
    QuerySpec("e_mad_outliers", q_mad_outliers, ORACLE_MAD_OUTLIERS,
              doc="median/MAD robust outlier screen via double value-histogram rank selection",
              tags=("ext", "agg", "robust")),
    QuerySpec("e_data_profile", q_data_profile, ORACLE_DATA_PROFILE,
              doc="one-pass per-column null/distinct profile (multi-distinct expand, then unpivot)",
              tags=("ext", "profile")),
]


# -------------------------------------------------- market-basket rules
_BASKET_CAP = 100  # pair-gen skew guard, same role as LSH max_bucket_size


def q_basket_rules(spark, sf_dir):
    """Association-rule mining over order baskets: support / confidence /
    lift for part pairs co-ordered ≥2 times. Pair generation (the SCALING
    outlier otherwise): collect each basket ONCE (sorted array per
    order — one keyed shuffle) and expand pairs JVM-side with nested
    array transforms, instead of the items-self-join that shuffled the
    items frame twice and sort-merge-joined it against itself. Baskets
    are bounded (<=7 items at any TPC-H scale) so the per-basket
    quadratic is constant work; ``_BASKET_CAP`` slices a pathological
    basket to its first 100 (sorted) parts — the same bound-the-skew
    guard as LSH's max_bucket_size, unreachable at fixture SFs (the
    oracle would flag any divergence). Item counts broadcast back onto
    the pair frame; every ratio is an integer cross-multiplication on a
    fixed grid.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    # every downstream quantity (n_orders, per-item counts, pairs) derives
    # from the CACHED basket manifest, so the expensive corpus distinct +
    # basket group-by compiles once instead of three times (A/B at sf0.1:
    # 1.57 s → 0.72 s warm). At 100 TB the cached frame is the per-order
    # basket manifest (7x fewer rows than items, arrays capped) — the
    # between-stage checkpoint a mining run would persist anyway.
    baskets = items.groupBy("l_orderkey").agg(
        F.slice(F.sort_array(F.collect_list("l_partkey")), 1, _BASKET_CAP).alias("ps")
    ).cache()
    n_orders = baskets.select(F.count(F.lit(1)).alias("n"))
    # c_item feeds BOTH broadcast sides of the rule join below, so the
    # uncached form compiles (and runs) the basket explode→aggregate
    # twice per action (two identical Generate→HashAggregate chains over
    # the cached baskets in the plan). The
    # per-item count table is bounded by |parts| — cache it once.
    c_item = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .cache()
    )
    # combinations: for the i-th part, pair with every later part in the
    # sorted basket (2-arg lambda = (element, index) form, 0-based)
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 2)
    )
    return (
        pairs.join(F.broadcast(c_item.selectExpr("l_partkey AS part_a", "c AS c_a")), "part_a")
        .join(F.broadcast(c_item.selectExpr("l_partkey AS part_b", "c AS c_b")), "part_b")
        .join(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "c_ab",
            (F.expr("(c_ab * 1000000) div n") / 1e6).alias("support"),
            (F.expr("(c_ab * 10000) div c_a") / 1e4).alias("confidence"),
            (F.expr("(c_ab * n * 10000) div (c_a * c_b)") / 1e4).alias("lift"),
        )
    )


ORACLE_BASKET_RULES = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
c_item AS (SELECT l_partkey, count(*) AS c FROM items GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS c_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p.part_a, p.part_b, p.c_ab::BIGINT AS c_ab,
       ((p.c_ab * 1000000) // n.n) / 1e6 AS support,
       ((p.c_ab * 10000) // ca.c) / 1e4 AS confidence,
       ((p.c_ab * n.n * 10000) // (ca.c * cb.c)) / 1e4 AS lift
FROM pairs p
JOIN c_item ca ON p.part_a = ca.l_partkey
JOIN c_item cb ON p.part_b = cb.l_partkey
CROSS JOIN n
"""


# ---------------------------------------------- event transition matrix
def q_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix of user event streams: counts
    and probabilities for event_type → next event_type, the session-flow
    fingerprint behind funnel design. One keyed lead window (per-user
    streams are bounded) + one hash aggregate; probabilities by integer
    cross-multiplication per from-state."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("event_type", F.lead("event_type").over(w).alias("next_type"))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = trans.groupBy("event_type").agg(F.sum("n_trans").alias("tot"))
    return trans.join(F.broadcast(tot), "event_type").select(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
        "n_trans",
        (F.expr("(n_trans * 10000) div tot") / 1e4).alias("prob"),
    )


ORACLE_MARKOV = """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
trans AS (
  SELECT event_type, next_type, count(*) AS n_trans
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT event_type, sum(n_trans) AS tot FROM trans GROUP BY 1)
SELECT t.event_type AS from_type, t.next_type AS to_type,
       t.n_trans::BIGINT AS n_trans,
       ((t.n_trans * 10000) // o.tot) / 1e4 AS prob
FROM trans t JOIN tot o USING (event_type)
"""


# -------------------------------------------------- as-of snapshot diff
_SNAP_T1 = "2024-01-02 00:00:00"
_SNAP_T2 = "2024-01-02 12:00:00"


def q_snapshot_diff(spark, sf_dir):
    """Snapshot diff of derived state between two as-of cutoffs — the
    reconciliation op for incremental pipelines: latest event value per
    user as-of T1 vs as-of T2, classified added / changed / unchanged
    (cutoffs chosen so the fixtures exercise ALL THREE branches at
    sf0.01/sf0.1 — a wide gap makes every user 'changed' and the
    classifier is never really tested).
    Each snapshot is one keyed latest-row window (WindowGroupLimit);
    the diff is a single outer join on the state key — no row-level
    history replay. Values compared on the exact cents grid."""

    def snapshot(cut: str):
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("ts") < F.lit(cut).cast("timestamp")
        )
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            ev.select(
                "user_id",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
                F.row_number().over(w).alias("rn"),
            )
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    s1 = snapshot(_SNAP_T1).withColumnRenamed("cents", "c1")
    s2 = snapshot(_SNAP_T2).withColumnRenamed("cents", "c2")
    diff = s2.join(s1, "user_id", "left").select(
        F.when(F.col("c1").isNull(), "added")
        .when(F.col("c1") != F.col("c2"), "changed")
        .otherwise("unchanged")
        .alias("status")
    )
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n_users"))


ORACLE_SNAPSHOT_DIFF = f"""
WITH s1 AS (
  SELECT user_id, floor(value * 100 + 0.5)::BIGINT AS c1
  FROM (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts < TIMESTAMP '{_SNAP_T1}'
  ) WHERE rn = 1
),
s2 AS (
  SELECT user_id, floor(value * 100 + 0.5)::BIGINT AS c2
  FROM (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts < TIMESTAMP '{_SNAP_T2}'
  ) WHERE rn = 1
)
SELECT CASE WHEN s1.c1 IS NULL THEN 'added'
            WHEN s1.c1 <> s2.c2 THEN 'changed'
            ELSE 'unchanged' END AS status,
       count(*)::BIGINT AS n_users
FROM s2 LEFT JOIN s1 USING (user_id)
GROUP BY 1
"""

SPECS += [
    QuerySpec("e_basket_rules", q_basket_rules, ORACLE_BASKET_RULES,
              doc="market-basket support/confidence/lift; per-basket bounded pair self-join",
              tags=("ext", "mining")),
    QuerySpec("e_markov_transitions", q_markov_transitions, ORACLE_MARKOV,
              doc="first-order event transition matrix with integer-grid probabilities",
              tags=("ext", "mining", "window")),
    QuerySpec("e_snapshot_diff", q_snapshot_diff, ORACLE_SNAPSHOT_DIFF,
              doc="as-of T1 vs T2 derived-state diff: added/changed/unchanged via one outer join",
              tags=("ext", "cdc")),
]


# ---------------------------------------------------------------- dyadic EWMA
def q_ewma(spark, sf_dir):
    """Per-user exponentially-weighted moving average of event values with
    a DYADIC kernel truncated to the trailing 8 events: weights 2^7..2^0
    over lags 0..7, normalized by the weight mass actually available
    (256 - 2^(8-k) for k observed lags). The dyadic choice is deliberate:
    every term is an integer product on the cent grid, so the smoother is
    BIGINT-exact cross-engine — the float-recursive EWMA
    (e_t = αv + (1-α)e_{t-1}) accumulates engine-dependent rounding and
    needs unbounded history, while the truncated kernel is one KEYED
    window with 8 lags (keyed by user_id: no global sort, ROWS-bounded
    O(8) state per key). The monitoring smoother for per-entity metric
    streams."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("v_cents"),
    )
    rn = F.row_number().over(w)
    wsum = None
    for j in range(8):
        term = F.coalesce(F.lag("v_cents", j).over(w), F.lit(0)) * F.lit(1 << (7 - j))
        wsum = term if wsum is None else wsum + term
    return (
        base.select(
            "user_id",
            "event_id",
            "v_cents",
            F.least(rn, F.lit(8)).cast("long").alias("n_in_frame"),
            wsum.alias("_wsum"),
        )
        .withColumn(
            "ewma_cents",
            F.expr("CAST(_wsum DIV (256 - shiftleft(1, 8 - n_in_frame)) AS BIGINT)"),
        )
        .drop("_wsum")
    )


_EWMA_LAGS = " + ".join(
    f"coalesce(lag(v_cents, {j}) OVER w, 0) * {1 << (7 - j)}" for j in range(8)
)

ORACLE_EWMA = f"""
WITH base AS (
  SELECT user_id, event_id, round(value * 100)::BIGINT AS v_cents, ts
  FROM events
),
lagged AS (
  SELECT user_id, event_id, v_cents,
         least(row_number() OVER w, 8)::BIGINT AS n_in_frame,
         ({_EWMA_LAGS}) AS wsum
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, v_cents, n_in_frame,
       (wsum // (256 - (1 << (8 - n_in_frame))))::BIGINT AS ewma_cents
FROM lagged
"""


SPECS += [
    QuerySpec("e_ewma", q_ewma, ORACLE_EWMA,
              doc="per-user dyadic-kernel EWMA over trailing 8 events, BIGINT-exact on the cent grid",
              tags=("ext", "window")),
]


# ------------------------------------------------- distribution statistics
def q_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov distance between the order-total
    distributions of the BUILDING and MACHINERY market segments — the
    distribution-shift test (drift monitors, A/B gates) computed as a
    distributed CDF comparison rather than a sort-and-scan.

    Scale shape: one o_custkey shuffle for the fact join, one hash-agg
    to per-cent-value conditional counts (the value grid is data-sized,
    NOT assumed bounded), BOTH prefix sums through a single
    distributed_cumsum pass (multi-column form: one range shuffle), and
    a 1-row scalar reduce for the sup.  Integer end-to-end: each CDF is
    quantized to ppm via BIGINT DIV before the gap — deterministic
    cross-engine, with the documented bound that cum * 1e6 fits BIGINT
    up to ~9e12 rows per side. Totals are guarded: an empty side (a
    fixture without one segment) yields the defined max-divergence 1e6
    instead of NULL-vs-error split between the engines."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    joined = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            (F.col("c_mktsegment") == "BUILDING").alias("is_a"),
        )
    )
    hist = joined.groupBy("cents").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("cnt_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("bigint").alias("cnt_b"),
    )
    cum = distributed_cumsum(hist, ["cents"], ["cnt_a", "cnt_b"], ["cum_a", "cum_b"])
    tot = hist.agg(
        F.sum("cnt_a").cast("bigint").alias("tot_a"),
        F.sum("cnt_b").cast("bigint").alias("tot_b"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "tot_a",
            "tot_b",
            F.expr(
                "abs(cum_a * 1000000 DIV greatest(tot_a, 1)"
                " - cum_b * 1000000 DIV greatest(tot_b, 1))"
            ).alias("gap_ppm"),
        )
        .groupBy("tot_a", "tot_b")
        .agg(F.max("gap_ppm").cast("bigint").alias("ks_ppm"))
    )


ORACLE_KS_TEST = """
WITH joined AS (
  SELECT round(o.o_totalprice * 100)::BIGINT AS cents,
         (c.c_mktsegment = 'BUILDING') AS is_a
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
),
hist AS (
  SELECT cents,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS cnt_a,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS cnt_b
  FROM joined GROUP BY 1
),
cum AS (
  SELECT sum(cnt_a) OVER (ORDER BY cents) AS cum_a,
         sum(cnt_b) OVER (ORDER BY cents) AS cum_b
  FROM hist
),
tot AS (
  SELECT sum(cnt_a)::BIGINT AS tot_a, sum(cnt_b)::BIGINT AS tot_b FROM hist
)
SELECT tot_a, tot_b,
       max(abs(cum_a * 1000000 // greatest(tot_a, 1)
               - cum_b * 1000000 // greatest(tot_b, 1)))::BIGINT AS ks_ppm
FROM cum, tot
GROUP BY tot_a, tot_b
"""


def q_ols_trend(spark, sf_dir):
    """Per-segment ordinary-least-squares trend of daily revenue: closed-form
    slope and intercept from the five sufficient statistics (n, Σx, Σy,
    Σxy, Σx²) — the regression that turns a revenue time series into a
    drift direction without any iterative fitting.

    Scale shape: two hash-aggs (daily rollup on (segment, day), then the
    sufficient statistics per segment — partial aggregation does the map-
    side combine), never a sort.  Integer end-to-end: x is the epoch-day
    re-centered at 10000 (|x| < ~5k for any date this side of 1997±40y),
    y is daily revenue cents; slope_milli = 1000·num DIV den evaluated as
    num DIV (den DIV 1000) to keep every intermediate under ~1e17 even at
    thousands of days × 1e13 cents/day; intercept_cents = (Σy −
    slope·Σx/1000) DIV n in the same guarded form."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")) - F.lit(10000))
            .cast("bigint")
            .alias("x"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100)).cast("bigint").alias("y"))
    )
    stats = daily.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return stats.select(
        "segment",
        "n",
        F.expr(
            "CAST((n * sxy - sx * sy) DIV greatest((n * sxx - sx * sx) DIV 1000, 1) AS BIGINT)"
        ).alias("slope_millicents_per_day"),
        F.expr(
            "CAST((sy - ((n * sxy - sx * sy) DIV greatest((n * sxx - sx * sx) DIV 1000, 1)) * sx DIV 1000) DIV n AS BIGINT)"
        ).alias("intercept_cents"),
    )


ORACLE_OLS_TREND = """
WITH daily AS (
  SELECT c.c_mktsegment AS segment,
         (date_diff('day', DATE '1970-01-01', o.o_orderdate) - 10000)::BIGINT AS x,
         sum(round(o.o_totalprice * 100))::BIGINT AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
stats AS (
  SELECT segment, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
         sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
         sum(x * x)::BIGINT AS sxx
  FROM daily GROUP BY 1
)
SELECT segment, n,
       ((n * sxy - sx * sy) // greatest((n * sxx - sx * sx) // 1000, 1))::BIGINT
         AS slope_millicents_per_day,
       ((sy - ((n * sxy - sx * sy) // greatest((n * sxx - sx * sx) // 1000, 1)) * sx // 1000) // n)::BIGINT
         AS intercept_cents
FROM stats
"""


def q_gini(spark, sf_dir):
    """Per-segment Gini coefficient of order totals — the concentration
    index that tells a corpus/revenue steward whether a segment's volume
    is dominated by a few whales (the same statistic used to audit
    domain-share concentration in training mixes).

    Scale shape: rank via a KEYED window (partitionBy segment — never a
    global sort), one hash-agg for the rank-weighted sums.  The rank
    formula G = (2·Σ(i·x_i) − (n+1)·Σx) / (n·Σx) runs in BIGINTs with
    the guarded-DIV pattern (ppm = num DIV (den DIV 1e6)); ties order by
    the unique o_orderkey so both engines rank identically."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    ranked = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            "o_orderkey",
        )
        .withColumn(
            "i",
            F.row_number().over(
                Window.partitionBy("segment").orderBy("cents", "o_orderkey")
            ).cast("bigint"),
        )
    )
    return (
        ranked.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sx"),
            F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("six"),
        )
        .select(
            "segment",
            "n",
            F.expr(
                "CAST((2 * six - (n + 1) * sx) DIV greatest(n * sx DIV 1000000, 1) AS BIGINT)"
            ).alias("gini_ppm"),
        )
    )


ORACLE_GINI = """
WITH ranked AS (
  SELECT c.c_mktsegment AS segment,
         round(o.o_totalprice * 100)::BIGINT AS cents,
         row_number() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY round(o.o_totalprice * 100)::BIGINT, o.o_orderkey)::BIGINT AS i
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT segment, count(*)::BIGINT AS n,
       ((2 * sum(i * cents) - (count(*) + 1) * sum(cents))
        // greatest(count(*) * sum(cents) // 1000000, 1))::BIGINT AS gini_ppm
FROM ranked GROUP BY 1
"""


def q_skyline(spark, sf_dir):
    """Per-segment Pareto frontier (skyline) of customers over two
    maximize-dimensions: order count and account balance.  A customer is
    on the frontier iff no other customer in the segment weakly dominates
    it (≥ on both, > on at least one) — the multi-objective shortlist
    query (best suppliers, best corpus sources by quality × volume).

    Scale shape: per-customer rollup (one shuffle), then dominance via
    TWO keyed window maxima over the (segment)-partitioned frame ordered
    by n_orders: max balance over strictly-higher counts (RANGE 1
    FOLLOWING → UNBOUNDED) and max balance among count-ties (RANGE
    CURRENT ROW peers) — O(n log n) per segment instead of the naive
    all-pairs O(n²); no global sort, no crossJoin.  Balances compare on
    the cent grid; the oracle is an independent NOT EXISTS dominance
    formulation, so the window rewrite is what is being verified."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", F.col("c_mktsegment").alias("segment"), "n_orders", "bal_cents")
    )
    w_above = (
        Window.partitionBy("segment")
        .orderBy("n_orders")
        .rangeBetween(1, Window.unboundedFollowing)
    )
    w_peer = (
        Window.partitionBy("segment")
        .orderBy("n_orders")
        .rangeBetween(Window.currentRow, Window.currentRow)
    )
    return (
        per_cust.withColumn("max_above", F.max("bal_cents").over(w_above))
        .withColumn("max_peer", F.max("bal_cents").over(w_peer))
        .filter(
            (F.col("max_above").isNull() | (F.col("max_above") < F.col("bal_cents")))
            & (F.col("max_peer") <= F.col("bal_cents"))
        )
        .select("segment", "c_custkey", "n_orders", "bal_cents")
    )


ORACLE_SKYLINE = """
WITH per_cust AS (
  SELECT c.c_custkey, c.c_mktsegment AS segment,
         o.n_orders, round(c.c_acctbal * 100)::BIGINT AS bal_cents
  FROM (
    SELECT o_custkey, count(*)::BIGINT AS n_orders FROM orders GROUP BY 1
  ) o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT segment, c_custkey, n_orders, bal_cents
FROM per_cust p
WHERE NOT EXISTS (
  SELECT 1 FROM per_cust q
  WHERE q.segment = p.segment
    AND q.n_orders >= p.n_orders AND q.bal_cents >= p.bal_cents
    AND (q.n_orders > p.n_orders OR q.bal_cents > p.bal_cents)
)
"""


SPECS += [
    QuerySpec("e_ks_test", q_ks_test, ORACLE_KS_TEST,
              doc="two-sample KS distance between segment order-total CDFs, distributed prefix sums, ppm grid",
              tags=("ext", "stats")),
    QuerySpec("e_ols_trend", q_ols_trend, ORACLE_OLS_TREND,
              doc="closed-form per-segment OLS slope/intercept of daily revenue from five sufficient statistics",
              tags=("ext", "stats")),
    QuerySpec("e_gini", q_gini, ORACLE_GINI,
              doc="per-segment Gini concentration of order totals via the keyed rank formula, ppm grid",
              tags=("ext", "stats")),
    QuerySpec("e_skyline", q_skyline, ORACLE_SKYLINE,
              doc="per-segment 2D Pareto frontier via keyed window maxima; oracle is NOT EXISTS dominance",
              tags=("ext", "stats")),
]


def q_hll_intersect(spark, sf_dir):
    """Audience-overlap estimate from mergeable sketches: distinct users
    who 'click' vs who 'purchase', their union via register max-merge, and
    the inclusion-exclusion intersection estimate — alongside the exact
    counts so the estimator error is visible.  This is the sketch algebra
    that lets a 100 TB engine answer overlap questions from KBs of state:
    the union sketch comes from merging the two groups' registers, never
    from rescanning the data.

    Scale shape: one scan feeds the per-type register agg (<=2*256 rows
    survive), the union is a second tiny agg over those registers, exact
    counts are hash-aggs; the final frame is 1 row.  The estimate
    arithmetic is the module's integer-exact harmonic sum with identical
    expression trees cross-engine."""
    from ..operators import sketches

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    regs = sketches.hll_buckets(
        ev, F.col("user_id").cast("string"), ["event_type"]
    ).cache()
    est = sketches.hll_estimate(regs, ["event_type"])
    union_regs = regs.groupBy("_bucket").agg(F.max("_max_rho").alias("_max_rho"))
    est_union = sketches.hll_estimate(
        union_regs.withColumn("_g", F.lit(1)), ["_g"]
    ).select(F.col("hll_est").alias("est_union"))
    users = ev.select("event_type", "user_id").distinct()
    exact = users.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("_nt")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_any"),
        F.sum(F.when(F.col("_nt") == 2, 1).otherwise(0)).cast("bigint").alias("exact_both"),
    )
    wide = (
        est.groupBy()
        .pivot("event_type", ["click", "purchase"])
        .agg(F.first("hll_est"))
        .select(
            F.col("click").alias("est_a"), F.col("purchase").alias("est_b")
        )
    )
    return (
        wide.crossJoin(F.broadcast(est_union))
        .crossJoin(F.broadcast(exact))
        .select(
            "exact_any",
            "exact_both",
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersect"
            ),
        )
    )


def _oracle_hll_intersect() -> str:
    from ..functions.hashing import portable_hash64_sql
    from ..operators import sketches

    return f"""
WITH ev AS (
  SELECT event_type, user_id FROM events
  WHERE event_type IN ('click', 'purchase')
),
h AS (
  SELECT event_type, {portable_hash64_sql("CAST(user_id AS VARCHAR)")} AS _h
  FROM ev
),
r AS (SELECT event_type, {sketches.hll_rho_sql("_h")} FROM h),
reg AS (
  SELECT event_type, _bucket, max(_rho) AS _max_rho FROM r GROUP BY 1, 2
),
est AS (
  SELECT event_type, {sketches.hll_estimate_sql()} AS hll_est
  FROM reg GROUP BY 1
),
ureg AS (SELECT _bucket, max(_max_rho) AS _max_rho FROM reg GROUP BY 1),
uest AS (SELECT {sketches.hll_estimate_sql()} AS est_union FROM ureg),
users AS (SELECT DISTINCT event_type, user_id FROM ev),
exact AS (
  SELECT count(*)::BIGINT AS exact_any,
         sum(CASE WHEN nt = 2 THEN 1 ELSE 0 END)::BIGINT AS exact_both
  FROM (SELECT user_id, count(*) AS nt FROM users GROUP BY 1)
),
wide AS (
  SELECT max(CASE WHEN event_type = 'click' THEN hll_est END) AS est_a,
         max(CASE WHEN event_type = 'purchase' THEN hll_est END) AS est_b
  FROM est
)
SELECT exact_any, exact_both, est_a, est_b, est_union,
       est_a + est_b - est_union AS est_intersect
FROM wide, uest, exact
"""


def q_record_linkage(spark, sf_dir):
    """Sorted-neighborhood record linkage: candidate duplicate customer
    records per nation, found by sorting names within each nation block
    and comparing each record to its next 3 sort-neighbors with an edit
    distance <= 2 — the scalable entity-resolution pattern (block, sort,
    slide a window) that replaces the quadratic all-pairs compare.

    Scale shape: one shuffle on the block key, a KEYED window for the
    3 leads (never a global sort), and JVM-side levenshtein on the
    candidate pairs only — per-block cost O(b·W) instead of O(b²).
    Levenshtein is exact integer cross-engine.  The oracle is an
    INDEPENDENT formulation: rank + self-join on rank distance <= 3,
    so the window-lead rewrite is what is being verified."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey"), "c_name"
    )
    w = Window.partitionBy("nationkey").orderBy("c_name")
    pairs = None
    base = cust.withColumn("name_a", F.col("c_name"))
    for j in (1, 2, 3):
        p = base.withColumn("name_b", F.lead("c_name", j).over(w))
        pairs = p if pairs is None else pairs.unionByName(p)
    return (
        pairs.filter(F.col("name_b").isNotNull())
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 2)
        .select("nationkey", "name_a", "name_b", "dist")
    )


ORACLE_RECORD_LINKAGE = """
WITH ranked AS (
  SELECT c_nationkey::BIGINT AS nationkey, c_name,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_name) AS rk
  FROM customer
)
SELECT a.nationkey, a.c_name AS name_a, b.c_name AS name_b,
       levenshtein(a.c_name, b.c_name)::BIGINT AS dist
FROM ranked a JOIN ranked b
  ON a.nationkey = b.nationkey AND b.rk - a.rk BETWEEN 1 AND 3
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


SPECS += [
    QuerySpec("e_hll_intersect", q_hll_intersect, _oracle_hll_intersect(),
              doc="sketch-algebra audience overlap: HLL union via register merge + inclusion-exclusion intersect",
              tags=("ext", "sketch")),
    QuerySpec("e_record_linkage", q_record_linkage, ORACLE_RECORD_LINKAGE,
              doc="sorted-neighborhood entity resolution: blocked 3-neighbor levenshtein<=2 candidate pairs",
              tags=("ext", "dedup")),
]


def q_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap confidence interval for the mean order value —
    uncertainty quantification in ONE scan: instead of resampling passes,
    each row draws a deterministic Poisson(1) weight per replicate from
    the portable hash of (orderkey, replicate), so 32 bootstrap means
    come out of a single explode + hash-agg (the MapReduce one-pass
    bootstrap).  The Poisson(1) CDF is hard-quantized to the 1e-6 grid
    (367879, 735759, 919699, 980979, 996340, 999406 — floor(1e6·CDF)
    constants, integers in both engines), weights and sums stay BIGINT,
    and each replicate mean is one guarded DIV.

    Scale shape: the explode is a constant 32× amplification collapsed
    immediately by a map-side-combined hash-agg to 32 rows; the order
    statistics run over those 32 rows (bounded by CONFIG, a benign
    scalar-class final agg).  lo/hi are the 2nd and 31st order statistics
    (~[3,97]% for 32 replicates)."""
    from ..functions.hashing import portable_hash64

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # ONE portable hash per row, then the affine universal family (the
    # minhash/CMS constants) derives all 32 replicate draws with integer
    # ops — bench showed the per-(row, replicate) md5 dominating the
    # query (4.4 s warm at sf0.1, the worst headliner; this form is ~6x
    # cheaper and just as deterministic). (1 + 31*A_STEP) * P < 2^53, so
    # the product is exact BIGINT in both engines.
    reps = o.withColumn(
        "_hb",
        F.pmod(portable_hash64(F.col("o_orderkey").cast("string")), F.lit(2147483647)),
    ).select(
        "o_orderkey",
        "cents",
        "_hb",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("r"),
    ).withColumn(
        "u",
        F.expr(
            "(((1 + r * 104729) * _hb + 7 + r * 7919) % 2147483647) % 1000000"
        ),
    ).withColumn(
        "w",
        F.expr(
            "CASE WHEN u < 367879 THEN 0L WHEN u < 735759 THEN 1L"
            " WHEN u < 919699 THEN 2L WHEN u < 980979 THEN 3L"
            " WHEN u < 996340 THEN 4L WHEN u < 999406 THEN 5L ELSE 6L END"
        ),
    )
    means = reps.groupBy("r").agg(
        F.expr("CAST(sum(w * cents) DIV greatest(sum(w), 1) AS BIGINT)").alias(
            "rep_mean_cents"
        )
    )
    point = o.agg(
        F.expr("CAST(sum(cents) DIV count(*) AS BIGINT)").alias("point_mean_cents")
    )
    return (
        means.agg(F.sort_array(F.collect_list("rep_mean_cents")).alias("ms"))
        .crossJoin(F.broadcast(point))
        .select(
            "point_mean_cents",
            F.element_at("ms", 2).alias("boot_lo_cents"),
            F.element_at("ms", 31).alias("boot_hi_cents"),
            F.size("ms").cast("long").alias("n_replicates"),
        )
    )


def _oracle_bootstrap_ci() -> str:
    from ..functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("o_orderkey::VARCHAR")
    return f"""
WITH o AS (
  SELECT o_orderkey, round(o_totalprice * 100)::BIGINT AS cents FROM orders
),
hb AS (
  SELECT o_orderkey, cents, ({h} % 2147483647) AS _hb FROM o
),
reps AS (
  SELECT o_orderkey, cents, r,
         ((((1 + r * 104729) * _hb + 7 + r * 7919) % 2147483647) % 1000000) AS u
  FROM hb CROSS JOIN (SELECT unnest(range(32))::BIGINT AS r)
),
wts AS (
  SELECT r, cents,
         (CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
               WHEN u < 919699 THEN 2 WHEN u < 980979 THEN 3
               WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5 ELSE 6 END)::BIGINT AS w
  FROM reps
),
means AS (
  SELECT r, (sum(w * cents) // greatest(sum(w), 1))::BIGINT AS rep_mean_cents
  FROM wts GROUP BY 1
),
arr AS (SELECT list_sort(list(rep_mean_cents)) AS ms FROM means),
point AS (SELECT (sum(cents) // count(*))::BIGINT AS point_mean_cents FROM o)
SELECT point_mean_cents, ms[2] AS boot_lo_cents, ms[31] AS boot_hi_cents,
       len(ms)::BIGINT AS n_replicates
FROM arr, point
"""


SPECS += [
    QuerySpec("e_bootstrap_ci", q_bootstrap_ci, _oracle_bootstrap_ci(),
              doc="one-pass deterministic Poisson bootstrap: 32 hash-replicate means, order-statistic CI",
              tags=("ext", "stats")),
]


# ---------------------------------------------------------------- Benford first-digit audit
# log10(1 + 1/d) on a ppm grid, d = 1..9 — shared integer constants in
# both engines, so no ln/log10 call whose libm rounding could differ.
_BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)


def q_benford(spark, sf_dir):
    """Benford first-significant-digit audit per event type — the
    fraud/synthetic-data screen: natural multi-scale amounts follow
    P(d) = log10(1+1/d); fabricated or uniform-generated values do not.
    Output per (event_type, digit): observed count, observed frequency
    (ppm grid), the Benford expectation, the signed deviation, and the
    event type's chi-square-style divergence (sum over digits of
    (obs_ppm - exp_ppm)^2 div exp_ppm — on the ppm grid, so the statistic
    is BIGINT-exact and shuffle-order-free; the expectation table is a
    9-row integer literal, not a runtime log call, because libm log10 is
    not guaranteed bit-identical across engines).

    First digit of |value_cents| == first significant digit of |value|
    (the x100 grid shift moves the decimal point, never the leading
    digit). abs() BEFORE the string slice on BOTH sides: a negative value
    would put '-' in position 1, which Spark CAST nulls but DuckDB CAST
    raises on — an engine split that must not hide behind the fixture's
    value >= 0.01 guarantee.

    Scale shape: map-only digit extraction, one (event_type, digit) hash
    agg (<= 9 x |types| rows), a broadcast join against the 9-row
    expectation literal, and a keyed 9-row window for the per-type total —
    nothing data-proportional past the first aggregate. At 100 TB this is
    one pass over the events scan."""
    ev = load_table(spark, sf_dir, "events")
    digits = benford_digits(ev)
    counts = digits.groupBy("event_type", "digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    return benford_from_counts(counts)


# Benford pipeline pieces, shared with the streaming twin
# (s_stream_benford runs the digit extraction + count through Structured
# Streaming and this exact tail over the drained image).
def benford_digits(ev):
    """(event_type, digit) rows: first significant digit of |value_cents|.
    A 0-cent value (|value| < 0.005) has NO significant digit — excluded
    on BOTH sides before the per-type total, or the frequency base drifts
    by the zero count (caught at sf0.1: one such row per type)."""
    return ev.select(
        "event_type",
        F.expr(
            "CAST(substring(CAST(abs(CAST(round(value * 100) AS BIGINT)) AS STRING), 1, 1) AS INT)"
        ).alias("digit"),
    ).filter(F.col("digit").between(1, 9))


def benford_from_counts(counts):
    """Expectation join + ppm stats over a (event_type, digit, n) frame."""
    spark = counts.sparkSession
    bexp = spark.createDataFrame(
        [(d + 1, ppm) for d, ppm in enumerate(_BENFORD_PPM)],
        "digit int, benford_ppm bigint",
    )
    wt = Window.partitionBy("event_type")
    per = (
        counts.withColumn("n_type", F.sum("n").over(wt))
        .join(F.broadcast(bexp), "digit")
        .select(
            "event_type",
            "digit",
            "n",
            F.expr("CAST(n * 1000000 DIV n_type AS BIGINT)").alias("obs_ppm"),
            "benford_ppm",
        )
        .withColumn("dev_ppm", F.col("obs_ppm") - F.col("benford_ppm"))
    )
    return per.withColumn(
        "chi2_ppm",
        F.sum(
            F.expr("(obs_ppm - benford_ppm) * (obs_ppm - benford_ppm) DIV benford_ppm")
        ).over(wt).cast("bigint"),
    )


ORACLE_BENFORD = """
WITH bexp AS (
  SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
                        (5, 79181), (6, 66947), (7, 57992), (8, 51153),
                        (9, 45757)) AS t(digit, benford_ppm)
),
digits AS (
  SELECT event_type, digit FROM (
    SELECT event_type,
           CAST(substr(CAST(abs(round(value * 100)::BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
    FROM events
  ) WHERE digit BETWEEN 1 AND 9
),
counts AS (
  SELECT event_type, digit, count(*)::BIGINT AS n FROM digits GROUP BY 1, 2
),
per AS (
  SELECT c.event_type, c.digit, c.n,
         ((c.n * 1000000) // sum(c.n) OVER (PARTITION BY c.event_type))::BIGINT AS obs_ppm,
         b.benford_ppm::BIGINT AS benford_ppm
  FROM counts c JOIN bexp b USING (digit)
)
SELECT event_type, digit, n, obs_ppm, benford_ppm,
       (obs_ppm - benford_ppm)::BIGINT AS dev_ppm,
       sum((obs_ppm - benford_ppm) * (obs_ppm - benford_ppm) // benford_ppm)
           OVER (PARTITION BY event_type)::BIGINT AS chi2_ppm
FROM per
"""


# ---------------------------------------------------------------- Pearson correlation pairs
def q_corr_pairs(spark, sf_dir):
    """Pearson correlation between every PAIR of event types' daily-total
    series (shared days only — an inner join on day, so a type that is
    dark on a day contributes no zero-inflation): the metric co-movement
    matrix behind dashboard "related metrics" panels and redundancy pruning
    of monitoring series.

    Numeric contract: all five correlation sums (n, Σx, Σy, Σxy, Σx², Σy²)
    are BIGINT-exact on the cent grid; only the final ratio touches floats,
    as floor(1e6·num / (sqrt(dx)·sqrt(dy))) — IEEE-754 sqrt/multiply/divide
    are correctly-rounded, so both engines floor the identical double
    (unlike ln/log10, which have no such guarantee; same reasoning as the
    Benford constant table above). Degenerate pairs (a constant series:
    zero variance) emit NULL rather than a fake 0. Headroom: daily cents
    totals up to ~3e9 keep n·Σxy below 2^63 for ~10^5 shared days; at a
    scale that threatens the bound, coarsen the grid (dollars) — the
    docstring knob, same convention as knn_graph's dims.

    Scale shape: one (event_type, day) hash agg over the events scan, a
    day-keyed self-join of that TINY aggregate (|types| x |days| rows),
    one (type, type) hash agg. At 100 TB only the first aggregate sees
    data-proportional rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("dt")
    ).agg(F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"))
    a, b = daily.alias("a"), daily.alias("b")
    joined = a.join(b, "dt").filter(F.col("a.event_type") < F.col("b.event_type"))
    sums = joined.groupBy(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("a.cents").alias("sx"),
        F.sum("b.cents").alias("sy"),
        F.sum(F.col("a.cents") * F.col("b.cents")).alias("sxy"),
        F.sum(F.col("a.cents") * F.col("a.cents")).alias("sxx"),
        F.sum(F.col("b.cents") * F.col("b.cents")).alias("syy"),
    )
    return sums.select(
        "type_a",
        "type_b",
        "n_days",
        F.expr(
            "CASE WHEN n_days * sxx - sx * sx > 0 AND n_days * syy - sy * sy > 0 "
            "THEN CAST(floor(1000000.0 * (n_days * sxy - sx * sy) / "
            "(sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)) * "
            "sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)))) AS BIGINT) "
            "ELSE NULL END"
        ).alias("corr_micro"),
    )


ORACLE_CORR_PAIRS = """
WITH daily AS (
  SELECT event_type, ts::DATE AS dt, sum(round(value * 100)::BIGINT)::BIGINT AS cents
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.cents AS xa, b.cents AS xb
  FROM daily a JOIN daily b ON a.dt = b.dt AND a.event_type < b.event_type
),
sums AS (
  SELECT type_a, type_b, count(*)::BIGINT AS n_days,
         sum(xa)::BIGINT AS sx, sum(xb)::BIGINT AS sy,
         sum(xa * xb)::BIGINT AS sxy,
         sum(xa * xa)::BIGINT AS sxx, sum(xb * xb)::BIGINT AS syy
  FROM j GROUP BY 1, 2
)
SELECT type_a, type_b, n_days,
       CASE WHEN n_days * sxx - sx * sx > 0 AND n_days * syy - sy * sy > 0
            THEN floor(1000000.0 * (n_days * sxy - sx * sy) /
                 (sqrt((n_days * sxx - sx * sx)::DOUBLE) *
                  sqrt((n_days * syy - sy * sy)::DOUBLE)))::BIGINT
            ELSE NULL END AS corr_micro
FROM sums
"""


SPECS += [
    QuerySpec("e_benford", q_benford, ORACLE_BENFORD,
              doc="Benford first-digit audit per event type: ppm-grid frequencies + chi-square divergence",
              tags=("ext", "stats")),
    QuerySpec("e_corr_pairs", q_corr_pairs, ORACLE_CORR_PAIRS,
              doc="Pearson correlation matrix of event-type daily series, micro-grid with exact BIGINT sums",
              tags=("ext", "stats")),
]


# ---------------------------------------------------------------- RFM segmentation
def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation — the retention-marketing classic: each
    user scored 1-3 on Recency (days since their last event, relative to
    the corpus max date), Frequency (event count) and Monetary (cent
    total) by TERCILES of the per-user distribution, then rolled up to
    the <=27 (r,f,m) segments with user counts and segment revenue.

    Tercile thresholds come from value HISTOGRAMS prefix-summed with the
    shared distributed_cumsum (t_k = smallest value whose cumulative user
    count reaches k/3 of users) — no global sort, no single-partition
    window, the same distributed-quantile shape as x_select_pipeline's
    CCNet cut. Scores are plain tercile indexes ascending in the metric
    (r_t=1 means MOST recent, f_t/m_t=3 mean most active/valuable).

    Scale shape (not three separate histogram→cumsum→threshold chains off
    an UNCACHED per-user frame, which cost 33 shuffles, 10
    single-partition scalar-agg exchanges and the grand-total block
    compiled ~3×): one cached per-user hash agg, the
    three metrics MELTED into one (metric, value) histogram — each metric
    contributes exactly n_users rows, so after ONE distributed_cumsum
    ordered by (midx, v) the per-metric cumulative count is simply
    cum − midx·n — then a single scalar aggregate emits all six tercile
    cut points in one row. Two scalar-agg exchanges total (max-date+count,
    thresholds), both benign partial-agg reductions."""
    ev = load_table(spark, sf_dir, "events")
    pu0 = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("_last"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("mon_cents"),
        )
        .cache()
    )
    # corpus max date == max of per-user last dates, so one scalar agg
    # over the cached per-user frame serves both the recency anchor and
    # the user count (1-row frame, cached so each consumer reads the
    # materialized row instead of recompiling the exchange).
    mxn = pu0.agg(
        F.max("_last").alias("_mxd"), F.count(F.lit(1)).alias("_n")
    ).cache()
    per_user = (
        pu0.join(F.broadcast(mxn))
        .select(
            "user_id",
            F.datediff(F.col("_mxd"), F.col("_last")).cast("bigint").alias("rec_days"),
            "freq",
            "mon_cents",
        )
    )
    melted = per_user.select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("midx"), F.col("rec_days").alias("v")),
                F.struct(F.lit(1).alias("midx"), F.col("freq").alias("v")),
                F.struct(F.lit(2).alias("midx"), F.col("mon_cents").alias("v")),
            )
        ).alias("_m")
    ).select(F.col("_m.midx").alias("midx"), F.col("_m.v").alias("v"))
    hist = melted.groupBy("midx", "v").agg(F.count(F.lit(1)).alias("cnt"))
    cum = distributed_cumsum(hist, ["midx", "v"], "cnt", "cum")

    def _cut(midx: int, k: int, name: str):
        mcum = F.col("cum") - F.lit(midx) * F.col("_n")
        return F.min(
            F.when((F.col("midx") == midx) & (mcum * 3 >= k * F.col("_n")), F.col("v"))
        ).alias(name)

    thr = cum.join(F.broadcast(mxn)).agg(
        _cut(0, 1, "rec_days_t1"), _cut(0, 2, "rec_days_t2"),
        _cut(1, 1, "freq_t1"), _cut(1, 2, "freq_t2"),
        _cut(2, 1, "mon_cents_t1"), _cut(2, 2, "mon_cents_t2"),
    )
    scored = per_user.join(F.broadcast(thr)).select(
        "user_id",
        "mon_cents",
        (
            F.lit(1)
            + (F.col("rec_days") > F.col("rec_days_t1")).cast("int")
            + (F.col("rec_days") > F.col("rec_days_t2")).cast("int")
        ).alias("r_t"),
        (
            F.lit(1)
            + (F.col("freq") > F.col("freq_t1")).cast("int")
            + (F.col("freq") > F.col("freq_t2")).cast("int")
        ).alias("f_t"),
        (
            F.lit(1)
            + (F.col("mon_cents") > F.col("mon_cents_t1")).cast("int")
            + (F.col("mon_cents") > F.col("mon_cents_t2")).cast("int")
        ).alias("m_t"),
    )
    return scored.groupBy("r_t", "f_t", "m_t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("mon_cents").cast("bigint").alias("segment_cents"),
    )


ORACLE_RFM = """
WITH mx AS (SELECT max(ts::DATE) AS mxd FROM events),
per_user AS (
  SELECT user_id,
         date_diff('day', max(ts::DATE), (SELECT mxd FROM mx))::BIGINT AS rec_days,
         count(*)::BIGINT AS freq,
         sum(round(value * 100)::BIGINT)::BIGINT AS mon_cents
  FROM events GROUP BY 1
),
n AS (SELECT count(*)::BIGINT AS n FROM per_user),
rt AS (
  SELECT min(CASE WHEN c * 3 >= n.n THEN v END) AS t1,
         min(CASE WHEN c * 3 >= 2 * n.n THEN v END) AS t2
  FROM (SELECT rec_days AS v, sum(count(*)) OVER (ORDER BY rec_days) AS c
        FROM per_user GROUP BY 1) CROSS JOIN n
),
ft AS (
  SELECT min(CASE WHEN c * 3 >= n.n THEN v END) AS t1,
         min(CASE WHEN c * 3 >= 2 * n.n THEN v END) AS t2
  FROM (SELECT freq AS v, sum(count(*)) OVER (ORDER BY freq) AS c
        FROM per_user GROUP BY 1) CROSS JOIN n
),
mt AS (
  SELECT min(CASE WHEN c * 3 >= n.n THEN v END) AS t1,
         min(CASE WHEN c * 3 >= 2 * n.n THEN v END) AS t2
  FROM (SELECT mon_cents AS v, sum(count(*)) OVER (ORDER BY mon_cents) AS c
        FROM per_user GROUP BY 1) CROSS JOIN n
),
scored AS (
  SELECT u.mon_cents,
         (1 + (u.rec_days > rt.t1)::INT + (u.rec_days > rt.t2)::INT) AS r_t,
         (1 + (u.freq > ft.t1)::INT + (u.freq > ft.t2)::INT) AS f_t,
         (1 + (u.mon_cents > mt.t1)::INT + (u.mon_cents > mt.t2)::INT) AS m_t
  FROM per_user u CROSS JOIN rt CROSS JOIN ft CROSS JOIN mt
)
SELECT r_t, f_t, m_t, count(*)::BIGINT AS n_users,
       sum(mon_cents)::BIGINT AS segment_cents
FROM scored GROUP BY 1, 2, 3
"""


SPECS += [
    QuerySpec("e_rfm_segments", q_rfm_segments, ORACLE_RFM,
              doc="RFM tercile segmentation: distributed-quantile thresholds, <=27 segments with counts + revenue",
              tags=("ext", "stats")),
]


# ---------------------------------------------------------------- CUSUM changepoint
def q_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint scan per event type: the day where the running
    sum of (daily_total - overall_daily_mean) attains its maximum
    magnitude — the classic single-changepoint estimator for a level
    shift (Page's CUSUM, here the offline argmax form): before a shift
    the deviations cancel, after it they accumulate, so |cusum| peaks AT
    the shift.

    All arithmetic on the cent grid: the per-type mean is an integer DIV
    (its truncation drifts the cusum by < n_days cents end-to-end —
    deterministic and identical in both engines). The cumulative walk is
    a KEYED window over the per-type DAY axis (bounded: days, not events
    — the aggregated-axis exemption the plan audit documents for keyed
    windows), and the argmax is a row_number with a full deterministic
    tiebreak (|cusum| desc, date).

    Output per type: the changepoint date, peak |cusum| in cents, the
    mean daily level, and the observed day count."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("dt")
    ).agg(F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"))
    tot = daily.groupBy("event_type").agg(
        F.sum("cents").alias("_tot"), F.count(F.lit(1)).alias("n_days")
    )
    j = daily.join(F.broadcast(tot), "event_type").withColumn(
        "mean_cents", F.expr("CAST(_tot DIV n_days AS BIGINT)")
    )
    wc = Window.partitionBy("event_type").orderBy("dt")
    cus = j.withColumn(
        "cusum", F.sum(F.col("cents") - F.col("mean_cents")).over(wc)
    ).withColumn("abs_cusum", F.abs("cusum"))
    wr = Window.partitionBy("event_type").orderBy(
        F.col("abs_cusum").desc(), F.col("dt")
    )
    return (
        cus.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("dt").alias("cp_date"),
            F.col("abs_cusum").cast("bigint").alias("peak_abs_cusum_cents"),
            "mean_cents",
            F.col("n_days").cast("bigint").alias("n_days"),
        )
    )


ORACLE_CUSUM = """
WITH daily AS (
  SELECT event_type, ts::DATE AS dt, sum(round(value * 100)::BIGINT)::BIGINT AS cents
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, sum(cents)::BIGINT AS t, count(*)::BIGINT AS n_days
  FROM daily GROUP BY 1
),
cus AS (
  SELECT d.event_type, d.dt, (t.t // t.n_days)::BIGINT AS mean_cents, t.n_days,
         sum(d.cents - (t.t // t.n_days)) OVER (
           PARTITION BY d.event_type ORDER BY d.dt)::BIGINT AS cusum
  FROM daily d JOIN tot t USING (event_type)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY abs(cusum) DESC, dt) AS rk
  FROM cus
)
SELECT event_type, dt AS cp_date, abs(cusum)::BIGINT AS peak_abs_cusum_cents,
       mean_cents, n_days
FROM ranked WHERE rk = 1
"""


SPECS += [
    QuerySpec("e_cusum_changepoint", q_cusum_changepoint, ORACLE_CUSUM,
              doc="CUSUM level-shift changepoint per event type on the cent grid, keyed day-axis walk",
              tags=("ext", "stats")),
]


# ---------------------------------------------------------------- weekly seasonality profile
def q_seasonal_profile(spark, sf_dir):
    """Day-of-week seasonality profile per event type: cent totals and
    event counts per (type, weekday), each day's share of the type's week
    on the milli grid, and a peak-day flag — the capacity-planning /
    anomaly-baseline table (an alert that fires every Saturday is a
    seasonality bug, not an incident).

    Weekday numbering pinned to ISO 1..7 (Mon..Sun) in BOTH engines:
    Spark dayofweek() is 1=Sunday, DuckDB isodow is 1=Monday — the query
    normalizes Spark's to ISO rather than leaving an engine-specific
    convention in the output. One hash agg to <= 7x|types| rows; the
    share/peak windows run on that bounded frame."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy(
        "event_type",
        F.expr("CAST(pmod(dayofweek(ts) + 5, 7) + 1 AS BIGINT)").alias("iso_dow"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"),
    )
    wt = Window.partitionBy("event_type")
    return (
        per.withColumn("_tot", F.sum("cents").over(wt))
        .withColumn("_mx", F.max("cents").over(wt))
        .select(
            "event_type",
            "iso_dow",
            "n_events",
            "cents",
            F.expr("CAST(cents * 1000 DIV greatest(_tot, 1) AS BIGINT)").alias(
                "share_milli"
            ),
            (F.col("cents") == F.col("_mx")).cast("bigint").alias("is_peak"),
        )
    )


ORACLE_SEASONAL = """
WITH per AS (
  SELECT event_type, isodow(ts)::BIGINT AS iso_dow,
         count(*)::BIGINT AS n_events,
         sum(round(value * 100)::BIGINT)::BIGINT AS cents
  FROM events GROUP BY 1, 2
)
SELECT event_type, iso_dow, n_events, cents,
       (cents * 1000 // greatest(sum(cents) OVER (PARTITION BY event_type), 1))::BIGINT AS share_milli,
       (cents = max(cents) OVER (PARTITION BY event_type))::BIGINT AS is_peak
FROM per
"""


SPECS += [
    QuerySpec("e_seasonal_profile", q_seasonal_profile, ORACLE_SEASONAL,
              doc="day-of-week seasonality per event type: ISO-pinned weekday shares + peak flag",
              tags=("ext", "stats")),
]


# ---------------------------------------------------------------- survival curve
def q_survival_curve(spark, sf_dir):
    """Kaplan-Meier-style retention/survival table over inter-event gaps:
    for each horizon t in {1, 3, 7, 14, 30} days, how many observed
    user-gaps reached t and what fraction of ALL gaps that is (ppm) —
    the churn-analysis curve (how long do users go quiet before they
    never come back), finite-sample exact: no censoring model, every gap
    between consecutive events of a user is one observation.

    Scale shape: one keyed lead() window over (user, ts) for the gaps,
    one bounded histogram-style aggregate per horizon (a 5-row grand
    total via conditional sums — no per-horizon scan). The gap frame is
    |events| rows once; everything after is constant-size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("_nxt", F.lead("ts").over(w))
        .filter(F.col("_nxt").isNotNull())
        .select(
            F.datediff(F.to_date("_nxt"), F.to_date("ts")).cast("bigint").alias("gap_days")
        )
    )
    horizons = [1, 3, 7, 14, 30]
    agg = gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        *[
            F.sum((F.col("gap_days") >= h).cast("long")).alias(f"ge{h}")
            for h in horizons
        ],
    )
    stack = ", ".join(f"{h}L, ge{h}" for h in horizons)
    return agg.selectExpr(
        f"stack({len(horizons)}, {stack}) AS (horizon_days, n_reached)",
        "n_gaps",
    ).select(
        "horizon_days",
        F.col("n_reached").cast("bigint").alias("n_reached"),
        F.col("n_gaps").cast("bigint").alias("n_gaps"),
        F.expr("CAST(n_reached * 1000000 DIV greatest(n_gaps, 1) AS BIGINT)").alias(
            "survival_ppm"
        ),
    )


ORACLE_SURVIVAL = """
WITH gaps AS (
  SELECT date_diff('day', ts::DATE,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)::DATE
         )::BIGINT AS gap_days
  FROM events
),
g AS (SELECT gap_days FROM gaps WHERE gap_days IS NOT NULL),
agg AS (
  SELECT count(*)::BIGINT AS n_gaps,
         sum(CASE WHEN gap_days >= 1 THEN 1 ELSE 0 END)::BIGINT AS ge1,
         sum(CASE WHEN gap_days >= 3 THEN 1 ELSE 0 END)::BIGINT AS ge3,
         sum(CASE WHEN gap_days >= 7 THEN 1 ELSE 0 END)::BIGINT AS ge7,
         sum(CASE WHEN gap_days >= 14 THEN 1 ELSE 0 END)::BIGINT AS ge14,
         sum(CASE WHEN gap_days >= 30 THEN 1 ELSE 0 END)::BIGINT AS ge30
  FROM g
)
SELECT h.horizon_days, h.n_reached, a.n_gaps,
       (h.n_reached * 1000000 // greatest(a.n_gaps, 1))::BIGINT AS survival_ppm
FROM agg a, LATERAL (
  SELECT * FROM (VALUES (1::BIGINT, a.ge1), (3::BIGINT, a.ge3), (7::BIGINT, a.ge7),
                        (14::BIGINT, a.ge14), (30::BIGINT, a.ge30))
         AS t(horizon_days, n_reached)
) h
"""


SPECS += [
    QuerySpec("e_survival_curve", q_survival_curve, ORACLE_SURVIVAL,
              doc="inter-event gap survival table at 5 horizons: keyed lead window + one grand total",
              tags=("ext", "stats")),
]


def q_holt_winters(spark, sf_dir):
    """Holt's linear-trend exponential smoothing over per-type daily
    totals — the level+trend forecaster one notch past e_ewma's flat
    smoother (Holt 1957): each day the one-step forecast is
    level + trend, then level absorbs half the forecast error
    (alpha = 1/2) and trend absorbs a quarter of the level change
    (beta = 1/4). Dyadic gains keep every update an exact BIGINT
    truncated division (DIV truncates toward zero in BOTH engines —
    pinned by the tdiv three-engine test), so the recursion is
    bit-identical cross-engine with no float accumulation.

    Output per (event_type, day): the day's actual total, the one-step
    forecast made BEFORE seeing it (NULL on each type's first day), and
    the post-update level and trend.

    Scale shape: the recursion runs per key over the DAY axis — bounded
    by the calendar, not the data (30 rows/key here; a decade is 3.7k) —
    inside one Arrow-batched applyInPandas group; everything upstream is
    a map-side-combined hash agg of the raw events. The same
    aggregate-then-recurse shape as e_cusum_changepoint's keyed walk."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("dt")).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )

    def tdiv(a: int, b: int) -> int:
        return -((-a) // b) if a < 0 else a // b

    def fit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("dt")
        rows = []
        level = trend = None
        for row in pdf.itertuples(index=False):
            y = int(row.cents)
            if level is None:
                pred, level, trend = None, y, 0
            else:
                pred = level + trend
                new_level = pred + tdiv(y - pred, 2)
                trend = trend + tdiv(new_level - level - trend, 4)
                level = new_level
            rows.append((row.event_type, row.dt, y, pred, level, trend))
        return pd.DataFrame(
            rows,
            columns=[
                "event_type", "dt", "day_cents",
                "pred_cents", "level_cents", "trend_cents",
            ],
        )

    return daily.groupBy("event_type").applyInPandas(
        fit,
        "event_type string, dt date, day_cents bigint, pred_cents bigint, "
        "level_cents bigint, trend_cents bigint",
    )


ORACLE_HOLT_WINTERS = """
WITH RECURSIVE daily AS (
  SELECT event_type, ts::DATE AS dt,
         sum(round(value * 100)::BIGINT)::BIGINT AS cents
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, dt, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY dt) AS r
  FROM daily
),
hw(event_type, r, dt, day_cents, pred_cents, level_cents, trend_cents) AS (
  SELECT event_type, r, dt, cents, NULL::BIGINT, cents, 0::BIGINT
  FROM seq WHERE r = 1
  UNION ALL
  SELECT s.event_type, s.r, s.dt, s.cents,
         h.level_cents + h.trend_cents,
         h.level_cents + h.trend_cents
           + (s.cents - h.level_cents - h.trend_cents) // 2,
         h.trend_cents
           + ((h.level_cents + h.trend_cents
               + (s.cents - h.level_cents - h.trend_cents) // 2)
              - h.level_cents - h.trend_cents) // 4
  FROM hw h JOIN seq s ON s.event_type = h.event_type AND s.r = h.r + 1
)
SELECT event_type, dt, day_cents, pred_cents, level_cents, trend_cents
FROM hw
"""


def q_lorenz(spark, sf_dir):
    """Decile Lorenz curve of order value per market segment — the
    concentration CURVE behind e_gini's scalar: for each segment, rank
    orders by value ascending, cut into 10 equal-count deciles, and
    report each decile's value mass and the cumulative share on the ppm
    grid. Reading it: cum_share_ppm at decile 7 = 300000 means the
    bottom 80% of orders carry 30% of the value.

    Scale shape: rank and decile cut via KEYED windows (partitionBy
    segment — never a global sort; ties break on the unique order key),
    then a <= 10-rows-per-segment aggregate and a keyed 10-row cumsum.
    Exact BIGINTs end-to-end."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    ranked = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            "o_orderkey",
        )
        .withColumn(
            "i",
            F.row_number().over(
                Window.partitionBy("segment").orderBy("cents", "o_orderkey")
            ).cast("bigint"),
        )
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("segment")))
        .withColumn("decile", F.expr("CAST((i - 1) * 10 DIV n AS BIGINT)"))
    )
    dec = ranked.groupBy("segment", "decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("decile_cents"),
    )
    wc = (
        Window.partitionBy("segment")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = F.sum("decile_cents").over(Window.partitionBy("segment"))
    return (
        dec.withColumn("cum_cents", F.sum("decile_cents").over(wc))
        .withColumn("_tot", tot)
        .withColumn(
            "cum_share_ppm",
            F.expr("CAST(cum_cents * 1000000 DIV _tot AS BIGINT)"),
        )
        .drop("_tot")
    )


ORACLE_LORENZ = """
WITH ranked AS (
  SELECT c.c_mktsegment AS segment,
         round(o.o_totalprice * 100)::BIGINT AS cents,
         row_number() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY round(o.o_totalprice * 100)::BIGINT,
                                     o.o_orderkey) AS i,
         count(*) OVER (PARTITION BY c.c_mktsegment) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
dec AS (
  SELECT segment, ((i - 1) * 10 // n)::BIGINT AS decile,
         count(*)::BIGINT AS n_orders, sum(cents)::BIGINT AS decile_cents
  FROM ranked GROUP BY 1, 2
)
SELECT segment, decile, n_orders, decile_cents,
       sum(decile_cents) OVER w::BIGINT AS cum_cents,
       ((sum(decile_cents) OVER w) * 1000000
        // sum(decile_cents) OVER (PARTITION BY segment))::BIGINT AS cum_share_ppm
FROM dec
WINDOW w AS (PARTITION BY segment ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


SPECS += [
    QuerySpec("e_holt_winters", q_holt_winters, ORACLE_HOLT_WINTERS,
              doc="Holt level+trend smoothing over the per-type day axis, dyadic gains, BIGINT-exact recursion",
              tags=("ext", "timeseries", "stats")),
    QuerySpec("e_lorenz", q_lorenz, ORACLE_LORENZ,
              doc="per-segment decile Lorenz concentration curve on the ppm grid via keyed windows",
              tags=("ext", "stats")),
]


def q_theil(spark, sf_dir):
    """Per-segment Theil T inequality index of order values — the
    DECOMPOSABLE concentration measure (unlike Gini, Theil splits
    exactly into within-group + between-group terms, which is why
    mixture audits prefer it): T = (1/n) sum (x/mu) ln(x/mu), emitted
    in micro-nats. Each order's term is floored to an INTEGER micro-nat
    from identical integer-derived doubles (cents * n / total is exact
    in IEEE for the fixture ranges; ln is correctly-rounded libm on both
    engines — the lm_surprisal_score parity contract), so the per-
    segment sum is an integer sum, order-free.

    Scale shape: one pre-aggregate for (n, total) per segment, broadcast
    back, one map pass for the terms, one hash agg. No windows, no
    sorts."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    tot = base.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    terms = base.join(F.broadcast(tot), "segment").select(
        "segment",
        "n",
        "total_cents",
        F.floor(
            (F.col("cents") * F.col("n") / F.col("total_cents"))
            * F.log(F.col("cents") * F.col("n") / F.col("total_cents"))
            * F.lit(1000000)
        ).cast("bigint").alias("term_micro"),
    )
    return (
        terms.groupBy("segment", "n", "total_cents")
        .agg(F.sum("term_micro").alias("_s"))
        .select(
            "segment",
            "n",
            "total_cents",
            F.expr("CAST(_s DIV n AS BIGINT)").alias("theil_micro"),
        )
    )


ORACLE_THEIL = """
WITH base AS (
  SELECT c.c_mktsegment AS segment, round(o.o_totalprice * 100)::BIGINT AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
tot AS (
  SELECT segment, count(*)::BIGINT AS n, sum(cents)::BIGINT AS total_cents
  FROM base GROUP BY 1
),
terms AS (
  SELECT b.segment, t.n, t.total_cents,
         floor((b.cents * t.n / t.total_cents)
               * ln(b.cents * t.n / t.total_cents) * 1000000)::BIGINT AS term_micro
  FROM base b JOIN tot t USING (segment)
)
SELECT segment, n, total_cents, (sum(term_micro) // n)::BIGINT AS theil_micro
FROM terms GROUP BY 1, 2, 3
"""


def q_funnel_latency(spark, sf_dir):
    """Conversion-latency spectrum for the view -> purchase funnel: per
    converting user, the gap between the first view and the first
    purchase strictly after it, bucketed by bit length (bucket b holds
    gaps in [2^(b-1), 2^b) seconds; bucket 1 holds 0-1 s) — the integer-
    exact log2 histogram (length(bin(x)) is identical in both engines,
    no float log). e_funnel counts who converts; this says how long
    conversion takes — the other half of the windowFunnel analysis.

    Scale shape: two conditional-min window passes over ONE user_id
    partitioning (the e_funnel exchange-reuse shape), then a <= 40-row
    histogram aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = (
        ev.select("user_id", "ts", "event_type")
        .withColumn(
            "first_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "first_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("first_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .groupBy("user_id")
        .agg(
            F.max("first_view").alias("fv"),
            F.max("first_purchase").alias("fp"),
        )
        .filter(F.col("fp").isNotNull())
        .select(
            F.expr(
                "CAST(floor(unix_micros(fp) / 1000000) - floor(unix_micros(fv) / 1000000) AS BIGINT)"
            ).alias("gap_s")
        )
    )
    return (
        staged.select(
            "gap_s", F.length(F.bin(F.col("gap_s"))).cast("bigint").alias("gap_bucket")
        )
        .groupBy("gap_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.min("gap_s").cast("bigint").alias("min_gap_s"),
            F.max("gap_s").cast("bigint").alias("max_gap_s"),
        )
        .orderBy("gap_bucket")
    )


ORACLE_FUNNEL_LATENCY = """
WITH staged AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS fv
  FROM events GROUP BY 1
),
conv AS (
  SELECT e.user_id, s.fv, min(e.ts) AS fp
  FROM events e JOIN staged s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s.fv
  GROUP BY 1, 2
),
gaps AS (
  SELECT (floor(epoch(fp)) - floor(epoch(fv)))::BIGINT AS gap_s FROM conv
)
SELECT length(bin(gap_s))::BIGINT AS gap_bucket,
       count(*)::BIGINT AS n_users,
       min(gap_s)::BIGINT AS min_gap_s,
       max(gap_s)::BIGINT AS max_gap_s
FROM gaps GROUP BY 1 ORDER BY 1
"""


SPECS += [
    QuerySpec("e_theil", q_theil, ORACLE_THEIL,
              doc="per-segment Theil T inequality in integer micro-nats (decomposable concentration, ln-parity contract)",
              tags=("ext", "stats")),
    QuerySpec("e_funnel_latency", q_funnel_latency, ORACLE_FUNNEL_LATENCY,
              doc="view->purchase conversion-latency log2 histogram via bit length, integer-exact",
              tags=("ext", "funnel", "stats")),
]


def q_sequential_pattern(spark, sf_dir):
    """Top-20 frequent 3-step event SEQUENCES per user journey (ordered
    triples of consecutive events, the sequence-mining complement to
    e_basket_rules' unordered itemsets and e_markov_transitions' pairs):
    support = distinct users exhibiting the sequence, with total
    occurrence count alongside. Ties break on the sequence string.

    Scale shape: two lead() steps over ONE user_id exchange (Spark reuses
    the partitioning for both window passes), then a bounded hash agg —
    sequences live on the |event_types|^3 axis (125 here)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("t2", F.lead("event_type", 1).over(w))
        .withColumn("t3", F.lead("event_type", 2).over(w))
        .filter(F.col("t3").isNotNull())
        .select(
            "user_id",
            F.concat_ws(">", "event_type", "t2", "t3").alias("seq3"),
        )
    )
    return (
        seq.groupBy("seq3")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
        .orderBy(F.col("n_users").desc(), "seq3")
        .limit(20)
    )


ORACLE_SEQUENTIAL_PATTERN = """
WITH seq AS (
  SELECT user_id,
         event_type || '>' || lead(event_type, 1) OVER w || '>'
           || lead(event_type, 2) OVER w AS seq3,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT seq3, count(DISTINCT user_id)::BIGINT AS n_users,
       count(*)::BIGINT AS n_occurrences
FROM seq WHERE t3 IS NOT NULL
GROUP BY 1 ORDER BY n_users DESC, seq3 LIMIT 20
"""


def q_dau_wau(spark, sf_dir):
    """Stickiness series: daily active users, trailing-7-day active users,
    and the DAU/WAU ratio on the milli grid, per day — the engagement
    ratio every product dashboard leads with. Exact trailing distinct
    via the (user, day) dedup frame joined to a 7-day window on the
    BOUNDED day axis (a range join of |days| x 7 rows against per-day
    user sets — never a sliding distinct over raw events).

    Scale shape: one (user, day) dedup agg over the events scan, a
    <= |days| x 7 day-range broadcast join, one distinct-count agg per
    anchor day. The day axis is calendar-bounded."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("dt")
    ).distinct().cache()
    days = ud.select("dt").distinct()
    anchors = days.select(F.col("dt").alias("anchor"))
    win = anchors.join(
        F.broadcast(days),
        (F.col("dt") <= F.col("anchor"))
        & (F.col("dt") >= F.date_sub(F.col("anchor"), 6)),
    )
    wau = (
        win.join(ud, "dt")
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    dau = ud.groupBy("dt").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    return (
        dau.join(wau, dau["dt"] == wau["anchor"])
        .select(
            "dt",
            "dau",
            "wau",
            F.expr("CAST(dau * 1000 DIV wau AS BIGINT)").alias("stickiness_milli"),
        )
        .orderBy("dt")
    )


ORACLE_DAU_WAU = """
WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS dt FROM events),
days AS (SELECT DISTINCT dt FROM ud),
dau AS (SELECT dt, count(DISTINCT user_id)::BIGINT AS dau FROM ud GROUP BY 1),
wau AS (
  SELECT a.dt AS anchor, count(DISTINCT u.user_id)::BIGINT AS wau
  FROM days a JOIN ud u
    ON u.dt <= a.dt AND u.dt >= a.dt - INTERVAL 6 DAY
  GROUP BY 1
)
SELECT d.dt, d.dau, w.wau,
       (d.dau * 1000 // w.wau)::BIGINT AS stickiness_milli
FROM dau d JOIN wau w ON d.dt = w.anchor
ORDER BY d.dt
"""


SPECS += [
    QuerySpec("e_sequential_pattern", q_sequential_pattern, ORACLE_SEQUENTIAL_PATTERN,
              doc="top-20 3-step event sequences by user support (ordered sequence mining on the bounded type^3 axis)",
              tags=("ext", "mining")),
    QuerySpec("e_dau_wau", q_dau_wau, ORACLE_DAU_WAU,
              doc="DAU / trailing-7-day WAU / stickiness per day via the (user, day) dedup frame and a bounded day-range join",
              tags=("ext", "analytics")),
]


# ---------------------------------------------------------------- Spearman rank correlation
def q_spearman(spark, sf_dir):
    """Spearman rank correlation between customers' order COUNT and total
    SPEND — the monotone-association complement of Pearson (e_corr_pairs):
    robust to the heavy-tailed spend distribution because it operates on
    ranks. Ranks use the unique (metric, custkey) tiebreak, so there are
    no ties and the classic closed form ρ = 1 − 6·Σd²/(n(n²−1)) is exact;
    everything stays in BIGINTs with one final integer division onto the
    1e-6 grid.

    Numeric contract / headroom: the denominator n(n²−1) enters a
    1e6-scaled BIGINT product, safe to n ≈ 2M customers; past that,
    coarsen the grid (1e3) or lift the final ratio into the IEEE-double
    floor form e_corr_pairs documents — the docstring knob convention.

    Scale shape: one o_custkey hash agg over the orders scan, then TWO
    distributed_cumsum global rankings (range-partition + bounded
    partition-total broadcast — never an Exchange SinglePartition), one
    custkey join of the two rank frames, one scalar aggregate."""
    o = load_table(spark, sf_dir, "orders")
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("cents"),
        )
        .withColumn("one", F.lit(1).cast("bigint"))
        .cache()
    )
    rx = distributed_cumsum(
        per.select("o_custkey", "n_orders", "one"),
        ["n_orders", "o_custkey"], "one", "rank_x",
    ).select("o_custkey", "rank_x")
    ry = distributed_cumsum(
        per.select("o_custkey", "cents", "one"),
        ["cents", "o_custkey"], "one", "rank_y",
    ).select("o_custkey", "rank_y")
    d = rx.join(ry, "o_custkey").select(
        (F.col("rank_x") - F.col("rank_y")).alias("dd")
    )
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.col("dd") * F.col("dd")).cast("bigint").alias("sum_d2"),
    ).select(
        "n_customers",
        "sum_d2",
        F.expr(
            "CASE WHEN n_customers > 1 THEN "
            "(1000000 * (n_customers * (n_customers * n_customers - 1) - 6 * sum_d2)) "
            "div (n_customers * (n_customers * n_customers - 1)) "
            "ELSE NULL END"
        ).alias("rho_micro"),
    )


ORACLE_SPEARMAN = """
WITH per AS (
  SELECT o_custkey, count(*)::BIGINT AS n_orders,
         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
  FROM orders GROUP BY 1
),
r AS (
  SELECT o_custkey,
         row_number() OVER (ORDER BY n_orders, o_custkey) AS rank_x,
         row_number() OVER (ORDER BY cents, o_custkey) AS rank_y
  FROM per
),
d AS (SELECT (rank_x - rank_y)::BIGINT AS dd FROM r)
SELECT count(*)::BIGINT AS n_customers,
       sum(dd * dd)::BIGINT AS sum_d2,
       CASE WHEN count(*) > 1 THEN
         (1000000 * (count(*) * (count(*) * count(*) - 1) - 6 * sum(dd * dd)))
         // (count(*) * (count(*) * count(*) - 1))
       ELSE NULL END AS rho_micro
FROM d
"""


# ---------------------------------------------------------------- Welch t² A/B statistic
def q_welch_t2(spark, sf_dir):
    """Welch two-sample t² between the 'click' and 'view' event-value
    populations — the unequal-variance A/B significance statistic. Emitting
    t² (not t) avoids the final sqrt: every moment (n, Σx, Σx²) is a
    BIGINT-exact cent sum, means land on the exact cent grid via integer
    division, and only the last ratio touches doubles — identical IEEE
    mul/div/floor in both engines (the e_corr_pairs contract; ln/log have
    no such guarantee, division does).

    Scale shape: ONE conditional-aggregate pass over the filtered events
    scan (two groups folded into one row via CASE sums — no join, no
    shuffle beyond the single scalar aggregate), then pure scalar math."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    is_a = F.col("event_type") == "click"
    agg = ev.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(is_a, cents).otherwise(0)).cast("bigint").alias("s_a"),
        F.sum(F.when(is_a, cents * cents).otherwise(0)).cast("bigint").alias("ss_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(~is_a, cents).otherwise(0)).cast("bigint").alias("s_b"),
        F.sum(F.when(~is_a, cents * cents).otherwise(0)).cast("bigint").alias("ss_b"),
    )
    return agg.select(
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


ORACLE_WELCH_T2 = """
WITH agg AS (
  SELECT
    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_a,
    sum(CASE WHEN event_type = 'click' THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS s_a,
    sum(CASE WHEN event_type = 'click' THEN round(value * 100)::BIGINT * round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS ss_a,
    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_b,
    sum(CASE WHEN event_type = 'view' THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS s_b,
    sum(CASE WHEN event_type = 'view' THEN round(value * 100)::BIGINT * round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS ss_b
  FROM events WHERE event_type IN ('click', 'view')
)
SELECT n_a, n_b,
       s_a // greatest(n_a, 1) AS mean_a_cents,
       s_b // greatest(n_b, 1) AS mean_b_cents,
       CASE WHEN n_a > 1 AND n_b > 1 AND
         (((n_a * ss_a - s_a * s_a)::DOUBLE / (n_a::DOUBLE * (n_a - 1))) / n_a
          + ((n_b * ss_b - s_b * s_b)::DOUBLE / (n_b::DOUBLE * (n_b - 1))) / n_b) > 0
       THEN floor(1000000.0 *
         (s_a::DOUBLE / n_a - s_b::DOUBLE / n_b) *
         (s_a::DOUBLE / n_a - s_b::DOUBLE / n_b) /
         (((n_a * ss_a - s_a * s_a)::DOUBLE / (n_a::DOUBLE * (n_a - 1))) / n_a
          + ((n_b * ss_b - s_b * s_b)::DOUBLE / (n_b::DOUBLE * (n_b - 1))) / n_b)
       )::BIGINT ELSE NULL END AS t2_micro
FROM agg
"""


# ---------------------------------------------------------------- inter-arrival gap quantiles
def q_interarrival(spark, sf_dir):
    """Per-event-type inter-arrival profile: exact p50/p90/mean of the gap
    (microseconds) between a user's CONSECUTIVE events of that type — the
    cadence statistic behind rate-limit tuning, bot detection thresholds
    and session-gap calibration (e_session_window's 1800 s constant is
    exactly the knob this distribution justifies).

    Parity: gaps are exact integer microsecond differences (unix_micros /
    epoch_us); quantiles are nearest-rank SELECTIONS of actual gap values
    (the e_group_quantiles contract — no interpolation), the mean an
    integer division.

    Scale shape: one (user_id, event_type)-keyed window for lag (keyed —
    never a global sort), then the keyed ranking window per event_type
    and one aggregate. The per-type ranking is the only type-keyed
    shuffle; 5 types × gap rows is skew-bounded by the type cardinality,
    the documented place to salt if one type dominates at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    # order by the exact microsecond integer (us == ts to the stored
    # precision), so the window resolves after ts is projected away
    seq = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    gaps = (
        ev.select(
            "user_id", "event_type", "event_id",
            F.unix_micros(F.col("ts")).alias("us"),
        )
        .withColumn("prev_us", F.lag("us").over(seq))
        .filter(F.col("prev_us").isNotNull())
        .select(
            "event_type", "event_id",
            (F.col("us") - F.col("prev_us")).alias("gap_us"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("gap_us", "event_id")
    ranked = gaps.select(
        "event_type", "gap_us", F.row_number().over(w).alias("_rk")
    ).withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("event_type")))
    return ranked.groupBy("event_type").agg(
        F.max("_n").cast("bigint").alias("n_gaps"),
        F.max(F.when(F.col("_rk") == F.ceil(F.col("_n") * 0.5), F.col("gap_us"))).alias("p50_gap_us"),
        F.max(F.when(F.col("_rk") == F.ceil(F.col("_n") * 0.9), F.col("gap_us"))).alias("p90_gap_us"),
        F.expr("sum(gap_us) div count(*)").alias("mean_gap_us"),
    )


ORACLE_INTERARRIVAL = """
WITH gaps AS (
  SELECT event_type, event_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS gap_us
  FROM events
),
g AS (SELECT * FROM gaps WHERE gap_us IS NOT NULL),
ranked AS (
  SELECT event_type, gap_us,
         row_number() OVER (PARTITION BY event_type ORDER BY gap_us, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM g
)
SELECT event_type,
       max(n)::BIGINT AS n_gaps,
       max(CASE WHEN rk = ceil(n * 0.5) THEN gap_us END)::BIGINT AS p50_gap_us,
       max(CASE WHEN rk = ceil(n * 0.9) THEN gap_us END)::BIGINT AS p90_gap_us,
       (sum(gap_us) // count(*))::BIGINT AS mean_gap_us
FROM ranked GROUP BY event_type
"""


SPECS += [
    QuerySpec("e_spearman", q_spearman, ORACLE_SPEARMAN,
              doc="Spearman rank correlation (order count vs spend) via two distributed_cumsum global rankings, exact integer rho",
              tags=("ext", "stats")),
    QuerySpec("e_welch_t2", q_welch_t2, ORACLE_WELCH_T2,
              doc="Welch unequal-variance t-squared A/B statistic from one conditional-aggregate pass, BIGINT moments",
              tags=("ext", "stats")),
    QuerySpec("e_interarrival", q_interarrival, ORACLE_INTERARRIVAL,
              doc="per-type inter-event gap p50/p90/mean (exact microsecond nearest-rank quantiles)",
              tags=("ext", "analytics")),
]


# ---------------------------------------------------------------- lag-1 autocorrelation
def q_autocorr(spark, sf_dir):
    """Lag-1 autocorrelation of the daily revenue series — the persistence
    number behind "is yesterday predictive of today", i.e. whether the
    smoothing forecasters (e_ewma, e_holt_winters) have any signal to
    smooth. Adjacent-day pairs come from a SELF-JOIN on dt = prev_dt + 1
    (gap-safe: missing days contribute no fake pair) — never a global
    orderBy window, so no SinglePartition exchange at any series length.

    Numeric contract: the series is the daily total on the DOLLAR grid
    (exact cent sum, then integer div 100 — the coarsening that keeps
    n·Σxy inside BIGINT for daily totals up to ~10^9 dollars across 10^5
    days; cents overflow at fixture scale already); moments are
    BIGINT-exact, the final Pearson ratio the e_corr_pairs IEEE-double
    floor — both engines floor the identical double."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100").alias("cents")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.dt") == F.date_add(F.col("b.dt"), 1)).select(
        F.col("a.cents").alias("x"), F.col("b.cents").alias("y")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).select(
        "n_pairs",
        # n·Σxx exceeds BIGINT at 2.4k days × (4e6-dollar days)²: form the
        # discriminants in DOUBLE — identical IEEE mul/sub/sqrt/floor in
        # both engines (the e_corr_pairs contract); the SUMS stay exact
        # BIGINTs, only the final scalar combination is floating
        F.expr(
            "CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 "
            "AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 "
            "THEN CAST(floor(1000000.0 * (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
            "(sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
            "sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS BIGINT) "
            "ELSE NULL END"
        ).alias("autocorr_micro"),
    )


ORACLE_AUTOCORR = """
WITH daily AS (
  SELECT o_orderdate AS dt, (sum(round(o_totalprice * 100)::BIGINT) // 100)::BIGINT AS cents
  FROM orders GROUP BY 1
),
p AS (
  SELECT a.cents AS x, b.cents AS y
  FROM daily a JOIN daily b ON a.dt = b.dt + INTERVAL 1 DAY
)
SELECT count(*)::BIGINT AS n_pairs,
       CASE WHEN count(*)::DOUBLE * sum(x * x)::DOUBLE - sum(x)::DOUBLE * sum(x)::DOUBLE > 0
             AND count(*)::DOUBLE * sum(y * y)::DOUBLE - sum(y)::DOUBLE * sum(y)::DOUBLE > 0
       THEN floor(1000000.0 * (count(*)::DOUBLE * sum(x * y)::DOUBLE - sum(x)::DOUBLE * sum(y)::DOUBLE) /
            (sqrt(count(*)::DOUBLE * sum(x * x)::DOUBLE - sum(x)::DOUBLE * sum(x)::DOUBLE) *
             sqrt(count(*)::DOUBLE * sum(y * y)::DOUBLE - sum(y)::DOUBLE * sum(y)::DOUBLE)))::BIGINT
       ELSE NULL END AS autocorr_micro
FROM p
"""


SPECS += [
    QuerySpec("e_autocorr", q_autocorr, ORACLE_AUTOCORR,
              doc="lag-1 autocorrelation of daily revenue via gap-safe adjacent-day self-join, BIGINT moments",
              tags=("ext", "stats", "timeseries")),
]


# ---------------------------------------------------------------- OHLC downsample
def q_ohlc(spark, sf_dir):
    """Daily OHLC (open/high/low/close) bars of the purchase value stream —
    the canonical time-series downsample every metrics store runs. Open/
    close are the values at the min/max (ts, event_id) of the day — the
    unique composite key makes the selection deterministic in both engines
    (min_by/max_by with a struct key ≙ the oracle's arg-extreme via
    row_number) — and high/low are exact cent extremes.

    Scale shape: ONE day-keyed hash aggregate over the filtered scan:
    min_by/max_by fold the arg-extremes map-side, so nothing but the
    ~|days| result rows crosses the wire; no window, no sort."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    base = ev.select(
        F.to_date("ts").alias("dt"),
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        cents.alias("cents"),
    )
    key = F.struct(F.col("us"), F.col("event_id"))
    return base.groupBy("dt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trades"),
        F.min_by(F.col("cents"), key).alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max_by(F.col("cents"), key).alias("close_cents"),
    ).orderBy("dt")


ORACLE_OHLC = """
WITH base AS (
  SELECT ts::DATE AS dt, epoch_us(ts) AS us, event_id,
         round(value * 100)::BIGINT AS cents
  FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT dt, cents,
         row_number() OVER (PARTITION BY dt ORDER BY us, event_id) AS rk_open,
         row_number() OVER (PARTITION BY dt ORDER BY us DESC, event_id DESC) AS rk_close,
         count(*) OVER (PARTITION BY dt) AS n
  FROM base
)
SELECT dt,
       max(n)::BIGINT AS n_trades,
       max(CASE WHEN rk_open = 1 THEN cents END)::BIGINT AS open_cents,
       max(cents)::BIGINT AS high_cents,
       min(cents)::BIGINT AS low_cents,
       max(CASE WHEN rk_close = 1 THEN cents END)::BIGINT AS close_cents
FROM r GROUP BY dt ORDER BY dt
"""


SPECS += [
    QuerySpec("e_ohlc", q_ohlc, ORACLE_OHLC,
              doc="daily OHLC bars via min_by/max_by on the unique (ts, event_id) key — one hash agg, no windows",
              tags=("ext", "timeseries")),
]


# ---------------------------------------------------------------- day-of-week mix divergence
def q_dow_divergence(spark, sf_dir):
    """Per-event-type day-of-week MIX divergence from the overall traffic's
    dow mix: total-variation and chi-square distance on the exact ppm grid
    over the bounded 7-cell axis — the weekly-seasonality association
    table (a type whose dow profile diverges is gated by something:
    business-hours API callers, weekend consumers, batch jobs). Log-free
    (KL/JS deliberately avoided — libm log is not bit-identical across
    engines; the x_source_divergence contract).

    dow is convention-free in both engines: days-since-epoch mod 7
    (0 = Thursday), immune to Sunday-0 vs Sunday-1 disagreements.

    Scale shape: one (type, dow) hash agg over the scan — 35 cells — then
    broadcast-size arithmetic; nothing else touches data volume."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.expr("pmod(datediff(to_date(ts), DATE '1970-01-01'), 7)").cast("int").alias("dow"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_td"))
    totals = cells.groupBy("event_type").agg(F.sum("n_td").alias("n_t"))
    overall = cells.groupBy("dow").agg(F.sum("n_td").alias("n_d"))
    n_all = cells.agg(F.sum("n_td").alias("n_all"))
    grid = (
        cells.join(totals, "event_type")
        .join(F.broadcast(overall), "dow")
        .crossJoin(F.broadcast(n_all))
        .select(
            "event_type",
            "dow",
            F.expr("CAST(n_td * 1000000 DIV n_t AS BIGINT)").alias("obs_ppm"),
            F.expr("CAST(n_d * 1000000 DIV n_all AS BIGINT)").alias("exp_ppm"),
        )
    )
    return grid.groupBy("event_type").agg(
        F.expr("CAST(sum(abs(obs_ppm - exp_ppm)) DIV 2 AS BIGINT)").alias("tv_ppm"),
        F.expr(
            "CAST(sum((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)"
            " DIV greatest(exp_ppm, 1)) AS BIGINT)"
        ).alias("chi2_ppm"),
    ).orderBy("event_type")


ORACLE_DOW_DIVERGENCE = """
WITH cells AS (
  SELECT event_type, ((ts::DATE - DATE '1970-01-01') % 7)::INT AS dow,
         count(*)::BIGINT AS n_td
  FROM events GROUP BY 1, 2
),
totals AS (SELECT event_type, sum(n_td)::BIGINT AS n_t FROM cells GROUP BY 1),
overall AS (SELECT dow, sum(n_td)::BIGINT AS n_d FROM cells GROUP BY 1),
nall AS (SELECT sum(n_td)::BIGINT AS n_all FROM cells),
grid AS (
  SELECT c.event_type, c.dow,
         (c.n_td * 1000000 // t.n_t)::BIGINT AS obs_ppm,
         (o.n_d * 1000000 // n.n_all)::BIGINT AS exp_ppm
  FROM cells c JOIN totals t USING (event_type) JOIN overall o USING (dow), nall n
)
SELECT event_type,
       (sum(abs(obs_ppm - exp_ppm)) // 2)::BIGINT AS tv_ppm,
       sum((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) // greatest(exp_ppm, 1))::BIGINT AS chi2_ppm
FROM grid GROUP BY event_type ORDER BY event_type
"""


SPECS += [
    QuerySpec("e_dow_divergence", q_dow_divergence, ORACLE_DOW_DIVERGENCE,
              doc="per-type day-of-week mix TV + chi-square vs overall traffic on the exact ppm grid (epoch-mod-7 dow)",
              tags=("ext", "stats", "seasonality")),
]


# ---------------------------------------------------------------- new vs returning actives
def q_new_vs_returning(spark, sf_dir):
    """Daily active users split into NEW (first-ever-seen that day) vs
    RETURNING — the growth-accounting twin of e_dau_wau (DAU says how
    many; this says which kind, the number acquisition dashboards track).

    Exact: first_seen = min day per user (one hash agg), actives = the
    (user, day) dedup frame e_dau_wau uses; new iff dt == first_seen.

    Scale shape: two user-keyed hash aggs over the scan + one user-keyed
    join + a day rollup — all map-side-combinable, no windows."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("dt")).distinct()
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


ORACLE_NEW_VS_RETURNING = """
WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS dt FROM events),
f AS (SELECT user_id, min(dt) AS first_seen FROM ud GROUP BY 1)
SELECT dt,
       count(*)::BIGINT AS n_active,
       coalesce(sum(CASE WHEN dt = first_seen THEN 1 ELSE 0 END), 0)::BIGINT AS n_new,
       coalesce(sum(CASE WHEN dt <> first_seen THEN 1 ELSE 0 END), 0)::BIGINT AS n_returning
FROM ud JOIN f USING (user_id)
GROUP BY dt ORDER BY dt
"""


SPECS += [
    QuerySpec("e_new_vs_returning", q_new_vs_returning, ORACLE_NEW_VS_RETURNING,
              doc="daily actives split new vs returning via exact per-user first-seen day",
              tags=("ext", "analytics")),
]


# ------------------------------------------------------------- burst hours
def q_burst_hours(spark, sf_dir):
    """Rate-anomaly listing: the hours where an event type ran at ≥ 2.5×
    its own average hourly rate — the load-spike shortlist an on-call
    pulls before correlating incidents. The comparison is exact integer
    cross-multiplication (cnt · n_hours · 10 ≥ 25 · total), no float
    rate anywhere; n_hours counts the type's ACTIVE hours, so quiet
    types aren't flattered by empty buckets. Two hash aggregates plus a
    broadcast of the ≤|types| per-type totals."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
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


ORACLE_BURST_HOURS = """
WITH hourly AS (
  SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hr, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
totals AS (
  SELECT event_type, sum(cnt) AS tot, count(*) AS nh FROM hourly GROUP BY 1
)
SELECT h.event_type, h.hr, h.cnt::BIGINT AS cnt
FROM hourly h JOIN totals t USING (event_type)
WHERE h.cnt * t.nh * 10 >= 25 * t.tot
ORDER BY event_type, hr
"""


# ------------------------------------------------------------- Mann-Whitney U
def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test: do 'click' and 'view' events draw
    their `value` from the same distribution? The non-parametric
    companion to e_welch_t2 (which compares means and assumes rough
    normality) — rank tests are the workhorse for skewed engagement
    metrics. Normal approximation WITHOUT tie correction (values sit on a
    cent grid; ties are rare and the correction term is O(ties³/n³) —
    documented choice, identical on both engines).

    U is computed WITHOUT any global sort: bucket both samples on the
    exact cent grid (one hash agg), then one distributed_cumsum over the
    grid (range partition + bounded partition-total broadcast — never an
    Exchange SinglePartition) gives each value's count-below; 2·U1 =
    Σ n1(v)·(2·below2(v) + n2(v)) is exact in BIGINTs. At 100 TB the
    cumsum frame is |distinct cents|, bounded by the value domain, not
    the event count. The variance product n1·n2·(n1+n2+1) is computed
    with each factor cast to DOUBLE first (identically in the oracle):
    in BIGINT it overflows int64 once both samples reach ~1.5M rows, and
    Spark would wrap silently (non-ANSI) where DuckDB raises."""

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    g = (
        ev.select(
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            (F.col("event_type") == "click").cast("bigint").alias("is1"),
            (F.col("event_type") == "view").cast("bigint").alias("is2"),
        )
        .groupBy("cents")
        .agg(F.sum("is1").alias("n1"), F.sum("is2").alias("n2"))
    )
    cum = distributed_cumsum(g, ["cents"], ["n1", "n2"], ["c1", "c2"])
    agg = cum.agg(
        F.sum("n1").cast("bigint").alias("n_click"),
        F.sum("n2").cast("bigint").alias("n_view"),
        F.sum(F.col("n1") * (2 * (F.col("c2") - F.col("n2")) + F.col("n2")))
        .cast("bigint")
        .alias("u1_x2"),
    )
    return agg.select(
        "n_click", "n_view", "u1_x2",
        F.floor(
            (F.lit(1000) * (F.col("u1_x2") - F.col("n_click") * F.col("n_view")))
            / (
                F.lit(2)
                * F.sqrt(
                    F.col("n_click").cast("double")
                    * F.col("n_view").cast("double")
                    * (F.col("n_click") + F.col("n_view") + 1).cast("double")
                    / F.lit(12.0)
                )
            )
        )
        .cast("bigint")
        .alias("z_milli"),
    )


ORACLE_MANN_WHITNEY = """
WITH g AS (
  SELECT round(value * 100)::BIGINT AS cents,
         sum((event_type = 'click')::BIGINT)::BIGINT AS n1,
         sum((event_type = 'view')::BIGINT)::BIGINT AS n2
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY 1
),
cum AS (
  SELECT n1, n2,
         sum(n2) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
  FROM g
),
agg AS (
  SELECT sum(n1)::BIGINT AS n_click, sum(n2)::BIGINT AS n_view,
         sum(n1 * (2 * (c2 - n2) + n2))::BIGINT AS u1_x2
  FROM cum
)
SELECT n_click, n_view, u1_x2,
       floor((1000 * (u1_x2 - n_click * n_view))
             / (2 * sqrt(n_click::DOUBLE * n_view::DOUBLE * (n_click + n_view + 1)::DOUBLE / 12.0)))::BIGINT AS z_milli
FROM agg
"""


# ------------------------------------------------------------- Theil-Sen slope
def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend per event type: the MEDIAN of all pairwise
    slopes between daily revenue points — up to ~29% corrupted days
    cannot move it, unlike e_ols_trend's least-squares line which one
    flash-sale outlier drags arbitrarily. Reported as the lower median
    (rank ⌈n/2⌉ on the deterministic slope grid) so both engines pick the
    identical element — no percentile interpolation. The rank target is
    INTEGER division ((n_pairs + 1) div 2) to match the oracle's `//` —
    double division would miss the x.5 target whenever C(n,2) is even
    (day count ≡ 0 or 1 mod 4) and silently drop the key.

    Scale shape: the pairwise self-join is over the DAY GRID (bounded by
    calendar × event types, ~30 rows per key — never over raw events), so
    pair count is a few hundred per key; ranking is a KEYED window over
    those bounded groups. The day rollup itself is one hash agg over the
    event scan."""

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value") * 100).cast("bigint").alias("y_cents"))
    ).cache()
    b = daily.select(
        "event_type",
        F.col("day").alias("day2"),
        F.col("y_cents").alias("y2"),
    )
    pairs = daily.join(b, "event_type").filter(F.col("day") < F.col("day2")).select(
        "event_type",
        F.expr("(1000 * (y2 - y_cents)) div datediff(day2, day)")
        .cast("bigint")
        .alias("slope_milli"),
    )
    w = Window.partitionBy("event_type").orderBy("slope_milli")
    ranked = pairs.withColumn("rk", F.row_number().over(w))
    cnt = pairs.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return (
        ranked.join(F.broadcast(cnt), "event_type")
        .filter(F.col("rk") == F.expr("(n_pairs + 1) div 2"))
        .select("event_type", "n_pairs", F.col("slope_milli").alias("med_slope_milli"))
        .orderBy("event_type")
    )


ORACLE_THEIL_SEN = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, round(sum(value) * 100)::BIGINT AS y_cents
  FROM events GROUP BY event_type, ts::DATE
),
pairs AS (
  SELECT a.event_type,
         ((1000 * (b.y_cents - a.y_cents)) // (b.day - a.day))::BIGINT AS slope_milli
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
),
ranked AS (
  SELECT event_type, slope_milli,
         row_number() OVER (PARTITION BY event_type ORDER BY slope_milli) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM pairs
)
SELECT event_type, n_pairs::BIGINT AS n_pairs, slope_milli AS med_slope_milli
FROM ranked WHERE rk = (n_pairs + 1) // 2
ORDER BY event_type
"""


# ------------------------------------------------------------- Kendall tau-a
def q_kendall_tau(spark, sf_dir):
    """Kendall tau-a concordance between the daily click series and the
    daily purchase series: over all day pairs (i < j), do the two metrics
    move the SAME way? The pair-counting alternative to e_spearman (rank
    correlation) and x_quality_rank_corr — tau has a direct probabilistic
    reading (P[concordant] − P[discordant]) and is the standard check
    that an engagement proxy tracks the revenue metric.

    Scale shape: the self-join is over the DAY GRID (bounded by calendar:
    ~30 rows → ~435 pairs — never raw events); the day rollup is one
    conditional hash agg over the event scan; the final reduce is one
    scalar aggregate."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum((F.col("event_type") == "click").cast("bigint")).alias("x"),
            F.sum((F.col("event_type") == "purchase").cast("bigint")).alias("y"),
        )
    ).cache()
    b = daily.select(
        F.col("day").alias("day2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    pairs = daily.crossJoin(b).filter(F.col("day") < F.col("day2")).select(
        F.signum((F.col("x2") - F.col("x")).cast("double")).cast("bigint").alias("sx"),
        F.signum((F.col("y2") - F.col("y")).cast("double")).cast("bigint").alias("sy"),
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum((F.col("sx") * F.col("sy") == 1).cast("bigint")).alias("concordant"),
        F.sum((F.col("sx") * F.col("sy") == -1).cast("bigint")).alias("discordant"),
        F.sum((F.col("sx") == 0).cast("bigint")).alias("ties_x"),
        F.sum((F.col("sy") == 0).cast("bigint")).alias("ties_y"),
    ).select(
        "n_pairs", "concordant", "discordant", "ties_x", "ties_y",
        F.expr("(1000 * (concordant - discordant)) div n_pairs")
        .cast("bigint")
        .alias("tau_a_milli"),
    )


ORACLE_KENDALL_TAU = """
WITH daily AS (
  SELECT ts::DATE AS day,
         sum((event_type = 'click')::BIGINT)::BIGINT AS x,
         sum((event_type = 'purchase')::BIGINT)::BIGINT AS y
  FROM events GROUP BY ts::DATE
),
pairs AS (
  SELECT sign(b.x - a.x)::BIGINT AS sx, sign(b.y - a.y)::BIGINT AS sy
  FROM daily a JOIN daily b ON a.day < b.day
),
agg AS (
  SELECT count(*)::BIGINT AS n_pairs,
         sum((sx * sy = 1)::BIGINT)::BIGINT AS concordant,
         sum((sx * sy = -1)::BIGINT)::BIGINT AS discordant,
         sum((sx = 0)::BIGINT)::BIGINT AS ties_x,
         sum((sy = 0)::BIGINT)::BIGINT AS ties_y
  FROM pairs
)
SELECT n_pairs, concordant, discordant, ties_x, ties_y,
       ((1000 * (concordant - discordant)) // n_pairs)::BIGINT AS tau_a_milli
FROM agg
"""


# ------------------------------------------------------------- chi-square independence
def q_chisq_independence(spark, sf_dir):
    """Chi-square test of independence between event type and day-of-week
    plus Cramér's V — "is engagement mix a weekday phenomenon?" as a
    single significance-tested number (e_dow_divergence reports the
    per-type mix distances; this is the corpus-level test over the full
    contingency table). Per-cell statistic: d = N·o − r·c stays exact
    BIGINT (≤ ~3e11 at sf0.1); d² would overflow int64 at scale, so the
    cell value floor(d·d·1e6 / (N·r·c)) is evaluated in DOUBLE with the
    identical left-assoc operation order in both engines — every step is
    one correctly-rounded IEEE op over identical operands, so the floors
    agree bit-for-bit; V from one final sqrt.

    Scale shape: one conditional hash agg over the event scan builds the
    |types|×7 table; margins and the statistic are broadcast arithmetic
    over ≤ dozens of rows."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.expr("((cast(unix_timestamp(ts) as bigint) div 86400) + 4) % 7").alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .cache()
    )
    rows = cells.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("r"))
    colsf = cells.groupBy("dow").agg(F.sum("o").cast("bigint").alias("c"))
    tot = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("nr"),
        F.countDistinct("dow").cast("bigint").alias("nc"),
    )
    full = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(colsf), "dow")
        .crossJoin(F.broadcast(tot))
    )
    agg = full.agg(
        F.max("n").alias("n_events"),
        F.max("nr").alias("n_types"),
        F.max("nc").alias("n_dows"),
        F.sum(
            F.expr(
                "cast(floor(cast(n * o - r * c as double) * cast(n * o - r * c as double) "
                "* 1000000.0 / (cast(n as double) * cast(r as double) * cast(c as double))) as bigint)"
            )
        ).cast("bigint").alias("chi2_micro"),
    )
    return agg.select(
        "n_events", "n_types", "n_dows", "chi2_micro",
        F.floor(
            F.lit(1000)
            * F.sqrt(
                (F.col("chi2_micro") / F.lit(1000000.0))
                / (
                    F.col("n_events")
                    * F.least(F.col("n_types") - 1, F.col("n_dows") - 1)
                ).cast("double")
            )
        ).cast("bigint").alias("cramers_v_milli"),
    )


ORACLE_CHISQ_INDEPENDENCE = """
WITH cells AS (
  SELECT event_type, ((floor(epoch(ts))::BIGINT // 86400) + 4) % 7 AS dow,
         count(*)::BIGINT AS o
  FROM events GROUP BY 1, 2
),
r AS (SELECT event_type, sum(o)::BIGINT AS r FROM cells GROUP BY event_type),
c AS (SELECT dow, sum(o)::BIGINT AS c FROM cells GROUP BY dow),
t AS (SELECT sum(o)::BIGINT AS n, count(DISTINCT event_type)::BIGINT AS nr,
             count(DISTINCT dow)::BIGINT AS nc FROM cells),
agg AS (
  SELECT max(t.n) AS n_events, max(t.nr) AS n_types, max(t.nc) AS n_dows,
         sum(floor((t.n * cells.o - r.r * c.c)::DOUBLE * (t.n * cells.o - r.r * c.c)::DOUBLE
             * 1000000.0 / (t.n::DOUBLE * r.r::DOUBLE * c.c::DOUBLE)))::BIGINT AS chi2_micro
  FROM cells JOIN r USING (event_type) JOIN c USING (dow), t
)
SELECT n_events, n_types, n_dows, chi2_micro,
       floor(1000 * sqrt((chi2_micro / 1000000.0)
             / (n_events * least(n_types - 1, n_dows - 1))::DOUBLE))::BIGINT AS cramers_v_milli
FROM agg
"""


# ------------------------------------------------------------- two-proportion z
def q_two_proportion_z(spark, sf_dir):
    """Two-proportion z-test on the purchase share between the two
    hash-split user cohorts (user_id % 2 — the A/B assignment every
    experiment table carries): pooled-variance normal approximation, the
    proportions companion to e_welch_t2 (means) and e_mann_whitney
    (distributions). Exact BIGINT counts; one final sqrt + floor to
    milli.

    Scale shape: ONE conditional hash aggregate over the event scan — no
    joins, no windows; four counters in, one row out."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.sum(F.expr("case when user_id % 2 = 0 then 1 else 0 end")).cast("bigint").alias("n_a"),
        F.sum(F.expr("case when user_id % 2 = 0 and event_type = 'purchase' then 1 else 0 end")).cast("bigint").alias("x_a"),
        F.sum(F.expr("case when user_id % 2 = 1 then 1 else 0 end")).cast("bigint").alias("n_b"),
        F.sum(F.expr("case when user_id % 2 = 1 and event_type = 'purchase' then 1 else 0 end")).cast("bigint").alias("x_b"),
    )
    return agg.select(
        "n_a", "x_a", "n_b", "x_b",
        F.floor(
            (F.lit(1000.0) * (F.col("x_a") / F.col("n_a") - F.col("x_b") / F.col("n_b")))
            / F.sqrt(
                ((F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b")))
                * (1 - (F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b")))
                * (1 / F.col("n_a") + 1 / F.col("n_b"))
            )
        ).cast("bigint").alias("z_milli"),
    )


ORACLE_TWO_PROPORTION_Z = """
WITH agg AS (
  SELECT sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x_a,
         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         sum(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x_b
  FROM events
)
SELECT n_a, x_a, n_b, x_b,
       floor((1000.0 * (x_a / n_a::DOUBLE - x_b / n_b::DOUBLE))
             / sqrt(((x_a + x_b) / (n_a + n_b)::DOUBLE)
                    * (1 - (x_a + x_b) / (n_a + n_b)::DOUBLE)
                    * (1.0 / n_a + 1.0 / n_b)))::BIGINT AS z_milli
FROM agg
"""


# ------------------------------------------------------------- Cohen's kappa
def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa agreement between two independent document-quality
    screens — the length rule (n_chars ≥ 200) and the token-count rule
    (≥ 40 normalized tokens): how much do two cheap raters agree BEYOND
    chance? Raw percent-agreement overstates consensus when both rules
    pass almost everything; kappa = (p_o − p_e)/(1 − p_e) is the standard
    correction, the same statistic used to validate LLM-judge labels
    against human raters before trusting them at corpus scale.

    Exact discipline: the 2×2 table counts are one conditional hash agg
    (exact BIGINTs); p_o and p_e are evaluated in DOUBLE on the single
    aggregated row with the identical operation order in both engines,
    one floor to milli. Scale shape: one corpus scan → 1 row."""
    d = _docs_par(spark, sf_dir)
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    flags = d.select(
        (F.col("n_chars") >= 200).cast("bigint").alias("a"),
        (F.size(toks) >= 40).cast("bigint").alias("b"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("a * b")).cast("bigint").alias("n11"),
        F.sum(F.expr("a * (1 - b)")).cast("bigint").alias("n10"),
        F.sum(F.expr("(1 - a) * b")).cast("bigint").alias("n01"),
        F.sum(F.expr("(1 - a) * (1 - b)")).cast("bigint").alias("n00"),
    )
    pe = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01")).cast("double")
        + (F.col("n01") + F.col("n00")).cast("double")
        * (F.col("n10") + F.col("n00")).cast("double")
    ) / (F.col("n").cast("double") * F.col("n").cast("double"))
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n").cast("double")
    # pe == 1 (every doc in one agreement cell) makes kappa 0/0: NULL in
    # BOTH engines (unguarded, Spark's NaN would cast to 0 while DuckDB
    # casts NaN to NULL — the cross-engine divergence the repo's when()
    # guards exist to prevent)
    return agg.select(
        "n", "n11", "n10", "n01", "n00",
        F.when(pe < 1.0, F.floor(F.lit(1000.0) * (po - pe) / (F.lit(1.0) - pe)))
        .cast("bigint")
        .alias("kappa_milli"),
    )


ORACLE_COHENS_KAPPA = f"""
WITH flags AS (
  SELECT (n_chars >= 200)::BIGINT AS a, (len({_TOKS}) >= 40)::BIGINT AS b
  FROM documents
),
agg AS (
  SELECT count(*)::BIGINT AS n,
         sum(a * b)::BIGINT AS n11, sum(a * (1 - b))::BIGINT AS n10,
         sum((1 - a) * b)::BIGINT AS n01, sum((1 - a) * (1 - b))::BIGINT AS n00
  FROM flags
)
SELECT n, n11, n10, n01, n00,
       CASE WHEN ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
                  + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE) / (n::DOUBLE * n::DOUBLE) < 1.0
            THEN floor(1000.0 * ((n11 + n00)::DOUBLE / n::DOUBLE
                   - ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
                      + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE) / (n::DOUBLE * n::DOUBLE))
                  / (1.0 - ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
                      + (n01 + n00)::DOUBLE * (n10 + n00)::DOUBLE) / (n::DOUBLE * n::DOUBLE)))
       END::BIGINT AS kappa_milli
FROM agg
"""


# ------------------------------------------------------------- trimmed mean
def q_trimmed_mean(spark, sf_dir):
    """10%-two-sided trimmed mean of event value per type — the robust
    location estimate between the mean (e_* aggregates) and the median
    (e_mad_outliers): drop the bottom and top n div 10 observations, then
    average the middle 80%. The estimator revenue dashboards want when a
    few refunds and whale orders distort the mean but the median is too
    coarse.

    Exact integer arithmetic via the VALUE HISTOGRAM (the e_winsorize /
    mad shape — never a global sort): per (type, cents) counts, keyed
    cumsum over the bounded cent axis, then each bin's KEPT multiplicity
    is clamp(min(cum, n−k) − max(cum−cnt, k), 0, cnt) — handles ties
    across the trim boundary exactly; trimmed sum/count are exact BIGINTs
    and the mean one integer division to milli-cents."""

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    hist = ev.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select("event_type", "cents", "cnt", F.sum("cnt").over(wc).alias("cum"))
    tot = hist.groupBy("event_type").agg(F.sum("cnt").cast("bigint").alias("n"))
    kept = (
        cum.join(F.broadcast(tot), "event_type")
        .withColumn("k", F.expr("n div 10"))
        .withColumn(
            "keep",
            F.greatest(
                F.lit(0),
                F.least(F.col("cum"), F.col("n") - F.col("k"))
                - F.greatest(F.col("cum") - F.col("cnt"), F.col("k")),
            ),
        )
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            F.sum("keep").cast("bigint").alias("trimmed_n"),
            F.sum(F.col("cents") * F.col("keep")).cast("bigint").alias("_ts"),
        )
        .select(
            "event_type",
            "n_rows",
            "trimmed_n",
            F.expr("_ts * 1000 div trimmed_n").cast("bigint").alias("trimmed_mean_milli"),
        )
        .orderBy("event_type")
    )


ORACLE_TRIMMED_MEAN = """
WITH ev AS (
  SELECT event_type, floor(value * 100 + 0.5)::BIGINT AS cents FROM events
),
hist AS (SELECT event_type, cents, count(*)::BIGINT AS cnt FROM ev GROUP BY 1, 2),
cum AS (
  SELECT event_type, cents, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS cum
  FROM hist
),
tot AS (SELECT event_type, sum(cnt)::BIGINT AS n FROM hist GROUP BY 1),
kept AS (
  SELECT c.event_type, c.cents, t.n,
         greatest(0, least(c.cum, t.n - t.n // 10) - greatest(c.cum - c.cnt, t.n // 10)) AS keep
  FROM cum c JOIN tot t USING (event_type)
)
SELECT event_type, max(n)::BIGINT AS n_rows, sum(keep)::BIGINT AS trimmed_n,
       (sum(cents * keep) * 1000 // sum(keep))::BIGINT AS trimmed_mean_milli
FROM kept GROUP BY event_type ORDER BY event_type
"""


# ------------------------------------------------------------- CUSUM change point
def q_changepoint_cusum(spark, sf_dir):
    """CUSUM change-point detection per event type: the day where the
    cumulative daily revenue deviates FARTHEST from the straight line
    between zero and the period total — the classic "when did the level
    shift?" screen that flags a pricing change, an outage, or a feed
    break, without assuming any distribution.

    Exact integer arithmetic by cross-multiplication: dev_d =
    |cum_d · D − C · d| (no division, so no float drift; ties broken by
    the EARLIEST day). Scale shape: one hash agg to the bounded day grid,
    a keyed cumsum + row-number window over ≤ calendar-many rows per
    type, one keyed top-1 window."""

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("c")
        )
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    wcum = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g = daily.select(
        "event_type",
        "day",
        F.row_number().over(wd).alias("d"),
        F.sum("c").over(wcum).alias("cum"),
    )
    tot = g.groupBy("event_type").agg(
        F.max("d").cast("bigint").alias("n_days"), F.max("cum").cast("bigint").alias("_c")
    )
    dev = g.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day",
        "n_days",
        F.abs(F.col("cum") * F.col("n_days") - F.col("_c") * F.col("d")).alias("dev"),
    )
    wr = Window.partitionBy("event_type").orderBy(F.col("dev").desc(), F.col("day"))
    return (
        dev.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("day").alias("change_day"),
            F.col("dev").cast("bigint").alias("dev_max"),
        )
        .orderBy("event_type")
    )


ORACLE_CHANGEPOINT_CUSUM = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type, day,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS d,
         sum(c) OVER (PARTITION BY event_type ORDER BY day) AS cum
  FROM daily
),
tot AS (
  SELECT event_type, max(d)::BIGINT AS n_days, max(cum)::BIGINT AS ctot
  FROM g GROUP BY 1
),
dev AS (
  SELECT g.event_type, g.day, t.n_days,
         abs(g.cum * t.n_days - t.ctot * g.d) AS dev
  FROM g JOIN tot t USING (event_type)
),
rk AS (
  SELECT event_type, day, n_days, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev DESC, day) AS rk
  FROM dev
)
SELECT event_type, n_days, day AS change_day, dev::BIGINT AS dev_max
FROM rk WHERE rk = 1 ORDER BY event_type
"""


# ------------------------------------------------------------- lag-1 autocorrelation
def q_autocorr_daily(spark, sf_dir):
    """Lag-1 autocorrelation of daily revenue PER EVENT TYPE: does today
    predict tomorrow (momentum, r→1), anti-correlate (oscillating batch
    effects, r→−1), or is the series white noise? The one-number
    stationarity screen read before fitting any trend (e_ols_trend,
    e_theil_sen) — autocorrelated residuals invalidate their confidence
    story. The KEYED sibling of e_autocorr (analytics.py), which measures
    the single global order-revenue series on the orders table; this one
    runs the same gap-safe adjacent-day join per behavioral event type,
    where per-type persistence differs (purchases cluster, views don't).

    All five Pearson sums are exact BIGINTs over the bounded day-pair
    frame (consecutive-day join on the calendar grid — never raw
    events); every derived term is DOUBLE with identical operation order
    in both engines (the x_degree_assortativity overflow discipline),
    one floor to milli."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    ).cache()
    nxt = daily.select(
        F.col("event_type").alias("_et2"),
        F.col("day").alias("_d2"),
        F.col("y").alias("y2"),
    )
    pairs = daily.join(
        nxt,
        (F.col("event_type") == F.col("_et2"))
        & (F.col("_d2") == F.date_add(F.col("day"), 1)),
    ).select("event_type", "y", "y2")
    agg = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("y").cast("bigint").alias("sx"),
        F.sum("y2").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y2")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("sxx"),
        F.sum(F.col("y2") * F.col("y2")).cast("bigint").alias("syy"),
    )
    n = F.col("n_pairs").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return agg.select(
        "event_type",
        "n_pairs",
        F.when(
            (n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0),
            F.floor(
                (F.lit(1000.0) * (n * sxy - sx * sy))
                / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
            ),
        ).cast("bigint").alias("r1_milli"),
    ).orderBy("event_type")


ORACLE_AUTOCORR_DAILY = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS y
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type, a.y, b.y AS y2
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.day = a.day + 1
),
agg AS (
  SELECT event_type, count(*)::BIGINT AS n_pairs,
         sum(y)::BIGINT AS sx, sum(y2)::BIGINT AS sy,
         sum(y * y2)::BIGINT AS sxy, sum(y * y)::BIGINT AS sxx,
         sum(y2 * y2)::BIGINT AS syy
  FROM pairs GROUP BY 1
)
SELECT event_type, n_pairs,
       CASE WHEN n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
             AND n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0 THEN
         floor((1000.0 * (n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE))
               / sqrt((n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                      * (n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)))
       END::BIGINT AS r1_milli
FROM agg ORDER BY event_type
"""


# ------------------------------------------------------------- seasonal index
def q_seasonal_index(spark, sf_dir):
    """Day-of-week seasonal index per event type: average daily revenue on
    each weekday relative to the type's overall daily average, as an exact
    cross-multiplied milli ratio — the multiplicative seasonal profile a
    forecast divides out before trend fitting (e_ols_trend / e_holt_winters
    operate on the deseasonalized series this query defines).

    index_milli(dow) = (sum_dow · n_days_all · 1000) div (sum_all ·
    n_days_dow): every term an exact BIGINT from the bounded
    (type, day) grid — no float averages. Daily totals are SUMS OF
    PER-ROW CENTS (floor(value·100 + 0.5) per event — exact on the money
    grid and ADDITIVE, so the streaming twin's per-batch partial sums
    merge to the identical number; round-of-float-sum would not be
    batch-invariant). One hash agg to the day grid, one to the
    (type, dow) grid, a broadcast type-total join."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
        )
        .agg(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")).cast("bigint").alias("c"))
        .withColumn(
            # datediff from the epoch DATE is timezone-independent in both
            # engines (unix_timestamp(DATE) evaluates at
            # session-tz midnight and shifts every dow on a non-UTC host)
            "dow",
            F.expr("(datediff(day, date'1970-01-01') + 4) % 7"),
        )
    ).cache()  # bounded |types| x |days| grid, two consumers (per_dow, per_type)
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


ORACLE_SEASONAL_INDEX = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
d2 AS (
  SELECT event_type, day, c,
         ((day - DATE '1970-01-01') + 4) % 7 AS dow
  FROM daily
),
per_dow AS (
  SELECT event_type, dow, sum(c)::BIGINT AS sum_dow, count(*)::BIGINT AS n_days_dow
  FROM d2 GROUP BY 1, 2
),
per_type AS (
  SELECT event_type, sum(c)::BIGINT AS sum_all, count(*)::BIGINT AS n_days_all
  FROM d2 GROUP BY 1
)
SELECT p.event_type, p.dow::BIGINT AS dow, p.n_days_dow,
       (p.sum_dow * t.n_days_all * 1000 // (t.sum_all * p.n_days_dow))::BIGINT AS index_milli
FROM per_dow p JOIN per_type t USING (event_type)
ORDER BY p.event_type, p.dow
"""


# ------------------------------------------------------------- Mann-Kendall trend
def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test per event type: S = Σ_{i<j} sign(y_j − y_i)
    over the daily-revenue day grid, with the normal-approximation z — the
    nonparametric SIGNIFICANCE companion to e_theil_sen's slope (Theil-Sen
    says how steep; Mann-Kendall says whether the monotone trend is real).
    No distributional assumption, immune to outlier magnitudes.

    S is an exact BIGINT over the calendar-bounded pairwise day join
    (never raw events); the variance n(n−1)(2n+5)/18 is evaluated with
    each factor cast to DOUBLE before multiplying (the e_mann_whitney
    int64-overflow discipline — identical in the oracle), one floor to
    milli. Tie correction is omitted (documented): daily cent totals on
    this grid are effectively tie-free, and both engines omit it
    identically."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")).alias("y"))
    ).cache()
    b = daily.select(
        F.col("event_type").alias("_et2"),
        F.col("day").alias("_d2"),
        F.col("y").alias("y2"),
    )
    pairs = daily.join(
        b, (F.col("event_type") == F.col("_et2")) & (F.col("day") < F.col("_d2"))
    ).select("event_type", F.signum(F.col("y2") - F.col("y")).cast("bigint").alias("sg"))
    n_days = daily.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    agg = pairs.groupBy("event_type").agg(F.sum("sg").cast("bigint").alias("s_stat"))
    nd = F.col("n_days").cast("double")
    return (
        agg.join(F.broadcast(n_days), "event_type")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            F.when(
                F.col("n_days") >= 2,
                F.floor(
                    F.lit(1000.0)
                    * F.col("s_stat").cast("double")
                    / F.sqrt(nd * (nd - 1.0) * (2.0 * nd + 5.0) / 18.0)
                ),
            ).cast("bigint").alias("z_milli"),
        )
        .orderBy("event_type")
    )


ORACLE_MANN_KENDALL = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS y
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type, sign(b.y - a.y)::BIGINT AS sg
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
),
nd AS (SELECT event_type, count(*)::BIGINT AS n_days FROM daily GROUP BY 1),
agg AS (SELECT event_type, sum(sg)::BIGINT AS s_stat FROM pairs GROUP BY 1)
SELECT a.event_type, n.n_days, a.s_stat,
       CASE WHEN n.n_days >= 2 THEN
         floor(1000.0 * a.s_stat::DOUBLE
               / sqrt(n.n_days::DOUBLE * (n.n_days::DOUBLE - 1.0)
                      * (2.0 * n.n_days::DOUBLE + 5.0) / 18.0))
       END::BIGINT AS z_milli
FROM agg a JOIN nd n USING (event_type)
ORDER BY a.event_type
"""


SPECS += [
    QuerySpec("e_burst_hours", q_burst_hours, ORACLE_BURST_HOURS,
              doc="hours where an event type ran >= 2.5x its average hourly rate (integer cross-multiply)",
              tags=("ext", "stats")),
    QuerySpec("e_mann_whitney", q_mann_whitney, ORACLE_MANN_WHITNEY,
              doc="Mann-Whitney U rank-sum z-score via value-grid cumsum (no global sort)",
              tags=("analytics", "stats")),
    QuerySpec("e_theil_sen", q_theil_sen, ORACLE_THEIL_SEN,
              doc="Theil-Sen robust slope: median pairwise slope over the bounded day grid",
              tags=("analytics", "stats")),
    QuerySpec("e_kendall_tau", q_kendall_tau, ORACLE_KENDALL_TAU,
              doc="Kendall tau-a concordance between daily click and purchase series",
              tags=("analytics", "stats")),
    QuerySpec("e_chisq_independence", q_chisq_independence, ORACLE_CHISQ_INDEPENDENCE,
              doc="chi-square independence of event type x day-of-week + Cramer's V on the exact micro grid",
              tags=("analytics", "stats")),
    QuerySpec("e_two_proportion_z", q_two_proportion_z, ORACLE_TWO_PROPORTION_Z,
              doc="two-proportion z-test of purchase share between hash-split cohorts",
              tags=("analytics", "stats")),
    QuerySpec("e_cohens_kappa", q_cohens_kappa, ORACLE_COHENS_KAPPA,
              doc="Cohen's kappa between the length and token-count quality screens (2x2 exact counts, scalar double kappa)",
              tags=("llm", "stats", "eval")),
    QuerySpec("e_trimmed_mean", q_trimmed_mean, ORACLE_TRIMMED_MEAN,
              doc="10% two-sided trimmed mean per event type via exact value-histogram trim counts",
              tags=("ext", "stats", "robust")),
    QuerySpec("e_changepoint_cusum", q_changepoint_cusum, ORACLE_CHANGEPOINT_CUSUM,
              doc="CUSUM change-point day per event type, cross-multiplied integer deviation",
              tags=("ext", "stats", "timeseries")),
    QuerySpec("e_autocorr_daily", q_autocorr_daily, ORACLE_AUTOCORR_DAILY,
              doc="lag-1 autocorrelation of daily revenue per event type, double-guarded Pearson",
              tags=("ext", "stats", "timeseries")),
    QuerySpec("e_seasonal_index", q_seasonal_index, ORACLE_SEASONAL_INDEX,
              doc="day-of-week multiplicative seasonal index per event type, exact cross-multiplied milli",
              tags=("ext", "stats", "timeseries")),
    QuerySpec("e_mann_kendall", q_mann_kendall, ORACLE_MANN_KENDALL,
              doc="Mann-Kendall monotone-trend z per event type over the daily grid (significance companion to Theil-Sen)",
              tags=("ext", "stats", "timeseries")),
]

"""Driver-checkable DWD app queries over a synthesized Maxwell CDC envelope.

The 13 DWD app specs and the literal ``old``-map P5 predicate need a CDC
envelope, which the driver tables do not have, so each query synthesizes
the envelope DETERMINISTICALLY from ``orders``/``lineitem`` — every row
becomes 1-2 Maxwell
records (insert + optional update-with-``old``-map), serialized to JSON and
re-parsed through the real ``parse_cdc`` path, then fed to the real
``run_dwd_app`` spec machinery. The DuckDB oracle computes the relational
equivalent of the same construction, so value parity checks the whole
P1→P2→P5(literal old map)→P6→P3→J3 chain.

Reference shapes: envelope MyKafkaUtil.java:79-89; transitions
DwdTradeCancelDetail.java:89-92; delta DwdTradeCartAdd.java:31,44-49;
require_data DwdTradePayDetailSuc.java:24-46; base_dic lookup
DimApp.java:178-187.

Scale note: the envelope is narrow (a map per row) and every operator after
``parse_cdc`` is a pure Column expression, so the whole chain stays in one
codegen stage per source — no extra shuffle beyond what the final query
needs. At 100 TB the JSON parse is the dominant cost, exactly as in the
reference's Kafka consumers, and it is JVM-side (`from_json`), not Python.

The envelope union comes in two forms (``union_envelope``): the
``via_json`` path serializes each record to JSON and re-parses through the
real ``parse_cdc`` (full P1 fidelity — used by the five single-table
queries), while the typed path unpacks the record structs directly. The
multi-consumer J6 query uses the typed path: its four consumers each filter
on ``table=...``, and with per-table union branches Catalyst constant-folds
every non-matching branch to an empty relation — the query reads each source
once, not four times. A JSON round-trip would defeat that pruning (nothing
folds through from_json∘to_json) and quadruple the parse work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import ensure_parallelism, load_table, scratch_dir
from ..operators import cdc as cdc_ops
from . import QuerySpec

_TS = "1704067200"  # constant Maxwell ts (not projected by any query)


def _rec(table: str, type_: str, data: Column, old: Column | None = None) -> Column:
    """One Maxwell record as a struct column (MyKafkaUtil.java:79-89)."""
    if old is None:
        old = F.lit(None).cast("map<string,string>")
    return F.struct(
        F.lit("gmall").alias("database"),
        F.lit(table).alias("table"),
        F.lit(type_).alias("type"),
        data.alias("data"),
        old.alias("old"),
        F.lit(_TS).alias("ts"),
    )


def union_envelope(branches: list[DataFrame], via_json: bool) -> DataFrame:
    """Union per-table record branches (each a single struct column ``r``)
    into one envelope stream — through JSON + ``parse_cdc`` for P1 fidelity,
    or typed for multi-consumer pruning (see module docstring)."""
    env = branches[0]
    for b in branches[1:]:
        env = env.unionByName(b)
    if via_json:
        return cdc_ops.parse_cdc(env.select(F.to_json("r").alias("value")))
    return env.select("r.*").withColumn("proc_time", F.current_timestamp())


def _order_info_branches(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """orders → ``order_info`` CDC records: one insert per order (status
    1001) plus, for F/O orders, one update into 1003/1002 carrying the
    Maxwell ``old`` map with the previous status — the literal
    DwdTradeCancelDetail.java:89-92 shape. Updates carry a strictly later
    ``operate_time`` (+1 h) so changelog compaction (latest_by_key, S8) has
    a deterministic winner per order."""
    o = load_table(spark, sf_dir, "orders")
    ot_ins = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    ot_upd = F.date_format(
        F.col("o_orderdate") + F.expr("INTERVAL 1 HOUR"), "yyyy-MM-dd HH:mm:ss"
    )

    def _data(status, ot) -> Column:
        return F.create_map(
            F.lit("id"), F.col("o_orderkey").cast("string"),
            F.lit("user_id"), F.col("o_custkey").cast("string"),
            F.lit("province_id"), (F.col("o_custkey") % 36 + 1).cast("string"),
            F.lit("operate_time"), ot,
            F.lit("order_status"), status,
        )

    ins = o.select(_rec("order_info", "insert", _data(F.lit("1001"), ot_ins)).alias("r"))
    new_status = F.when(F.col("o_orderstatus") == "F", "1003").otherwise("1002")
    upd = o.filter(F.col("o_orderstatus").isin("F", "O")).select(
        _rec(
            "order_info", "update", _data(new_status, ot_upd),
            F.create_map(F.lit("order_status"), F.lit("1001")),
        ).alias("r")
    )
    return [ins, upd]


def _order_info_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return union_envelope(_order_info_branches(spark, sf_dir), via_json=True)


def _cart_info_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → ``cart_info`` CDC stream: insert with sku_num=quantity;
    even line numbers also get an update to quantity+5 with
    ``old['sku_num']`` — exercising the P6 insert-vs-update delta
    (DwdTradeCartAdd.java:31) through the literal old map."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("int")

    def _data(sku_num) -> F.Column:
        return F.create_map(
            F.lit("id"), (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string"),
            F.lit("user_id"), F.col("l_suppkey").cast("string"),
            F.lit("sku_id"), F.col("l_partkey").cast("string"),
            F.lit("source_type"), (F.col("l_partkey") % 25).cast("string"),
            F.lit("sku_num"), sku_num.cast("string"),
        )

    null_old = F.lit(None).cast("map<string,string>")
    ins = F.struct(
        F.lit("gmall").alias("database"),
        F.lit("cart_info").alias("table"),
        F.lit("insert").alias("type"),
        _data(qty).alias("data"),
        null_old.alias("old"),
        F.lit(_TS).alias("ts"),
    )
    upd = F.when(
        F.col("l_linenumber") % 2 == 0,
        F.struct(
            F.lit("gmall").alias("database"),
            F.lit("cart_info").alias("table"),
            F.lit("update").alias("type"),
            _data(qty + 5).alias("data"),
            F.create_map(F.lit("sku_num"), qty.cast("string")).alias("old"),
            F.lit(_TS).alias("ts"),
        ),
    )
    recs = F.filter(F.array(ins, upd), lambda r: r.isNotNull())
    raw = li.select(F.explode(recs).alias("r")).select(F.to_json("r").alias("value"))
    return cdc_ops.parse_cdc(raw)


def _payment_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders(F) → ``payment_info`` updates; even order keys reach
    payment_status 1602 (success), odd stay 1601 — the require_data filter
    surface (DwdTradePayDetailSuc.java:24-46)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    ct = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    status = F.when(F.col("o_orderkey") % 2 == 0, "1602").otherwise("1601")
    data = F.create_map(
        F.lit("user_id"), F.col("o_custkey").cast("string"),
        F.lit("order_id"), F.col("o_orderkey").cast("string"),
        F.lit("payment_type"), (F.col("o_orderkey") % 25).cast("string"),
        F.lit("callback_time"), ct,
        F.lit("payment_status"), status,
    )
    rec = F.struct(
        F.lit("gmall").alias("database"),
        F.lit("payment_info").alias("table"),
        F.lit("update").alias("type"),
        data.alias("data"),
        F.create_map(F.lit("payment_status"), F.lit("1601")).alias("old"),
        F.lit(_TS).alias("ts"),
    )
    raw = o.select(F.to_json(rec).alias("value"))
    return cdc_ops.parse_cdc(raw)


def trade_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full trade-side CDC stream: order_info (orders) ∪ order_detail ∪
    order_detail_activity ∪ order_detail_coupon (lineitem) — the four topics
    DwdTradeOrderPreProcess.java:25-118 consumes, in one envelope.

    The synthetic lineitem repeats (l_orderkey, l_linenumber) pairs with
    different attributes, but (l_orderkey, l_linenumber, l_partkey,
    l_suppkey) IS unique at every fixture SF, so the detail primary key is
    that tuple bit-packed into one bigint — shuffle-free (a row_number
    dedup sequence would cost one full-lineitem Exchange PER envelope
    branch) and pure integer arithmetic in both engines (a md5 row-hash
    also works but costs ~2 s of per-row CPU at sf0.1 across the three
    branches). Packing bounds: linenumber < 8, partkey < 2^22,
    suppkey < 2^14 — ample through sf1; the oracle would flag any
    overflow/collision as a row mismatch.
    """
    li = ensure_parallelism(
        spark, load_table(spark, sf_dir, "lineitem"), "l_orderkey"
    )
    did = (
        (
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")) * 4194304
            + F.col("l_partkey")
        ) * 16384
        + F.col("l_suppkey")
    ).cast("string")

    od_data = F.create_map(
        F.lit("id"), did,
        F.lit("order_id"), F.col("l_orderkey").cast("string"),
        F.lit("sku_id"), F.col("l_partkey").cast("string"),
        F.lit("sku_name"), F.concat(F.lit("sku_"), F.col("l_partkey")),
        F.lit("order_price"), F.floor("l_extendedprice").cast("string"),
        F.lit("sku_num"), F.col("l_quantity").cast("int").cast("string"),
        F.lit("create_time"), F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss"),
        F.lit("source_type"), (F.col("l_partkey") % 25).cast("string"),
        F.lit("source_id"), F.col("l_suppkey").cast("string"),
        F.lit("split_total_amount"), F.floor("l_extendedprice").cast("string"),
        F.lit("split_activity_amount"), F.floor(F.col("l_discount") * 100).cast("string"),
        F.lit("split_coupon_amount"), F.floor(F.col("l_tax") * 100).cast("string"),
    )
    # create_time on the activity/coupon branches: the CDC rows land at
    # the same instant as their order_detail row, giving the streaming twin
    # (s_stream_order_preprocess) an event-time axis for its watermarked
    # left-outer joins; batch consumers project named keys only, so the
    # extra map entry is invisible to them
    oa_data = F.create_map(
        F.lit("order_detail_id"), did,
        F.lit("activity_id"), (F.col("l_partkey") % 10).cast("string"),
        F.lit("activity_rule_id"), (F.col("l_partkey") % 100).cast("string"),
        F.lit("create_time"), F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss"),
    )
    oc_data = F.create_map(
        F.lit("order_detail_id"), did,
        F.lit("coupon_id"), (F.col("l_orderkey") % 500).cast("string"),
        F.lit("create_time"), F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss"),
    )
    branches = [
        li.select(_rec("order_detail", "insert", od_data).alias("r")),
        li.filter(F.col("l_partkey") % 4 == 0).select(
            _rec("order_detail_activity", "insert", oa_data).alias("r")
        ),
        li.filter(F.col("l_orderkey") % 5 == 0).select(
            _rec("order_detail_coupon", "insert", oc_data).alias("r")
        ),
        *_order_info_branches(spark, sf_dir),
    ]
    # typed path: J6's four consumers each route on `table`, and per-table
    # branches let that filter constant-fold the other branches to empty —
    # one scan per source instead of four re-parses (see module docstring)
    return union_envelope(branches, via_json=False)


def _coupon_use_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ``coupon_use`` updates; every third order key has a
    ``used_time`` in the row image — the require_nonnull surface
    (DwdToolCouponPay.java:41-64)."""
    o = load_table(spark, sf_dir, "orders")
    ut = F.when(
        F.col("o_orderkey") % 3 == 0,
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
    )  # else NULL — map value absent for unused coupons
    data = F.create_map(
        F.lit("id"), F.col("o_orderkey").cast("string"),
        F.lit("coupon_id"), (F.col("o_orderkey") % 500).cast("string"),
        F.lit("user_id"), F.col("o_custkey").cast("string"),
        F.lit("order_id"), F.col("o_orderkey").cast("string"),
        F.lit("used_time"), ut,
    )
    rec = F.struct(
        F.lit("gmall").alias("database"),
        F.lit("coupon_use").alias("table"),
        F.lit("update").alias("type"),
        data.alias("data"),
        F.create_map(F.lit("coupon_status"), F.lit("1401")).alias("old"),
        F.lit(_TS).alias("ts"),
    )
    raw = o.select(F.to_json(rec).alias("value"))
    return cdc_ops.parse_cdc(raw)


def _refund_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders (every 7th key) → ``order_refund_info`` inserts — feeds the
    DOUBLE base_dic lookup (refund_type + refund_reason_type), the J4
    double-alias join inside a DWD spec (DwdTradeOrderRefund.java:54-104)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    ct = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    data = F.create_map(
        F.lit("id"), F.col("o_orderkey").cast("string"),
        F.lit("user_id"), F.col("o_custkey").cast("string"),
        F.lit("order_id"), F.col("o_orderkey").cast("string"),
        F.lit("sku_id"), (F.col("o_orderkey") % 200).cast("string"),
        F.lit("refund_type"), (F.col("o_orderkey") % 25).cast("string"),
        F.lit("refund_num"), F.lit("1"),
        F.lit("refund_amount"), F.floor("o_totalprice").cast("string"),
        F.lit("refund_reason_type"), (F.col("o_custkey") % 25).cast("string"),
        F.lit("create_time"), ct,
    )
    return union_envelope(
        [o.select(_rec("order_refund_info", "insert", data).alias("r"))], via_json=True
    )


def _comment_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders (every 3rd key) → ``comment_info`` inserts with an appraise
    code joined against base_dic (DwdInteractionComment.java:44-87)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    ct = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    data = F.create_map(
        F.lit("id"), F.col("o_orderkey").cast("string"),
        F.lit("user_id"), F.col("o_custkey").cast("string"),
        F.lit("sku_id"), (F.col("o_orderkey") % 200).cast("string"),
        F.lit("order_id"), F.col("o_orderkey").cast("string"),
        F.lit("create_time"), ct,
        F.lit("appraise"), (F.col("o_custkey") % 25).cast("string"),
    )
    return union_envelope(
        [o.select(_rec("comment_info", "insert", data).alias("r"))], via_json=True
    )


def _user_info_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → ``user_info`` inserts; create_time derived from the key
    (customer has no date column) identically in both engines
    (DwdUserRegister.java:35-74)."""
    c = load_table(spark, sf_dir, "customer")
    ct = F.date_format(
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("c_custkey") % 365).cast("int")),
        "yyyy-MM-dd HH:mm:ss",
    )
    data = F.create_map(
        F.lit("id"), F.col("c_custkey").cast("string"),
        F.lit("create_time"), ct,
    )
    return union_envelope(
        [c.select(_rec("user_info", "insert", data).alias("r"))], via_json=True
    )


def base_dic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → base_dic lookup dim (dic_code '0'..'24' → name)."""
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        F.col("n_nationkey").cast("string").alias("dic_code"),
        F.col("n_name").alias("dic_name"),
    )


# ---------------------------------------------------------------- P5 literal old-map
def q_old_map_literal(spark, sf_dir):
    """P5 in the LITERAL reference form: ``old['order_status'] IS NOT NULL
    AND data['order_status'] = '1003'`` over a real Maxwell envelope
    (DwdTradeCancelDetail.java:89-92) — not the lag-derived stand-in."""
    env = _order_info_envelope(spark, sf_dir)
    hit = cdc_ops.transition_filter(env, "order_status", "1003")
    return hit.select(
        F.col("data").getItem("id").cast("bigint").alias("order_id"),
        F.col("old").getItem("order_status").alias("old_status"),
        F.col("data").getItem("order_status").alias("new_status"),
    )


ORACLE_OLD_MAP = """
SELECT o_orderkey AS order_id, '1001' AS old_status, '1003' AS new_status
FROM orders WHERE o_orderstatus = 'F'
"""


# ---------------------------------------------------------------- P3 family: cancel
def q_dwd_cancel_detail(spark, sf_dir):
    """dwd_trade_cancel_detail spec end-to-end: P1 JSON parse → P2 route →
    P5 literal transition → P3 map projection → date_id derivation."""
    from ..apps import DWD_SPECS, run_dwd_app

    env = _order_info_envelope(spark, sf_dir)
    out = run_dwd_app(env, DWD_SPECS["dwd_trade_cancel_detail"])
    return out.select(
        F.col("id").cast("bigint").alias("order_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("province_id").cast("int").alias("province_id"),
        "operate_time",
        "date_id",
    )


ORACLE_CANCEL = """
SELECT o_orderkey AS order_id,
       o_custkey AS user_id,
       CAST(o_custkey % 36 + 1 AS INT) AS province_id,
       strftime(o_orderdate + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS operate_time,
       strftime(o_orderdate + INTERVAL 1 HOUR, '%Y-%m-%d') AS date_id
FROM orders WHERE o_orderstatus = 'F'
"""


# ---------------------------------------------------------------- P3 family: cart add
def q_dwd_cart_add(spark, sf_dir):
    """dwd_trade_cart_add spec end-to-end: P6 conditional delta (insert →
    sku_num, update → data-old) + J3 base_dic broadcast lookup join."""
    from ..apps import DWD_SPECS, run_dwd_app

    env = _cart_info_envelope(spark, sf_dir)
    out = run_dwd_app(env, DWD_SPECS["dwd_trade_cart_add"], base_dic(spark, sf_dir))
    return out.select(
        F.col("id").cast("bigint").alias("cart_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("sku_id").cast("bigint").alias("sku_id"),
        "source_type",
        "source_type_name",
        F.col("sku_num").alias("sku_num"),
    )


ORACLE_CART = """
WITH dic AS (SELECT n_nationkey::VARCHAR AS code, n_name FROM nation),
recs AS (
  SELECT l_orderkey * 10 + l_linenumber AS cart_id, l_suppkey AS user_id,
         l_partkey AS sku_id, (l_partkey % 25)::VARCHAR AS source_type,
         CAST(floor(l_quantity) AS INT) AS sku_num
  FROM lineitem WHERE floor(l_quantity) > 0
  UNION ALL
  SELECT l_orderkey * 10 + l_linenumber, l_suppkey, l_partkey,
         (l_partkey % 25)::VARCHAR, 5
  FROM lineitem WHERE l_linenumber % 2 = 0
)
SELECT cart_id, user_id, sku_id, source_type, n_name AS source_type_name, sku_num
FROM recs JOIN dic ON source_type = code
"""


# ---------------------------------------------------------------- P3 family: pay suc
def q_dwd_pay_detail(spark, sf_dir):
    """dwd_trade_pay_detail_suc spec end-to-end: require_data equality
    filter on the map + dic lookup + date_id."""
    from ..apps import DWD_SPECS, run_dwd_app

    env = _payment_envelope(spark, sf_dir)
    out = run_dwd_app(env, DWD_SPECS["dwd_trade_pay_detail_suc"], base_dic(spark, sf_dir))
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("order_id").cast("bigint").alias("order_id"),
        "payment_type",
        "payment_type_name",
        "callback_time",
        "date_id",
    )


ORACLE_PAY = """
WITH dic AS (SELECT n_nationkey::VARCHAR AS code, n_name FROM nation)
SELECT o_custkey AS user_id, o_orderkey AS order_id,
       (o_orderkey % 25)::VARCHAR AS payment_type,
       n_name AS payment_type_name,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS callback_time,
       strftime(o_orderdate, '%Y-%m-%d') AS date_id
FROM orders JOIN dic ON (o_orderkey % 25)::VARCHAR = code
WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0
"""


# ---------------------------------------------------------------- P3: refund (double dic)
def q_dwd_order_refund(spark, sf_dir):
    """dwd_trade_order_refund spec: insert route + TWO base_dic lookup joins
    (refund_type, refund_reason_type) — the double-alias broadcast pattern
    inside the spec machinery."""
    from ..apps import DWD_SPECS, run_dwd_app

    env = _refund_envelope(spark, sf_dir)
    out = run_dwd_app(env, DWD_SPECS["dwd_trade_order_refund"], base_dic(spark, sf_dir))
    return out.select(
        F.col("id").cast("bigint").alias("refund_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("order_id").cast("bigint").alias("order_id"),
        F.col("sku_id").cast("int").alias("sku_id"),
        "refund_type",
        "refund_type_name",
        F.col("refund_num").cast("int").alias("refund_num"),
        F.col("refund_amount").cast("bigint").alias("refund_amount"),
        "refund_reason_type",
        "refund_reason_type_name",
        "date_id",
    )


ORACLE_REFUND = """
WITH dic AS (SELECT n_nationkey::VARCHAR AS code, n_name FROM nation)
SELECT o_orderkey AS refund_id, o_custkey AS user_id, o_orderkey AS order_id,
       CAST(o_orderkey % 200 AS INT) AS sku_id,
       (o_orderkey % 25)::VARCHAR AS refund_type,
       d1.n_name AS refund_type_name,
       1 AS refund_num,
       CAST(floor(o_totalprice) AS BIGINT) AS refund_amount,
       (o_custkey % 25)::VARCHAR AS refund_reason_type,
       d2.n_name AS refund_reason_type_name,
       strftime(o_orderdate, '%Y-%m-%d') AS date_id
FROM orders
LEFT JOIN dic d1 ON (o_orderkey % 25)::VARCHAR = d1.code
LEFT JOIN dic d2 ON (o_custkey % 25)::VARCHAR = d2.code
WHERE o_orderkey % 7 = 0
"""


# ---------------------------------------------------------------- P3: comment + dic
def q_dwd_comment(spark, sf_dir):
    """dwd_interaction_comment spec: insert route + appraise dic lookup."""
    from ..apps import DWD_SPECS, run_dwd_app

    env = _comment_envelope(spark, sf_dir)
    out = run_dwd_app(env, DWD_SPECS["dwd_interaction_comment"], base_dic(spark, sf_dir))
    return out.select(
        F.col("id").cast("bigint").alias("comment_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("sku_id").cast("int").alias("sku_id"),
        F.col("order_id").cast("bigint").alias("order_id"),
        "appraise",
        "appraise_name",
        "create_time",
        "date_id",
    )


ORACLE_COMMENT = """
WITH dic AS (SELECT n_nationkey::VARCHAR AS code, n_name FROM nation)
SELECT o_orderkey AS comment_id, o_custkey AS user_id,
       CAST(o_orderkey % 200 AS INT) AS sku_id, o_orderkey AS order_id,
       (o_custkey % 25)::VARCHAR AS appraise,
       n_name AS appraise_name,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS create_time,
       strftime(o_orderdate, '%Y-%m-%d') AS date_id
FROM orders LEFT JOIN dic ON (o_custkey % 25)::VARCHAR = code
WHERE o_orderkey % 3 = 0
"""


# ---------------------------------------------------------------- P3: user register
def q_dwd_user_register(spark, sf_dir):
    """dwd_user_register spec: plain insert route + rename (data id →
    user_id) + date_id — the smallest spec shape."""
    from ..apps import DWD_SPECS, run_dwd_app

    env = _user_info_envelope(spark, sf_dir)
    out = run_dwd_app(env, DWD_SPECS["dwd_user_register"])
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "create_time",
        "date_id",
    )


ORACLE_USER_REGISTER = """
SELECT c_custkey AS user_id,
       strftime(DATE '2024-01-01' + INTERVAL (c_custkey % 365) DAY,
                '%Y-%m-%d %H:%M:%S') AS create_time,
       strftime(DATE '2024-01-01' + INTERVAL (c_custkey % 365) DAY,
                '%Y-%m-%d') AS date_id
FROM customer
"""


# ---------------------------------------------------------------- S4/T10: dim sync
def user_info_branches(c: DataFrame) -> tuple[DataFrame, DataFrame]:
    """customer → ``user_info`` CDC record branches: one insert per customer
    plus a later-ts update (+1 day create_time) for every 4th key — the
    shared fixture for both dim-sync paths (snapshot + incremental)."""
    ct_ins = F.date_format(
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("c_custkey") % 365).cast("int")),
        "yyyy-MM-dd HH:mm:ss",
    )
    ct_upd = F.date_format(
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("c_custkey") % 365).cast("int") + 1),
        "yyyy-MM-dd HH:mm:ss",
    )

    def _urec(type_: str, ct: Column, ts: str) -> Column:
        return F.struct(
            F.lit("gmall").alias("database"),
            F.lit("user_info").alias("table"),
            F.lit(type_).alias("type"),
            F.create_map(
                F.lit("id"), F.col("c_custkey").cast("string"),
                F.lit("create_time"), ct,
                F.lit("user_name"), F.concat(F.lit("cust_"), F.col("c_custkey").cast("string")),
            ).alias("data"),
            F.lit(None).cast("map<string,string>").alias("old"),
            F.lit(ts).alias("ts"),
        )

    ins = c.select(_urec("insert", ct_ins, "1704067200").alias("r"))
    upd = c.filter(F.col("c_custkey") % 4 == 0).select(
        _urec("update", ct_upd, "1704070800").alias("r")
    )
    return ins, upd


def q_dim_app_sync(spark, sf_dir):
    """DimApp end-to-end (S4 config re-read + latest-per-source_table,
    T10 broadcast-state routing, P11 sink_columns pruning, S11 MERGE-by-pk
    upsert — DimApp.java + TableProcessFunction.java:169-324): customer →
    ``user_info`` inserts plus later-ts updates for every 4th key, synced
    through TWO config generations (the superseded one selects an extra
    column — the latest config wins, proving the re-read). Returns the
    synced dim table."""
    from ..apps import dim_app

    c = load_table(spark, sf_dir, "customer")
    ins, upd = user_info_branches(c)
    cdc = union_envelope([ins, upd], via_json=True)

    config = spark.createDataFrame(
        [
            # superseded generation: selects user_name too
            ("user_info", "dim_user_info", "id,create_time,user_name", "id", 1),
            # live generation: pruned to id,create_time (P11)
            ("user_info", "dim_user_info", "id,create_time", "id", 2),
        ],
        ["source_table", "sink_table", "sink_columns", "sink_pk", "config_seq"],
    )
    base = scratch_dir("dim_app_sync_")
    out = dim_app(spark, cdc, config, base)["dim_user_info"]
    return out.select(
        F.col("id").cast("bigint").alias("id"), F.col("create_time")
    )


ORACLE_DIM_APP = """
SELECT c_custkey AS id,
       strftime(DATE '2024-01-01'
                + to_days((c_custkey % 365)::INT
                          + CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 0 END),
                '%Y-%m-%d %H:%M:%S') AS create_time
FROM customer
"""


def q_dim_app_sync_incremental(spark, sf_dir):
    """S4 INCREMENTAL config semantics (Flink-CDC binlog model, DimApp.java:
    163-175 StartupOptions.initial) vs the snapshot-re-read path, on the
    same fixture: batch 1 (all inserts) is routed under config generation 1
    (sink_columns includes user_name), the config changes BETWEEN batches
    (generation 2 prunes to id,create_time — read as a changes-since-last-
    batch delta, not a snapshot), batch 2 (every-4th-key updates) is routed
    under generation 2. Result: non-updated rows keep the gen-1 user_name,
    updated rows have it nulled by the pruned MERGE — state the snapshot
    path can't produce (it applies gen 2 to everything). Output compares
    the two paths: create_time must agree (paths_agree), user_name is the
    incremental path's generation-dependent column."""
    from ..apps import dim_app, dim_app_incremental

    c = load_table(spark, sf_dir, "customer")
    ins, upd = user_info_branches(c)
    batch1 = union_envelope([ins], via_json=True)
    batch2 = union_envelope([upd], via_json=True)
    changelog = spark.createDataFrame(
        [
            ("user_info", "dim_user_info", "id,create_time,user_name", "id", 1, "u"),
            ("user_info", "dim_user_info", "id,create_time", "id", 2, "u"),
        ],
        ["source_table", "sink_table", "sink_columns", "sink_pk", "config_seq", "op"],
    )
    base_i = scratch_dir("dim_incr_")
    incr = dim_app_incremental(
        spark, [(batch1, 1), (batch2, 2)], changelog, base_i
    )["dim_user_info"]
    base_s = scratch_dir("dim_snap_")
    snap = dim_app(
        spark, union_envelope([ins, upd], via_json=True), changelog.drop("op"), base_s
    )["dim_user_info"]
    return (
        incr.select(
            F.col("id").cast("bigint").alias("id"),
            F.col("create_time").alias("ct_incr"),
            F.col("user_name").alias("uname_incr"),
        )
        .join(
            snap.select(
                F.col("id").cast("bigint").alias("id"),
                F.col("create_time").alias("ct_snap"),
            ),
            "id",
            "full",
        )
        .select(
            "id",
            "ct_incr",
            "uname_incr",
            (F.col("ct_incr") == F.col("ct_snap")).cast("int").alias("paths_agree"),
        )
    )


ORACLE_DIM_APP_INCR = """
SELECT c_custkey AS id,
       strftime(DATE '2024-01-01'
                + to_days((c_custkey % 365)::INT
                          + CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 0 END),
                '%Y-%m-%d %H:%M:%S') AS ct_incr,
       CASE WHEN c_custkey % 4 = 0 THEN NULL
            ELSE 'cust_' || c_custkey::VARCHAR END AS uname_incr,
       1 AS paths_agree
FROM customer
"""


def q_scd2_history(spark, sf_dir):
    """SCD2 dimension history (extension): every CDC version of order_info
    becomes a validity interval [valid_from, valid_to) with one lead()
    window per key; the open interval is the current image. This is the
    warehouse-standard history-preserving alternative to the reference's
    SCD1 Phoenix upsert (DimSinkFunction overwrites in place, DimApp) —
    one keyed shuffle, no self-join, and at 100 TB the window partitions
    by the dimension key so state is bounded by versions-per-key."""
    from pyspark.sql import Window

    env = union_envelope(_order_info_branches(spark, sf_dir), via_json=False)
    rows = env.filter(F.col("table") == "order_info").select(
        F.col("data")["id"].cast("bigint").alias("id"),
        F.col("data")["order_status"].alias("order_status"),
        F.col("data")["operate_time"].alias("valid_from"),
    )
    w = Window.partitionBy("id").orderBy("valid_from")
    return rows.select(
        "id",
        "order_status",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.lead("valid_from").over(w).isNull().cast("int").alias("is_current"),
    )


ORACLE_SCD2 = """
WITH v AS (
  SELECT o_orderkey AS id, '1001' AS order_status,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from
  FROM orders
  UNION ALL
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN '1003' ELSE '1002' END,
         strftime(o_orderdate + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S')
  FROM orders WHERE o_orderstatus IN ('F', 'O')
)
SELECT id, order_status, valid_from,
       lead(valid_from) OVER w AS valid_to,
       CAST(lead(valid_from) OVER w IS NULL AS INT) AS is_current
FROM v WINDOW w AS (PARTITION BY id ORDER BY valid_from)
"""


SCD2_AS_OF = "1998-06-15 00:00:00"


def q_scd2_point_in_time(spark, sf_dir):
    """Temporal point-in-time lookup over the SCD2 history (the query the
    history table exists FOR): the version of each order_info key valid at
    a fixed reference instant — ``valid_from <= T < valid_to`` with the
    open current interval unbounded. Reuses q_scd2_history's single-shuffle
    interval build; the filter prunes to ≤1 row per key with no extra
    shuffle."""
    hist = q_scd2_history(spark, sf_dir)
    t = F.lit(SCD2_AS_OF)
    return hist.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("id", "order_status", "valid_from", "is_current")


ORACLE_SCD2_PIT = f"""
WITH v AS (
  SELECT o_orderkey AS id, '1001' AS order_status,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from
  FROM orders
  UNION ALL
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN '1003' ELSE '1002' END,
         strftime(o_orderdate + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S')
  FROM orders WHERE o_orderstatus IN ('F', 'O')
),
h AS (
  SELECT id, order_status, valid_from,
         lead(valid_from) OVER w AS valid_to,
         CAST(lead(valid_from) OVER w IS NULL AS INT) AS is_current
  FROM v WINDOW w AS (PARTITION BY id ORDER BY valid_from)
)
SELECT id, order_status, valid_from, is_current
FROM h
WHERE valid_from <= '{SCD2_AS_OF}'
  AND (valid_to IS NULL OR valid_to > '{SCD2_AS_OF}')
"""


# ---------------------------------------------------------------- J6 five-way join
def q_dwd_order_detail(spark, sf_dir):
    """J6 end-to-end over the envelope: order_detail ⋈ compacted order_info
    changelog (S8 latest-image), left ⋈ activity, left ⋈ coupon, broadcast
    lookup ⋈ base_dic — DwdTradeOrderPreProcess.java:120-173 +
    DwdTradeOrderDetail.java, the reference's widest join."""
    from ..apps import dwd_trade_order_detail

    env = trade_envelope(spark, sf_dir)
    out = dwd_trade_order_detail(env, base_dic(spark, sf_dir))
    return out.select(
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
        "date_id",
    )


ORACLE_ORDER_DETAIL = """
WITH dic AS (SELECT n_nationkey::VARCHAR AS code, n_name FROM nation),
li AS (
  SELECT *, ((l_orderkey * 8 + l_linenumber) * 4194304 + l_partkey) * 16384
            + l_suppkey AS hid
  FROM lineitem
)
SELECT hid AS detail_id,
       l_orderkey AS order_id,
       l_partkey AS sku_id,
       CAST(floor(l_quantity) AS INT) AS sku_num,
       o_custkey AS user_id,
       CASE o_orderstatus WHEN 'F' THEN '1003' WHEN 'O' THEN '1002'
            ELSE '1001' END AS order_status,
       CAST(o_custkey % 36 + 1 AS INT) AS province_id,
       CASE WHEN l_partkey % 4 = 0 THEN CAST(l_partkey % 10 AS INT) END AS activity_id,
       CASE WHEN l_orderkey % 5 = 0 THEN CAST(l_orderkey % 500 AS INT) END AS coupon_id,
       n_name AS source_type_name,
       strftime(l_shipdate, '%Y-%m-%d') AS date_id
FROM li
JOIN orders ON l_orderkey = o_orderkey
LEFT JOIN dic ON (l_partkey % 25)::VARCHAR = code
"""


# ---------------------------------------------------------------- P3 family: coupon pay
def q_dwd_coupon_pay(spark, sf_dir):
    """dwd_tool_coupon_pay spec end-to-end: require_nonnull map filter
    (used_time appears ⇒ the coupon was spent) + date_id."""
    from ..apps import DWD_SPECS, run_dwd_app

    env = _coupon_use_envelope(spark, sf_dir)
    out = run_dwd_app(env, DWD_SPECS["dwd_tool_coupon_pay"])
    return out.select(
        F.col("id").cast("bigint").alias("use_id"),
        F.col("coupon_id").cast("int").alias("coupon_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("order_id").cast("bigint").alias("order_id"),
        "used_time",
        "date_id",
    )


ORACLE_COUPON_PAY = """
SELECT o_orderkey AS use_id,
       CAST(o_orderkey % 500 AS INT) AS coupon_id,
       o_custkey AS user_id, o_orderkey AS order_id,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS used_time,
       strftime(o_orderdate, '%Y-%m-%d') AS date_id
FROM orders WHERE o_orderkey % 3 = 0
"""


SPECS = (
    QuerySpec(
        "p5_old_map_literal", q_old_map_literal, ORACLE_OLD_MAP,
        doc="P5 literal old-map transition over a synthesized Maxwell envelope",
        tags=("P5", "S3"),
    ),
    QuerySpec(
        "p3_dwd_cancel_detail", q_dwd_cancel_detail, ORACLE_CANCEL,
        doc="dwd_trade_cancel_detail spec: route+transition+project+date_id",
        tags=("P3", "P5", "P2"),
    ),
    QuerySpec(
        "p3_dwd_cart_add", q_dwd_cart_add, ORACLE_CART,
        doc="dwd_trade_cart_add spec: conditional delta + base_dic lookup",
        tags=("P3", "P6", "J3"),
    ),
    QuerySpec(
        "p3_dwd_pay_detail", q_dwd_pay_detail, ORACLE_PAY,
        doc="dwd_trade_pay_detail_suc spec: require_data + dic + date_id",
        tags=("P3", "P4", "J3"),
    ),
    QuerySpec(
        "p3_dwd_coupon_pay", q_dwd_coupon_pay, ORACLE_COUPON_PAY,
        doc="dwd_tool_coupon_pay spec: require_nonnull + date_id",
        tags=("P3", "P4"),
    ),
    QuerySpec(
        "e_scd2_history", q_scd2_history, ORACLE_SCD2,
        doc="SCD2 validity intervals from the CDC changelog (lead window per key)",
        tags=("ext", "S11", "T9"),
    ),
    QuerySpec(
        "e_scd2_point_in_time", q_scd2_point_in_time, ORACLE_SCD2_PIT,
        doc="temporal point-in-time lookup: the version valid at a fixed instant",
        tags=("ext", "S11", "asof"),
    ),
    QuerySpec(
        "j6_dwd_order_detail", q_dwd_order_detail, ORACLE_ORDER_DETAIL,
        doc="J6: 5-way order-detail join over the CDC envelope with S8 compaction",
        tags=("J6", "J2", "J3", "S8"),
    ),
    QuerySpec(
        "p3_dwd_order_refund", q_dwd_order_refund, ORACLE_REFUND,
        doc="dwd_trade_order_refund spec: double base_dic lookup (J4 in-spec)",
        tags=("P3", "J4", "J3"),
    ),
    QuerySpec(
        "p3_dwd_comment", q_dwd_comment, ORACLE_COMMENT,
        doc="dwd_interaction_comment spec: appraise dic lookup",
        tags=("P3", "J3"),
    ),
    QuerySpec(
        "p3_dwd_user_register", q_dwd_user_register, ORACLE_USER_REGISTER,
        doc="dwd_user_register spec: rename projection + date_id",
        tags=("P3",),
    ),
    QuerySpec(
        "s4_dim_app_sync", q_dim_app_sync, ORACLE_DIM_APP,
        doc="DimApp E2E: config re-read, prune, MERGE upsert with later-ts updates",
        tags=("S4", "T10", "S11", "P11", "J8"),
    ),
    QuerySpec(
        "s4_dim_app_sync_incremental", q_dim_app_sync_incremental, ORACLE_DIM_APP_INCR,
        doc="S4 incremental (changes-since-last-batch) config semantics vs snapshot path",
        tags=("S4", "T10", "S11", "P11", "J8"),
    ),
)

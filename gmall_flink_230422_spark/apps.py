"""Reference app surface: every gmall pipeline app re-expressed as a
composition of this engine's operators.

The reference runs 26 independent JVM apps wired by Kafka topics (SURVEY §0).
Here each app is a function DataFrame → DataFrame (or a declarative spec
executed by ``run_dwd_app``), usable in batch (oracle-checkable) or wrapped
in Structured Streaming. The macro-dataflow (Kafka hops between apps)
becomes either chained queries over parquet "topics" (sinks.write_topic) or
one fused Catalyst plan — fusion is legal here because Spark sees the whole
lineage, and at scale it removes a full materialize+rescan per layer.

App inventory and reference citations are inline below; the DWD specs
mirror the projections of the 13 SQL DWD apps line-for-line (field lists
from R/app/dwd/*.java).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import read_parquet
from .operators import cdc as cdc_ops
from .operators.envelope import LOG_SCHEMA, parse_with_dirty_split, split_log_streams
from .operators.joins import lookup_join
from .operators.stateful import repair_is_new


# --------------------------------------------------------------------------- DWD specs
@dataclass(frozen=True)
class DwdSpec:
    """One SQL DWD app: route filter + type filter + old-value transitions +
    map projection + optional base_dic lookup joins."""

    name: str
    source_table: str
    types: tuple[str, ...]
    fields: dict[str, str]  # out_name -> data-map key
    transitions: dict[str, str] = field(default_factory=dict)  # field -> to_value
    require_data: dict[str, str] = field(default_factory=dict)  # data[k] == v filters
    require_nonnull: tuple[str, ...] = ()  # data[k] IS NOT NULL filters
    dic_joins: tuple[tuple[str, str], ...] = ()  # (fact_col, out_prefix)
    delta_field: str | None = None  # P6 conditional delta
    date_from: str | None = None  # derive date_id from this data field


# Field lists follow the reference projections (cited per spec).
DWD_SPECS: dict[str, DwdSpec] = {
    # R/app/dwd/DwdTradeCartAdd.java:25-76 — insert|update cart adds with
    # sku_num delta and base_dic lookup on source_type
    "dwd_trade_cart_add": DwdSpec(
        name="dwd_trade_cart_add",
        source_table="cart_info",
        types=("insert", "update"),
        fields={"id": "id", "user_id": "user_id", "sku_id": "sku_id",
                "source_type": "source_type"},
        delta_field="sku_num",
        dic_joins=(("source_type", "source_type_name"),),
    ),
    # R/app/dwd/DwdTradeOrderPreProcess.java:25-43 — order_detail inserts
    "dwd_trade_order_detail_raw": DwdSpec(
        name="dwd_trade_order_detail_raw",
        source_table="order_detail",
        types=("insert",),
        fields={"id": "id", "order_id": "order_id", "sku_id": "sku_id",
                "sku_name": "sku_name", "order_price": "order_price",
                "sku_num": "sku_num", "create_time": "create_time",
                "source_type": "source_type", "source_id": "source_id",
                "split_total_amount": "split_total_amount",
                "split_activity_amount": "split_activity_amount",
                "split_coupon_amount": "split_coupon_amount"},
        date_from="create_time",
    ),
    # R/app/dwd/DwdTradeOrderPreProcess.java:47-78 — order_info image
    "dwd_trade_order_info": DwdSpec(
        name="dwd_trade_order_info",
        source_table="order_info",
        types=("insert", "update"),
        fields={"id": "id", "user_id": "user_id", "province_id": "province_id",
                "operate_time": "operate_time", "order_status": "order_status"},
    ),
    # R/app/dwd/DwdTradeCancelDetail.java:89-92 — order_status → 1003
    "dwd_trade_cancel_detail": DwdSpec(
        name="dwd_trade_cancel_detail",
        source_table="order_info",
        types=("update",),
        fields={"id": "id", "user_id": "user_id", "province_id": "province_id",
                "operate_time": "operate_time"},
        transitions={"order_status": "1003"},
        date_from="operate_time",
    ),
    # R/app/dwd/DwdTradePayDetailSuc.java:24-46 — payment_status 1602
    "dwd_trade_pay_detail_suc": DwdSpec(
        name="dwd_trade_pay_detail_suc",
        source_table="payment_info",
        types=("update",),
        fields={"user_id": "user_id", "order_id": "order_id",
                "payment_type": "payment_type", "callback_time": "callback_time"},
        require_data={"payment_status": "1602"},
        dic_joins=(("payment_type", "payment_type_name"),),
        date_from="callback_time",
    ),
    # R/app/dwd/DwdTradeOrderRefund.java:54-104 — refund request: new
    # order_refund_info rows + order_info flip to 1005, dic joined twice
    "dwd_trade_order_refund": DwdSpec(
        name="dwd_trade_order_refund",
        source_table="order_refund_info",
        types=("insert",),
        fields={"id": "id", "user_id": "user_id", "order_id": "order_id",
                "sku_id": "sku_id", "refund_type": "refund_type",
                "refund_num": "refund_num", "refund_amount": "refund_amount",
                "refund_reason_type": "refund_reason_type",
                "create_time": "create_time"},
        dic_joins=(("refund_type", "refund_type_name"),
                   ("refund_reason_type", "refund_reason_type_name")),
        date_from="create_time",
    ),
    # R/app/dwd/DwdTradeRefundPaySuc.java:34-67 — refund_status 0702
    "dwd_trade_refund_pay_suc": DwdSpec(
        name="dwd_trade_refund_pay_suc",
        source_table="refund_payment",
        types=("update",),
        fields={"id": "id", "order_id": "order_id", "sku_id": "sku_id",
                "payment_type": "payment_type", "callback_time": "callback_time",
                "total_amount": "total_amount"},
        transitions={"refund_status": "0702"},
        dic_joins=(("payment_type", "payment_type_name"),),
        date_from="callback_time",
    ),
    # R/app/dwd/DwdToolCouponGet.java:38-53 — coupon_use inserts
    "dwd_tool_coupon_get": DwdSpec(
        name="dwd_tool_coupon_get",
        source_table="coupon_use",
        types=("insert",),
        fields={"id": "id", "coupon_id": "coupon_id", "user_id": "user_id",
                "get_time": "get_time"},
        date_from="get_time",
    ),
    # R/app/dwd/DwdToolCouponOrder.java:40-64 — coupon_status 1401→1402
    "dwd_tool_coupon_order": DwdSpec(
        name="dwd_tool_coupon_order",
        source_table="coupon_use",
        types=("update",),
        fields={"id": "id", "coupon_id": "coupon_id", "user_id": "user_id",
                "order_id": "order_id", "using_time": "using_time"},
        transitions={"coupon_status": "1402"},
        date_from="using_time",
    ),
    # R/app/dwd/DwdToolCouponPay.java:41-64 — used_time appears
    "dwd_tool_coupon_pay": DwdSpec(
        name="dwd_tool_coupon_pay",
        source_table="coupon_use",
        types=("update",),
        fields={"id": "id", "coupon_id": "coupon_id", "user_id": "user_id",
                "order_id": "order_id", "used_time": "used_time"},
        require_nonnull=("used_time",),
        date_from="used_time",
    ),
    # R/app/dwd/DwdInteractionFavorAdd.java:37-56 — favor_info inserts
    "dwd_interaction_favor_add": DwdSpec(
        name="dwd_interaction_favor_add",
        source_table="favor_info",
        types=("insert",),
        fields={"id": "id", "user_id": "user_id", "sku_id": "sku_id",
                "create_time": "create_time"},
        date_from="create_time",
    ),
    # R/app/dwd/DwdInteractionComment.java:44-87 — comments + appraise dic
    "dwd_interaction_comment": DwdSpec(
        name="dwd_interaction_comment",
        source_table="comment_info",
        types=("insert",),
        fields={"id": "id", "user_id": "user_id", "sku_id": "sku_id",
                "order_id": "order_id", "create_time": "create_time",
                "appraise": "appraise"},
        dic_joins=(("appraise", "appraise_name"),),
        date_from="create_time",
    ),
    # R/app/dwd/DwdUserRegister.java:35-74 — user_info inserts
    "dwd_user_register": DwdSpec(
        name="dwd_user_register",
        source_table="user_info",
        types=("insert",),
        fields={"user_id": "id", "create_time": "create_time"},
        date_from="create_time",
    ),
}


def run_dwd_app(cdc_df: DataFrame, spec: DwdSpec, dic_df: DataFrame | None = None) -> DataFrame:
    """Execute a DWD spec over a parsed CDC envelope stream/batch.

    Mirrors the SQL-app shape: route filter (P2/P4) → old-value transition
    predicates (P5) → conditional delta (P6) → map projection (P3) →
    base_dic lookup joins (J3/J4). ``dic_df`` needs columns
    (dic_code, dic_name); per-alias joins broadcast it.
    """
    df = cdc_ops.cdc_table(cdc_df, spec.source_table, spec.types)
    for fld, to_value in spec.transitions.items():
        df = cdc_ops.transition_filter(df, fld, to_value)
    for fld, val in spec.require_data.items():
        df = df.filter(F.col("data").getItem(fld) == val)
    for fld in spec.require_nonnull:
        df = df.filter(F.col("data").getItem(fld).isNotNull())
    if spec.delta_field:
        df = cdc_ops.delta_column(df, spec.delta_field, spec.delta_field)
        keep = [spec.delta_field]
    else:
        keep = []
    out = cdc_ops.map_project(df, spec.fields, keep=keep)
    if spec.date_from:
        out = out.withColumn("date_id", F.substring(F.col(spec.date_from), 1, 10))
    for fact_col, out_name in spec.dic_joins:
        dic = dic_df.select(
            F.col("dic_code").alias(f"_{out_name}_code"),
            F.col("dic_name").alias(out_name),
        )
        out = lookup_join(
            out, dic, out[fact_col] == dic[f"_{out_name}_code"], how="left"
        ).drop(f"_{out_name}_code")
    return out


def dwd_trade_order_detail(cdc_df: DataFrame, dic_df: DataFrame) -> DataFrame:
    """DwdTradeOrderPreProcess.java:120-173 + DwdTradeOrderDetail.java: the
    5-way join — order_detail ⋈ order_info, left joins to activity/coupon,
    lookup join to base_dic on source_type (J1/J2/J3).

    In streaming the caller adds watermarks per J7; in batch Catalyst picks
    the physical join order and AQE handles skew.
    """
    from .operators.stateful import latest_by_key

    od = run_dwd_app(cdc_df, DWD_SPECS["dwd_trade_order_detail_raw"])
    # order_info arrives as a changelog (insert + N updates per order); the
    # reference reads it through an upsert-kafka topic which compacts to the
    # latest image per key (S8, MyKafkaUtil.java:91-100) — latest_by_key is
    # that compaction
    oi = latest_by_key(
        run_dwd_app(cdc_df, DWD_SPECS["dwd_trade_order_info"]).filter(
            F.col("order_status").isNotNull()
        ),
        ["id"],
        [F.coalesce(F.col("operate_time"), F.lit(""))],
    )
    oa = cdc_ops.map_project(
        cdc_ops.cdc_table(cdc_df, "order_detail_activity", ("insert",)),
        {"activity_order_detail_id": "order_detail_id",
         "activity_id": "activity_id", "activity_rule_id": "activity_rule_id"},
    )
    oc = cdc_ops.map_project(
        cdc_ops.cdc_table(cdc_df, "order_detail_coupon", ("insert",)),
        {"coupon_order_detail_id": "order_detail_id", "coupon_id": "coupon_id"},
    )
    dic = dic_df.select(
        F.col("dic_code").alias("_src_code"),
        F.col("dic_name").alias("source_type_name"),
    )
    return (
        od.join(oi.withColumnRenamed("id", "order_info_id"),
                od["order_id"] == F.col("order_info_id"), "inner")
        .join(oa, od["id"] == oa["activity_order_detail_id"], "left")
        .join(oc, od["id"] == oc["coupon_order_detail_id"], "left")
        .join(F.broadcast(dic), od["source_type"] == dic["_src_code"], "left")
        .drop("activity_order_detail_id", "coupon_order_detail_id", "_src_code")
    )


def dwd_trade_cancel_detail(cdc_df: DataFrame, dic_df: DataFrame) -> DataFrame:
    """DwdTradeCancelDetail.java: the order-detail join restricted to orders
    that flipped into 1003 (cancel)."""
    detail = dwd_trade_order_detail(cdc_df, dic_df)
    cancelled = run_dwd_app(cdc_df, DWD_SPECS["dwd_trade_cancel_detail"]).select(
        F.col("id").alias("cancel_order_id"), F.col("operate_time").alias("cancel_time")
    )
    return detail.join(
        cancelled, detail["order_id"] == F.col("cancel_order_id"), "inner"
    ).drop("cancel_order_id")


# --------------------------------------------------------------------------- DIM app
def dim_app(
    spark: SparkSession,
    cdc_df: DataFrame,
    config_df: DataFrame,
    base_path: str,
) -> dict[str, DataFrame]:
    """DimApp (R/app/dim/DimApp.java) — config-driven dimension sync.

    Semantics (TableProcessFunction.java:169-324): for each config row
    (source_table → sink_table, sink_columns, sink_pk), route matching CDC
    records, prune the data map to the configured columns, upsert by pk into
    the sink table. Broadcast-state ≙ broadcast join against the (latest)
    config snapshot (S4: re-read per micro-batch).

    Returns {sink_table: DataFrame}; writes each via sinks.upsert_parquet.
    """
    from .operators.stateful import latest_by_key

    # latest config row per source_table = the reference's broadcast map state
    config_rows = latest_by_key(
        config_df, ["source_table"], [F.col("config_seq")]
    ).collect()
    config_state = {r["source_table"]: r.asDict() for r in config_rows}
    return _dim_sync_batch(spark, cdc_df, config_state, base_path)


def _keep_dim_cdc(cdc_df: DataFrame) -> DataFrame:
    """The DimApp record filter + deterministic same-second tiebreak."""
    return cdc_df.filter(
        F.col("type").isin("insert", "update", "bootstrap-insert")  # DimApp.java:153
    ).withColumn(
        # same-second tiebreak (Maxwell ts has 1 s resolution): a STABLE
        # content hash, not monotonically_increasing_id — the latter changes
        # across retries/repartitioning, so which row wins a same-ts conflict
        # would differ between runs. Content-hash order is arbitrary but
        # deterministic, which is what the oracle story needs.
        "_arr", F.xxhash64(F.to_json(F.col("data")), F.col("type"))
    )


def _dim_sync_batch(
    spark: SparkSession,
    cdc_df: DataFrame,
    config_state: dict[str, dict],
    base_path: str,
) -> dict[str, DataFrame]:
    """Route + prune + MERGE one CDC batch under a given broadcast-state
    snapshot (the shared body of `dim_app` and `dim_app_incremental`)."""
    from . import sinks

    kept = _keep_dim_cdc(cdc_df)
    out: dict[str, DataFrame] = {}
    for row in config_state.values():
        cols = [c.strip() for c in row["sink_columns"].split(",")]
        pk = row["sink_pk"] or "id"
        routed = kept.filter(F.col("table") == row["source_table"])
        projected = routed.select(
            *[F.col("data").getItem(c).alias(c) for c in cols],  # P11 prune
            F.col("ts").cast("bigint").alias("_seq"),
            F.col("_arr"),
        )
        sinks.upsert_parquet(
            spark, projected, f"{base_path}/{row['sink_table']}", [pk], ["_seq", "_arr"]
        )
        out[row["sink_table"]] = read_parquet(spark, f"{base_path}/{row['sink_table']}")
    return out


def dim_app_incremental(
    spark: SparkSession,
    batches: list[tuple[DataFrame, int]],
    config_changelog: DataFrame,
    base_path: str,
) -> dict[str, DataFrame]:
    """DimApp with INCREMENTAL config semantics — the Flink-CDC binlog model
    (DimApp.java:163-175, StartupOptions.initial: snapshot once, then only
    the changes) rather than `dim_app`'s snapshot-re-read-per-batch.

    ``config_changelog`` rows: (source_table, sink_table, sink_columns,
    sink_pk, config_seq, op) with op 'u' (upsert) / 'd' (delete). ``batches``
    pairs each CDC micro-batch with the config watermark visible to it.
    Per batch only the changelog rows with ``last_wm < config_seq <= wm``
    are read (the changes-since-last-batch / Delta-CDF read shape) and
    applied to the in-driver broadcast map state — upserts replace the
    routing entry for their source_table, deletes remove it, mirroring
    TableProcessFunction's BroadcastProcessFunction state mutations.

    The semantic difference vs `dim_app` is visible whenever the config
    changes mid-stream: earlier batches are routed under EARLIER config
    generations (exactly what the reference topology does), whereas
    snapshot mode applies the latest generation to everything. The
    config-state dict is bounded by the config table size (the reference's
    broadcast map state, TableProcessFunction.java:169-205), so the
    per-batch driver read is bounded-by-construction.

    Returns {sink_table: DataFrame} of the final MERGE state.
    """
    config_state: dict[str, dict] = {}
    out: dict[str, DataFrame] = {}
    last_wm = -(1 << 62)
    for cdc_df, wm in batches:
        delta = (
            config_changelog.filter(
                (F.col("config_seq") > last_wm) & (F.col("config_seq") <= wm)
            )
            .orderBy("config_seq")
            .collect()
        )
        for r in delta:
            if r["op"] == "d":
                config_state.pop(r["source_table"], None)
            else:
                config_state[r["source_table"]] = r.asDict()
        last_wm = wm
        out.update(_dim_sync_batch(spark, cdc_df, config_state, base_path))
    return out


# --------------------------------------------------------------------------- traffic apps
def base_log_app(raw_df: DataFrame, batch: bool = True) -> dict[str, DataFrame]:
    """BaseLogApp (R/app/dwd/BaseLogApp.java): parse + dirty side-output +
    is_new repair (T2) + five-way split (T6) + display/action explosion (T7).

    ``batch=True`` uses the window-function repair (oracle form); streaming
    callers use streaming.stateful.repair_is_new_stream on the same parsed
    stream.
    """
    clean, dirty = parse_with_dirty_split(raw_df, "value", LOG_SCHEMA)
    clean = clean.withColumn("event_ts", F.timestamp_millis(F.col("ts")))
    if batch:
        repaired = repair_is_new(clean, "common.mid", "event_ts")
        # rebuild the envelope with the repaired flag (BaseLogApp.java:79-88)
        repaired = repaired.withColumn(
            "common",
            F.col("common").withField("is_new", F.col("is_new").cast("string")),
        ).drop("is_new")
    else:
        repaired = clean
    streams = split_log_streams(repaired)
    streams["dirty"] = dirty
    return streams


def dws_keyword_window(page_df: DataFrame, spark: SparkSession | None = None) -> DataFrame:
    """DwsTrafficSourceKeywordPageViewWindow (R/app/dws/...java:114-161):
    search-entry filter (P9) → tokenizer UDTF explode (U1/U2) → 10 s tumble
    count per keyword (A1), emitted in KeywordBean column order (stt, edt,
    keyword, keyword_count, ts-excluded per §2.8.3)."""
    from .functions.tokenize import split_words
    from .operators.windows import tumble

    searched = page_df.filter(
        (F.col("page.last_page_id") == "search")
        & (F.col("page.item_type") == "keyword")
        & F.col("page.item").isNotNull()
    )
    words = searched.select(
        "event_ts", F.explode(split_words(F.col("page.item"))).alias("keyword")
    )
    return tumble(
        words, "event_ts", "10 seconds", ["keyword"],
        [F.count(F.lit(1)).alias("keyword_count")],
        watermark="2 seconds",
    )


def dws_traffic_page_view_window(streams: dict[str, DataFrame]) -> DataFrame:
    """DwsTrafficVcChArIsNewPageViewWindow (R/app/dws/...java:43-144): union
    of 1-hot pre-agg branches keyed by (vc, ch, ar, is_new), 10 s tumble,
    5 metric sums (implementing the *intended* stt/edt per SURVEY §2.8.2)."""
    from .operators.windows import one_hot_branches, tumble

    page = streams["page"]
    # uv: first page view per mid per day; sv: session starts (no last_page)
    uv = page.filter(F.col("page.last_page_id").isNull())  # session entries
    branches = [
        (page, {"pv_ct": F.lit(1), "dur_sum": F.col("page.during_time")}),
        (uv, {"sv_ct": F.lit(1)}),
    ]
    common = ["event_ts", "common.vc", "common.ch", "common.ar", "common.is_new"]
    unioned = one_hot_branches(branches, common)
    return tumble(
        unioned, "event_ts", "10 seconds", ["vc", "ch", "ar", "is_new"],
        [F.sum("pv_ct").alias("pv_ct"), F.sum("sv_ct").alias("sv_ct"),
         F.sum("dur_sum").alias("dur_sum")],
        watermark="14 seconds",
    )

"""Windowed aggregation operators (SURVEY §2.4).

Reference: 10 s tumbling event-time windows everywhere — keyed SQL TUMBLE
(DwsTrafficSourceKeywordPageViewWindow.java:145-154), keyed DataStream
reduce+window (DwsTrafficVcChArIsNewPageViewWindow.java:97-144), and a
global windowAll (DwsTrafficPageViewWindow.java:117-137). The reference's
incremental-reduce + window-function pattern is exactly Spark's partial/final
hash aggregate, so ``groupBy(window(...))`` is the whole story; stt/edt come
from the window struct (we emit them as epoch seconds for oracle
determinism — the reference's wall-clock ``ts`` field is nondeterministic,
SURVEY §2.8.3, and excluded).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tumble(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str],
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    """A1-A3: tumbling event-time window aggregate.

    keys=[] gives the global windowAll analog. In streaming mode pass
    ``watermark`` (e.g. "2 seconds") for the reference's bounded
    out-of-orderness contract; late rows beyond it are dropped, same as
    Flink's default late-data handling.
    """
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), duration)
    out = df.groupBy(win.alias("w"), *[F.col(k) for k in keys]).agg(*aggs)
    agg_cols = [c for c in out.columns if c not in ("w", *keys)]
    return out.select(
        F.col("w.start").cast("long").alias("stt"),
        F.col("w.end").cast("long").alias("edt"),
        *keys,
        *agg_cols,
    )


def slide(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide_duration: str,
    keys: list[str],
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) event-time window aggregate — extension; the
    reference has no sliding windows (SURVEY §2.4). Each event lands in
    duration/slide windows; Spark expands via the window generator before
    the hash aggregate, so the shuffle carries duration/slide× the rows —
    keep the ratio small at scale or pre-aggregate per slide then roll up.
    """
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), duration, slide_duration)
    out = df.groupBy(win.alias("w"), *[F.col(k) for k in keys]).agg(*aggs)
    agg_cols = [c for c in out.columns if c not in ("w", *keys)]
    return out.select(
        F.col("w.start").cast("long").alias("stt"),
        F.col("w.end").cast("long").alias("edt"),
        *keys,
        *agg_cols,
    )


def cumulate(
    df: DataFrame,
    ts_col: str,
    step: str,
    max_span: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """CUMULATE window (Flink 1.13 SQL's growing-window TVF — the reference's
    engine version supports it though the apps only use TUMBLE; Spark has no
    native equivalent). Each span-aligned window emits partial results at
    every step: an event at offset o within its span belongs to the windows
    [span_start, span_start + k·step) for all k with k·step > o.

    Built as explode(sequence) over the step index then one hash aggregate —
    the row expansion is span/step× pre-shuffle, same trade as sliding
    windows; at scale prefer aggregating per step then rolling up.

    Batch-only in this form (the epoch-derived group keys aren't a
    watermark-eligible ``window()`` struct). Streaming form:
    :func:`cumulate_streaming` (watermarked per-step tumble) +
    :func:`cumulate_rollup` (read-side expansion) — same output rows,
    streaming-safe state; parity proven in
    tests/test_streaming.py::test_cumulate_window_stream.
    """
    step_s = _to_seconds(step)
    span_s = _to_seconds(max_span)
    n = span_s // step_s
    assert n * step_s == span_s, "max_span must be a multiple of step"
    epoch = F.col(ts_col).cast("long")
    base = (F.floor(epoch / span_s) * span_s).cast("long")
    expanded = df.select(
        "*",
        base.alias("_stt"),
        F.explode(F.sequence(F.lit(1), F.lit(n))).alias("_k"),
    ).filter(epoch < F.col("_stt") + F.col("_k") * step_s)
    out = expanded.groupBy(
        "_stt", (F.col("_stt") + F.col("_k") * step_s).alias("_edt"), *keys
    ).agg(*aggs)
    agg_cols = [c for c in out.columns if c not in ("_stt", "_edt", *keys)]
    return out.select(
        F.col("_stt").alias("stt"), F.col("_edt").alias("edt"), *keys, *agg_cols
    )


def cumulate_streaming(
    df: DataFrame,
    ts_col: str,
    step: str,
    max_span: str,
    keys: list[str],
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Streaming-safe CUMULATE, phase 1: per-``step`` tumbling partials.

    The batch :func:`cumulate`'s epoch-derived group keys aren't
    watermark-eligible, so the streaming form splits the window: aggregate
    each ``step`` as a normal watermarked tumble (incremental state, closed
    by the watermark like any A1 window), then roll the closed partials up
    into the growing windows with :func:`cumulate_rollup` on the read side /
    in the sink's foreachBatch. State size is per-step, not per-span — the
    same trade Flink's CUMULATE makes internally with slice sharing.
    """
    span_s, step_s = _to_seconds(max_span), _to_seconds(step)
    assert (span_s // step_s) * step_s == span_s, "max_span must be a multiple of step"
    return tumble(df, ts_col, step, keys, aggs, watermark=watermark)


def cumulate_rollup(
    partials: DataFrame,
    step: str,
    max_span: str,
    keys: list[str],
    roll_aggs: list[Column],
) -> DataFrame:
    """Streaming CUMULATE, phase 2: roll per-step partials (from
    :func:`cumulate_streaming`, columns stt/edt/keys/metrics) up into the
    growing windows. ``roll_aggs`` re-aggregate the partial metric columns
    (sum for count/sum partials, max for max, …).

    A partial at step index j of its span feeds every window
    [span, span + k·step) with k > j: explode(sequence) then one hash
    aggregate — identical output rows to batch :func:`cumulate` once all
    steps of a span are closed.
    """
    step_s = _to_seconds(step)
    span_s = _to_seconds(max_span)
    n = span_s // step_s
    assert n * step_s == span_s, "max_span must be a multiple of step"
    span = (F.floor(F.col("stt") / span_s) * span_s).cast("long")
    expanded = (
        partials.withColumn("_span", span)
        .withColumn("_j", F.expr(f"(stt - _span) div {step_s}").cast("int"))
        .select(
            "*",
            F.explode(
                F.sequence((F.col("_j") + F.lit(1)).cast("int"), F.lit(int(n)))
            ).alias("_k"),
        )
    )
    out = expanded.groupBy(
        F.col("_span").alias("stt"),
        (F.col("_span") + F.col("_k").cast("long") * step_s).alias("edt"),
        *keys,
    ).agg(*roll_aggs)
    return out


def _to_seconds(spec: str) -> int:
    qty, unit = spec.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}[unit]
    return int(qty) * mult


def one_hot_branches(
    branches: list[tuple[DataFrame, dict[str, Column]]], common: list[str]
) -> DataFrame:
    """A4+T8: per-branch 1-hot metric encoding then union
    (DwsTrafficVcChArIsNewPageViewWindow.java:43-86). Each branch supplies
    its metric columns; missing metrics are zero-filled so the union is
    column-aligned (``unionByName``)."""
    all_metrics: list[str] = []
    for _, metrics in branches:
        for name in metrics:
            if name not in all_metrics:
                all_metrics.append(name)
    parts = []
    for df, metrics in branches:
        cols = [F.col(c) for c in common]
        cols += [
            (metrics[m] if m in metrics else F.lit(0)).cast("long").alias(m)
            for m in all_metrics
        ]
        parts.append(df.select(*cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def distributed_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str | list[str],
    out_col: str | list[str] = "cum",
    num_partitions: int = 32,
) -> DataFrame:
    """Distributed prefix (cumulative) sum over a global ordering — the
    scale-safe replacement for ``Window.orderBy(...)`` running sums, which
    compile to an Exchange SinglePartition + global Sort (the plan audit's
    single-partition violation class).

    Three declarative stages, no driver collect:
      1. range-partition by the order key (``repartitionByRange`` — the
         RangePartitioner assigns contiguous key ranges to ascending
         partition ids, so partition id IS the coarse position);
      2. per-partition totals (``num_partitions`` rows, bounded by CONFIG
         not data) self-joined with a ``pid2 < pid`` broadcast non-equi
         join to produce each partition's prefix offset;
      3. a KEYED window (partitionBy the partition id) for the
         within-partition running sum, plus the broadcast offset.

    The input is cached: it is consumed by both the totals aggregate and
    the final window, and this helper is meant for SMALL derived frames
    (value histograms, vocabularies, day grids — the playbook's "cache
    derived small frames, never the corpus" rule). Rows with equal order
    keys land in one partition (RangePartitioner invariant), so ties are
    ordered exactly as the keyed window orders them.
    """
    from pyspark.sql import Window

    # Accept parallel value/out column lists: one range shuffle serves N
    # prefix sums (the two-CDF KS comparison needs both sides aligned on
    # one value grid — two helper calls would range-partition twice).
    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    assert len(vcols) == len(ocols)

    ranged = (
        df.repartitionByRange(num_partitions, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .cache()
    )
    ptot = ranged.groupBy("_pid").agg(
        *[F.sum(v).alias(f"_ptot{i}") for i, v in enumerate(vcols)]
    )
    p2 = ptot.select(
        F.col("_pid").alias("_pid2"),
        *[F.col(f"_ptot{i}").alias(f"_ptot2{i}") for i in range(len(vcols))],
    )
    offs = (
        ptot.join(F.broadcast(p2), F.col("_pid2") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(
            *[
                F.coalesce(F.sum(f"_ptot2{i}"), F.lit(0)).alias(f"_off{i}")
                for i in range(len(vcols))
            ]
        )
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranged.join(F.broadcast(offs), "_pid")
    for i, (v, o) in enumerate(zip(vcols, ocols)):
        out = out.withColumn(o, F.sum(v).over(w) + F.col(f"_off{i}"))
    return out.drop("_pid", *[f"_off{i}" for i in range(len(vcols))])

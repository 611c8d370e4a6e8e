"""Round-9 extension queries: corpus composition profiling (char-class
mix, token-length/fertility proxy), contamination run-length forensics,
rater-agreement kappa, t-closeness release gating, robust trimmed means,
CUSUM change-point detection, daily autocorrelation, and the global
clustering coefficient.

Contract as everywhere in this repo: each query is a Spark plan built
from the shared operator library with an inline DuckDB oracle computing
the identical result on identical integer/floor grids. Cross-engine
float discipline (README §Correctness): derived per-row/per-cell values
are floored onto an integer grid BEFORE any aggregation so sums stay
order-independent; scalar DOUBLE math happens only on already-aggregated
exact integers with identical operation order in both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ..operators import dedup
from . import QuerySpec
from .llm import _docs_par

SPECS: list[QuerySpec] = []

_TOKS = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')"


# ------------------------------------------------------------- char-class mix
def q_char_class_mix(spark, sf_dir):
    """Per-source character-class composition: alpha / digit / space /
    other milli fractions of the raw text plus the doc count — the
    cheapest "is this feed text or markup/tables?" screen, read before
    the tokenizer-level profiles (x_token_len_profile) and the quality
    classifier. A feed whose digit+other mass spikes is logs or tables,
    not prose.

    Scale shape: per-doc class counts are pure string expressions
    (length of a regexp_replace projection — no explode, no Python),
    summed in ONE map-side-combinable hash agg per source; ratios are
    integer div on the aggregated exact counts. ASCII classes only, so
    Java and RE2 regex semantics agree byte-for-byte."""
    d = load_table(spark, sf_dir, "documents")
    n_all = F.length("text").cast("bigint")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", "")).cast("bigint")
    n_digit = F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).cast("bigint")
    n_space = F.length(F.regexp_replace(F.col("text"), "[^ ]", "")).cast("bigint")
    agg = (
        d.select(
            "source",
            n_all.alias("_n"),
            n_alpha.alias("_a"),
            n_digit.alias("_d"),
            n_space.alias("_s"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_n").cast("bigint").alias("n_chars"),
            F.sum("_a").cast("bigint").alias("_ca"),
            F.sum("_d").cast("bigint").alias("_cd"),
            F.sum("_s").cast("bigint").alias("_cs"),
        )
    )
    return (
        agg.select(
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


ORACLE_CHAR_CLASS_MIX = """
WITH per AS (
  SELECT source,
         length(text)::BIGINT AS n,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT AS a,
         length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS d,
         length(regexp_replace(text, '[^ ]', '', 'g'))::BIGINT AS s
  FROM documents
),
agg AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_chars,
         sum(a)::BIGINT AS ca, sum(d)::BIGINT AS cd, sum(s)::BIGINT AS cs
  FROM per GROUP BY source
)
SELECT source, n_docs, n_chars,
       (ca * 1000 // n_chars)::BIGINT AS alpha_milli,
       (cd * 1000 // n_chars)::BIGINT AS digit_milli,
       (cs * 1000 // n_chars)::BIGINT AS space_milli,
       ((n_chars - ca - cd - cs) * 1000 // n_chars)::BIGINT AS other_milli
FROM agg ORDER BY source
"""


# ------------------------------------------------------------- token-length profile
def q_token_len_profile(spark, sf_dir):
    """Per-source tokenizer fertility proxy: token count, total token
    bytes, bytes-per-token (milli) and the longest token — the
    pre-tokenization screen for feeds that will explode a BPE vocabulary
    (URLs, hex dumps, agglutinative noise all push bytes/token up).

    Scale shape: per-doc token stats are pure ARRAY expressions over the
    normalized token array (size / aggregate(transform(len)) / array_max
    — no explode), then one map-side-combinable hash agg per source."""
    d = _docs_par(spark, sf_dir)
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    per = d.select(
        "source",
        F.size(toks).cast("bigint").alias("_nt"),
        F.expr(
            "aggregate(transform(filter(split(lower(trim(text)), '\\\\s+'), t -> t != ''), "
            "t -> length(t)), 0L, (acc, x) -> acc + x)"
        ).alias("_bytes"),
        F.expr(
            "coalesce(array_max(transform(filter(split(lower(trim(text)), '\\\\s+'), "
            "t -> t != ''), t -> length(t))), 0)"
        ).cast("bigint").alias("_maxlen"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("_nt").cast("bigint").alias("n_tokens"),
            F.sum("_bytes").cast("bigint").alias("n_token_bytes"),
            F.max("_maxlen").cast("bigint").alias("max_token_len"),
        )
        .select(
            "source",
            "n_tokens",
            "n_token_bytes",
            F.expr("n_token_bytes * 1000 div n_tokens").cast("bigint").alias("bytes_per_token_milli"),
            "max_token_len",
        )
        .orderBy("source")
    )


ORACLE_TOKEN_LEN_PROFILE = f"""
WITH per AS (
  SELECT source,
         len({_TOKS})::BIGINT AS nt,
         list_sum(list_transform({_TOKS}, t -> length(t)))::BIGINT AS bytes,
         coalesce(list_max(list_transform({_TOKS}, t -> length(t))), 0)::BIGINT AS maxlen
  FROM documents
)
SELECT source, sum(nt)::BIGINT AS n_tokens, sum(bytes)::BIGINT AS n_token_bytes,
       (sum(bytes) * 1000 // sum(nt))::BIGINT AS bytes_per_token_milli,
       max(maxlen)::BIGINT AS max_token_len
FROM per GROUP BY source ORDER BY source
"""


# ------------------------------------------------------------- contamination runs
def q_contam_runs(spark, sf_dir):
    """Contamination RUN-LENGTH forensics on top of x_contam_13gram's hit
    rate: for each contaminated eval doc, the LONGEST CONSECUTIVE run of
    contaminated 13-gram positions — the number that separates one
    coincidental overlap (run 1-2) from a verbatim copied passage (run ≈
    passage length), which is what actually decides scrub-vs-keep.

    Scale shape: positional grams are a pure array expression (sliding
    concat over the token array + posexplode — positions are needed, so
    this is the positional sibling of dedup.shingles); the train side
    reduces to DISTINCT grams before the probe join; runs come from the
    classic islands trick (pos − row_number over hit positions) in a
    KEYED window per doc — eval docs are tiny by construction (doc_id %
    17), so the window groups are bounded."""
    from pyspark.sql import Window

    d = _docs_par(spark, sf_dir)
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    grams = (
        d.select(F.col("doc_id"), toks.alias("_toks"))
        .filter(F.size("_toks") >= 13)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(_toks) - 12), i -> "
                    "concat_ws(' ', slice(_toks, i, 13)))"
                )
            ).alias("pos", "gram"),
        )
    )
    train = (
        grams.filter(F.col("doc_id") % 17 != 0).select("gram").distinct()
    )
    ev = grams.filter(F.col("doc_id") % 17 == 0)
    hits = ev.join(train, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            F.sum("run").cast("bigint").alias("n_hits"),
            F.max("run").cast("bigint").alias("max_run"),
        )
        .orderBy("doc_id")
    )


_GRAM13_POS = " || ' ' || ".join(f"toks[i+{j}]" for j in range(13))

ORACLE_CONTAM_RUNS = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, i AS pos, {_GRAM13_POS} AS gram
  FROM t, unnest(range(1, len(toks) - 11)) AS u(i)
  WHERE len(toks) >= 13
),
train AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 != 0),
hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN train USING (gram) WHERE g.doc_id % 17 = 0
),
runs0 AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
),
runs AS (SELECT doc_id, grp, count(*)::BIGINT AS run FROM runs0 GROUP BY 1, 2)
SELECT doc_id, sum(run)::BIGINT AS n_hits, max(run)::BIGINT AS max_run
FROM runs GROUP BY doc_id ORDER BY doc_id
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


# ------------------------------------------------------------- t-closeness
def q_t_closeness(spark, sf_dir):
    """t-closeness release gate (the step past x_k_anonymity /
    x_l_diversity): per source (the quasi-identifier group), the
    VARIATIONAL DISTANCE between its document-length distribution and the
    corpus-wide distribution over a bounded bucket grid (n_chars div
    100). A group whose sensitive-attribute distribution sits far from
    the global one leaks information even when k-anonymous — groups with
    vd > t fail the gate.

    Exact integer arithmetic end-to-end, at micro-probability
    resolution: each side is quantized to p_micro = cnt·1e6 div margin
    (≤ 1 000 000) BEFORE differencing, so no intermediate ever exceeds
    cnt·1e6 — int64-safe to ~9.2e12 docs per source, vs the naive
    cross-product cnt·N − cnt_b·n_s which wraps int64 at ~3e9 docs
    total (the r9-advice overflow class). vd_milli =
    Σ_b |p_s_micro − p_g_micro| div 2000 (the 1/2 variational factor,
    micro→milli). Both engines compute the identical integer
    expression, so quantization cancels cross-engine. Scale shape: one
    (source, bucket) hash agg over the corpus scan, a broadcast join of
    the ≤|sources|×|buckets| grid against its two margins, one keyed
    sum."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.select("source", F.expr("n_chars div 100").cast("bigint").alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .cache()
    )
    gs = cells.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("n_s"))
    gb = cells.groupBy("bucket").agg(F.sum("cnt").cast("bigint").alias("cnt_b"))
    tot = cells.agg(F.sum("cnt").cast("bigint").alias("n_tot"))
    # the |sources|x|buckets| grid must be DENSE (a bucket absent from a
    # source contributes |0*N - cnt_b*n_s|), so build source x bucket and
    # left-join the observed cells
    grid = gs.crossJoin(F.broadcast(gb))
    full = (
        grid.join(cells, ["source", "bucket"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    return (
        full.groupBy("source", "n_s")
        .agg(
            F.sum(
                F.abs(
                    F.expr("cnt * 1000000 div n_s")
                    - F.expr("cnt_b * 1000000 div n_tot")
                )
            )
            .cast("bigint")
            .alias("_num")
        )
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            F.expr("_num div 2000").cast("bigint").alias("vd_milli"),
        )
        .orderBy("source")
    )


ORACLE_T_CLOSENESS = """
WITH cells AS (
  SELECT source, (n_chars // 100)::BIGINT AS bucket, count(*)::BIGINT AS cnt
  FROM documents GROUP BY 1, 2
),
gs AS (SELECT source, sum(cnt)::BIGINT AS n_s FROM cells GROUP BY source),
gb AS (SELECT bucket, sum(cnt)::BIGINT AS cnt_b FROM cells GROUP BY bucket),
t AS (SELECT sum(cnt)::BIGINT AS n_tot FROM cells),
grid AS (SELECT gs.source, gs.n_s, gb.bucket, gb.cnt_b FROM gs CROSS JOIN gb),
filled AS (
  SELECT g.source, g.n_s, g.bucket, g.cnt_b, coalesce(c.cnt, 0)::BIGINT AS cnt, t.n_tot
  FROM grid g LEFT JOIN cells c ON g.source = c.source AND g.bucket = c.bucket
  CROSS JOIN t
)
SELECT source, n_s AS n_docs,
       (sum(abs(cnt * 1000000 // n_s - cnt_b * 1000000 // n_tot)) // 2000)::BIGINT AS vd_milli
FROM filled GROUP BY source, n_s ORDER BY source
"""


SPECS += [
    QuerySpec("x_char_class_mix", q_char_class_mix, ORACLE_CHAR_CLASS_MIX,
              doc="per-source char-class composition (alpha/digit/space/other milli) — the text-vs-markup feed screen",
              tags=("llm", "text", "quality")),
    QuerySpec("x_token_len_profile", q_token_len_profile, ORACLE_TOKEN_LEN_PROFILE,
              doc="per-source bytes-per-token fertility proxy + longest token, pure array expressions",
              tags=("llm", "text", "tokenize")),
    QuerySpec("x_contam_runs", q_contam_runs, ORACLE_CONTAM_RUNS,
              doc="longest consecutive contaminated-13-gram run per eval doc (islands over hit positions)",
              tags=("llm", "decontamination")),
    QuerySpec("e_cohens_kappa", q_cohens_kappa, ORACLE_COHENS_KAPPA,
              doc="Cohen's kappa between the length and token-count quality screens (2x2 exact counts, scalar double kappa)",
              tags=("llm", "stats", "eval")),
    QuerySpec("x_t_closeness", q_t_closeness, ORACLE_T_CLOSENESS,
              doc="t-closeness: per-source variational distance from the corpus length distribution, exact integers",
              tags=("llm", "privacy")),
]


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
    from pyspark.sql import Window

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
    from pyspark.sql import Window

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


SPECS += [
    QuerySpec("e_trimmed_mean", q_trimmed_mean, ORACLE_TRIMMED_MEAN,
              doc="10% two-sided trimmed mean per event type via exact value-histogram trim counts",
              tags=("ext", "stats", "robust")),
    QuerySpec("e_changepoint_cusum", q_changepoint_cusum, ORACLE_CHANGEPOINT_CUSUM,
              doc="CUSUM change-point day per event type, cross-multiplied integer deviation",
              tags=("ext", "stats", "timeseries")),
    QuerySpec("e_autocorr_daily", q_autocorr_daily, ORACLE_AUTOCORR_DAILY,
              doc="lag-1 autocorrelation of daily revenue per event type, double-guarded Pearson",
              tags=("ext", "stats", "timeseries")),
]


# ------------------------------------------------------------- global clustering coefficient
def q_clustering_coeff(spark, sf_dir):
    """GLOBAL clustering coefficient (transitivity) of the mutual k-NN
    semantic graph: 3·triangles / wedges — the one-number clumpiness
    summary on top of x_triangle_count's per-node view, read next to
    x_graph_modularity when deciding whether the embedding space is
    clique-structured (dedup families) or stringy (topic chains).
    Computed EXACTLY from the per-node frame the shared
    graph.triangle_count operator already emits: Σ n_triangles = 3T
    (each triangle counted at its three corners) and wedges =
    Σ deg·(deg−1)/2 — both exact BIGINTs, one integer division to micro.

    Scale shape: the degree-ordered triangle pipeline is O(m^1.5)
    wedge-bounded (hub-safe); the rollup here is ONE scalar aggregate
    over the per-node frame."""
    from ..operators import graph as _graph
    from ..operators import similarity
    from .llm import _embs_par

    e = _embs_par(spark, sf_dir)
    g = similarity.knn_graph(e, k=3, dims=6)
    edges = g.filter((F.col("mutual") == 1) & (F.col("src") < F.col("dst"))).select(
        "src", "dst"
    )
    per = _graph.triangle_count(edges)
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.expr("sum(degree) div 2").cast("bigint").alias("n_edges"),
        F.expr("sum(n_triangles) div 3").cast("bigint").alias("n_triangles"),
        F.expr("sum(degree * (degree - 1) div 2)").cast("bigint").alias("n_wedges"),
        F.expr(
            "CASE WHEN sum(degree * (degree - 1) div 2) > 0 THEN "
            "sum(n_triangles) * 1000000 div sum(degree * (degree - 1) div 2) "
            "ELSE 0 END"
        ).cast("bigint").alias("gcc_micro"),
    )


def _oracle_clustering_coeff() -> str:
    from .llm import _KNN_CTES

    return f"""
WITH {_KNN_CTES},
mut AS (
  SELECT t.src, t.dst FROM top t JOIN top r ON t.src = r.dst AND t.dst = r.src
  WHERE t.src < t.dst
),
e AS (SELECT DISTINCT src AS a, dst AS b FROM mut),
deg AS (
  SELECT node, count(*)::BIGINT AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY 1
),
tri AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
tn AS (
  SELECT node, count(*)::BIGINT AS n FROM (
    SELECT u AS node FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri
  ) GROUP BY 1
),
per AS (
  SELECT d.node, d.degree, coalesce(tn.n, 0)::BIGINT AS n_tri
  FROM deg d LEFT JOIN tn ON d.node = tn.node
)
SELECT count(*)::BIGINT AS n_nodes,
       (sum(degree) // 2)::BIGINT AS n_edges,
       (sum(n_tri) // 3)::BIGINT AS n_triangles,
       sum(degree * (degree - 1) // 2)::BIGINT AS n_wedges,
       (CASE WHEN sum(degree * (degree - 1) // 2) > 0 THEN
          sum(n_tri) * 1000000 // sum(degree * (degree - 1) // 2)
        ELSE 0 END)::BIGINT AS gcc_micro
FROM per
"""


SPECS += [
    QuerySpec("x_clustering_coeff", q_clustering_coeff, _oracle_clustering_coeff(),
              doc="global clustering coefficient (3T/wedges) of the mutual kNN graph, exact integer rollup",
              tags=("llm", "similarity", "graph")),
]


# ------------------------------------------------------------- bloom FPR audit
_BLOOM_M = 2048  # bits; 32-bit words so masks never touch the sign bit
_BLOOM_K = 3


def q_bloom_fpr(spark, sf_dir):
    """Measured Bloom-filter false-positive rate — the audit that tells
    you what a given (m, k) bloom ACTUALLY costs in wasted post-prune work
    before you ship it as a 100 TB pre-shuffle guard (sketches.bloom_prune):
    build the bitset from the member split (doc_id % 3 == 0), probe every
    non-member, report fill ratio and measured FPR.

    Unlike the production bloom (xxhash64, result-invisible), this audit
    uses the PORTABLE md5 hash + the repo's universal affine family so the
    DuckDB oracle reproduces the bitset bit-for-bit. Fully distributed and
    collect-free: the bitset lives as a ≤64-row (word, bits) table built
    by one bit_or hash agg; probes explode to k (probe, word) rows and
    BROADCAST-join the word table — membership is all-k-bits-set via a
    keyed min. 32-bit words keep every mask in positive BIGINT range in
    both engines (1<<63 sign-wraps differently-checked engines)."""
    from ..functions.hashing import portable_hash64
    from ..operators.dedup import MINHASH_A_STEP, MINHASH_B_STEP, MINHASH_P

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.pmod(
            portable_hash64(F.concat(F.lit("bloom:"), F.col("doc_id").cast("string"))),
            F.lit(MINHASH_P),
        ).alias("hb"),
    )
    s_seq = F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("s")
    pos = F.expr(
        f"((1 + s * {MINHASH_A_STEP}) * hb + 7 + s * {MINHASH_B_STEP}) "
        f"% {MINHASH_P} % {_BLOOM_M}"
    )
    mem = d.filter(F.col("doc_id") % 3 == 0)
    cells = (
        mem.select("hb", s_seq)
        .withColumn("pos", pos)
        .select(
            F.expr("pos div 32").alias("word"),
            F.expr("shiftleft(1L, CAST(pos % 32 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    ).cache()
    fill = cells.agg(F.sum(F.bit_count("bits")).cast("bigint").alias("bits_set"))
    n_mem = mem.agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    probes = (
        d.filter(F.col("doc_id") % 3 != 0)
        .select("doc_id", "hb", s_seq)
        .withColumn("pos", pos)
        .select("doc_id", F.expr("pos div 32").alias("word"),
                F.expr("CAST(pos % 32 AS INT)").alias("bitpos"))
    )
    hit = (
        probes.join(F.broadcast(cells), "word", "left")
        .select(
            "doc_id",
            F.coalesce(
                (F.expr("bits & shiftleft(1L, bitpos)") != 0).cast("int"), F.lit(0)
            ).alias("h"),
        )
        .groupBy("doc_id")
        .agg(F.min("h").alias("all_hit"))
    )
    agg = hit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum("all_hit").cast("bigint").alias("n_fp"),
    )
    return (
        agg.crossJoin(F.broadcast(n_mem))
        .crossJoin(F.broadcast(fill))
        .select(
            "n_members",
            "n_probes",
            "n_fp",
            F.expr("n_fp * 1000000 div n_probes").cast("bigint").alias("fpr_micro"),
            "bits_set",
            F.expr(f"bits_set * 1000 div {_BLOOM_M}").cast("bigint").alias("fill_milli"),
        )
    )


def _oracle_bloom_fpr() -> str:
    from ..functions.hashing import portable_hash64_sql
    from ..operators.dedup import MINHASH_A_STEP, MINHASH_B_STEP, MINHASH_P

    h_in = "'bloom:' || doc_id::VARCHAR"
    hb = f"({portable_hash64_sql(h_in)} % {MINHASH_P})"
    pos = (
        f"((1 + s * {MINHASH_A_STEP}) * hb + 7 + s * {MINHASH_B_STEP}) "
        f"% {MINHASH_P} % {_BLOOM_M}"
    )
    return f"""
WITH d AS (SELECT doc_id, {hb} AS hb FROM documents),
ks AS (SELECT unnest(range({_BLOOM_K}))::BIGINT AS s),
mem AS (SELECT hb FROM d WHERE doc_id % 3 = 0),
cells AS (
  SELECT ({pos}) // 32 AS word, bit_or((1::BIGINT << (({pos}) % 32)::INT)) AS bits
  FROM mem CROSS JOIN ks GROUP BY 1
),
fill AS (SELECT sum(bit_count(bits))::BIGINT AS bits_set FROM cells),
nm AS (SELECT count(*)::BIGINT AS n_members FROM mem),
probes AS (
  SELECT doc_id, ({pos}) // 32 AS word, (({pos}) % 32)::INT AS bitpos
  FROM d CROSS JOIN ks WHERE doc_id % 3 != 0
),
hit AS (
  SELECT p.doc_id,
         min(CASE WHEN c.bits IS NOT NULL
                   AND (c.bits & (1::BIGINT << p.bitpos)) != 0
              THEN 1 ELSE 0 END) AS all_hit
  FROM probes p LEFT JOIN cells c USING (word)
  GROUP BY p.doc_id
),
agg AS (SELECT count(*)::BIGINT AS n_probes, sum(all_hit)::BIGINT AS n_fp FROM hit)
SELECT nm.n_members, agg.n_probes, agg.n_fp,
       (agg.n_fp * 1000000 // agg.n_probes)::BIGINT AS fpr_micro,
       fill.bits_set,
       (fill.bits_set * 1000 // {_BLOOM_M})::BIGINT AS fill_milli
FROM agg, nm, fill
"""


# ------------------------------------------------------------- shard skew audit
def q_shard_skew(spark, sf_dir):
    """Hash-shard balance audit: token mass per md5-hash shard (32 shards)
    and the max/mean skew ratio — the number that predicts straggler tasks
    when the corpus is hash-partitioned by doc_id at 100 TB. A skew_milli
    near 1000 means the hash spreads mass evenly; a hot shard shows up as
    the ratio, BEFORE a real job discovers it as a 10× task.

    One map-side-combinable hash agg over the corpus scan to 32 rows, one
    scalar rollup — exact integers throughout (mean via cross-multiply:
    max·n_shards vs total)."""
    from ..functions.hashing import portable_hash64

    d = _docs_par(spark, sf_dir)
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    per = (
        d.select(
            F.pmod(
                portable_hash64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
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
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_shard_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_shard_tokens"),
        F.expr("max(n_tokens) * count(1) * 1000 div sum(n_tokens)")
        .cast("bigint")
        .alias("skew_milli"),
    )


def _oracle_shard_skew() -> str:
    from ..functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("'shard:' || doc_id::VARCHAR")
    return f"""
WITH per AS (
  SELECT ({h} % 32) AS shard, count(*)::BIGINT AS n_docs,
         sum(len({_TOKS}))::BIGINT AS n_tokens
  FROM documents GROUP BY 1
)
SELECT count(*)::BIGINT AS n_shards, sum(n_tokens)::BIGINT AS tot_tokens,
       max(n_tokens)::BIGINT AS max_shard_tokens,
       min(n_tokens)::BIGINT AS min_shard_tokens,
       (max(n_tokens) * count(*) * 1000 // sum(n_tokens))::BIGINT AS skew_milli
FROM per
"""


SPECS += [
    QuerySpec("x_bloom_fpr", q_bloom_fpr, _oracle_bloom_fpr(),
              doc="measured Bloom false-positive rate + fill ratio over the portable-hash bitset, collect-free broadcast probe",
              tags=("llm", "sketch")),
    QuerySpec("x_shard_skew", q_shard_skew, _oracle_shard_skew(),
              doc="hash-shard token-mass balance audit (max/mean skew, exact integer cross-multiply)",
              tags=("llm", "scale")),
]


# ------------------------------------------------------------- frame byte flatness
def q_frame_byte_flatness(spark, sf_dir):
    """Multimodal payload health: per-source BYTE-VALUE distribution
    flatness — the variational distance between the observed byte
    histogram of the media payloads and the uniform 1/256 — plus distinct
    byte coverage. A stuck sensor / constant-frame feed collapses to a
    few byte values (vd→~1000); healthy compressed media sits near
    uniform (vd→0). The entropy-style screen with NO logs, so both
    engines agree bit-for-bit.

    Scale shape: byte fan-out is JVM-side (hex(payload) sliced by an
    exploded position sequence — one row per byte, linear and
    partition-local, the explode_frames contract), then ONE
    (source, byte) hash agg; the 256-value axis is DENSIFIED by a
    broadcast cross join so absent bytes contribute their full uniform
    mass; the final rollup is exact integers over the common denominator
    256·n_s. int64 bound (r9 advice): the 500/256 milli factor is
    reduced to 125/64, so the largest intermediate is _num·125 ≤
    64000·n_bytes_total — safe to ~1.4e14 payload bytes PER SOURCE
    (above the 100 TB total design point); beyond that, shard the rollup
    by source before the final division."""
    from ..operators import multimodal

    d = _docs_par(spark, sf_dir)
    media = multimodal.to_media_table(d).join(
        d.select("doc_id", "source"), "doc_id"
    )
    by = (
        media.filter(F.col("n_bytes") > 0)
        .select(
            "source",
            F.upper(F.hex(F.col("media"))).alias("_hx"),
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_bytes") - 1)).alias("_i"),
        )
        .select(
            "source",
            F.expr("substring(_hx, cast(_i * 2 + 1 as int), 2)").alias("byte"),
        )
        .groupBy("source", "byte")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ).cache()  # <=256 x |sources| rows, two consumers (totals + dense join):
    # uncached, the corpus-sized per-byte fan-out would compile and run twice
    totals = by.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_bytes_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_bytes"),
    )
    axis = spark.range(256).select(
        F.format_string("%02X", F.col("id").cast("int")).alias("byte")
    )
    dense = (
        totals.crossJoin(F.broadcast(axis))
        .join(by, ["source", "byte"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )
    return (
        dense.groupBy("source", "n_bytes_total", "n_distinct_bytes")
        .agg(
            F.sum(F.abs(F.col("cnt") * 256 - F.col("n_bytes_total")))
            .cast("bigint")
            .alias("_num")
        )
        .select(
            "source",
            "n_bytes_total",
            "n_distinct_bytes",
            F.expr("_num * 125 div (n_bytes_total * 64)").cast("bigint").alias("vd_milli"),
        )
        .orderBy("source")
    )


ORACLE_FRAME_BYTE_FLATNESS = """
WITH media AS (
  SELECT doc_id, source, encode(text) AS m, octet_length(encode(text))::BIGINT AS nb
  FROM documents
),
by AS (
  SELECT source, substring(upper(hex(m)), (i * 2 + 1)::INT, 2) AS byte,
         count(*)::BIGINT AS cnt
  FROM media, unnest(range(nb)) AS u(i)
  WHERE nb > 0
  GROUP BY 1, 2
),
totals AS (
  SELECT source, sum(cnt)::BIGINT AS n_bytes_total,
         count(*)::BIGINT AS n_distinct_bytes
  FROM by GROUP BY source
),
axis AS (SELECT printf('%02X', i::INT) AS byte FROM unnest(range(256)) AS u(i)),
dense AS (
  SELECT t.source, t.n_bytes_total, t.n_distinct_bytes, a.byte,
         coalesce(b.cnt, 0)::BIGINT AS cnt
  FROM totals t CROSS JOIN axis a
  LEFT JOIN by b ON b.source = t.source AND b.byte = a.byte
)
SELECT source, n_bytes_total, n_distinct_bytes,
       (sum(abs(cnt * 256 - n_bytes_total)) * 125 // (n_bytes_total * 64))::BIGINT AS vd_milli
FROM dense GROUP BY source, n_bytes_total, n_distinct_bytes ORDER BY source
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
            # engines (r9 advice: unix_timestamp(DATE) evaluates at
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


# ------------------------------------------------------------- classifier calibration
def q_quality_calibration(spark, sf_dir):
    """Calibration curve of the fixed-weight quality classifier against an
    INDEPENDENT proxy gold label (the n_chars ≥ 200 length rule — the
    other rater from e_cohens_kappa): per 100-milli logit bucket, doc
    count and observed gold rate. A well-calibrated scorer's gold rate
    rises monotonically with the bucket; a flat curve means the logit is
    noise and its threshold (x_quality_classifier's keep gate) is
    arbitrary. The audit run before trusting any learned filter at corpus
    scale.

    Shape: the classifier is the shared map-only operator; ONE hash agg
    over (bucket) with conditional sums — exact integers, milli rate by
    integer division."""
    from ..operators import text as _text

    cls = _text.quality_classifier(_docs_par(spark, sf_dir)).select(
        "doc_id", "logit_milli"
    )
    gold = _docs_par(spark, sf_dir).select(
        "doc_id", (F.col("n_chars") >= 200).cast("bigint").alias("gold")
    )
    return (
        cls.join(gold, "doc_id")
        .withColumn("bucket", F.expr("logit_milli div 100"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("gold").cast("bigint").alias("n_gold"),
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_docs",
            "n_gold",
            F.expr("n_gold * 1000 div n_docs").cast("bigint").alias("gold_rate_milli"),
        )
        .orderBy("bucket")
    )


def _oracle_quality_calibration() -> str:
    from .llm import ORACLE_QUALITY_CLASSIFIER

    return f"""
WITH cls AS ({ORACLE_QUALITY_CLASSIFIER}),
j AS (
  SELECT c.doc_id, c.logit_milli, (d.n_chars >= 200)::BIGINT AS gold
  FROM cls c JOIN documents d USING (doc_id)
)
SELECT (logit_milli // 100)::BIGINT AS bucket,  -- DuckDB integer // truncates toward zero, same as Spark div
       count(*)::BIGINT AS n_docs, sum(gold)::BIGINT AS n_gold,
       (sum(gold) * 1000 // count(*))::BIGINT AS gold_rate_milli
FROM j GROUP BY 1 ORDER BY 1
"""


SPECS += [
    QuerySpec("x_frame_byte_flatness", q_frame_byte_flatness, ORACLE_FRAME_BYTE_FLATNESS,
              doc="per-source media byte-distribution flatness (TV from uniform, log-free) — stuck-sensor screen",
              tags=("llm", "multimodal")),
    QuerySpec("e_seasonal_index", q_seasonal_index, ORACLE_SEASONAL_INDEX,
              doc="day-of-week multiplicative seasonal index per event type, exact cross-multiplied milli",
              tags=("ext", "stats", "timeseries")),
    QuerySpec("x_quality_calibration", q_quality_calibration, _oracle_quality_calibration(),
              doc="calibration curve of the quality classifier vs the independent length gold, per logit bucket",
              tags=("llm", "text", "quality", "eval")),
]


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


# ------------------------------------------------------------- MinHash estimator accuracy
def q_minhash_accuracy(spark, sf_dir):
    """MinHash estimator-accuracy audit: over the LSH candidate pairs, the
    distribution of |estimated − exact| Jaccard error, where the estimate
    is matching-seeds/16 from the very signatures the index is built on —
    the empirical answer to "is 16 hashes enough for our threshold?"
    before anyone tunes bands/rows (x_lsh_tune consumes this). Error is
    bucketed to deciles (err div 100 milli).

    Exact integers end-to-end: est_milli = matches·1000 div 16; the true
    Jaccard is recomputed as inter·1000 div union over candidate-pruned
    shingle joins (never the 1e-4 float grid, so no representability
    corner). Scale shape: the signature match join is candidates × 16
    seed rows; the exact join is the candidate-first pruned co-shingle
    join the verify stage already pays — nothing beyond the LSH chain."""
    chain = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir)))
    sh, sigs, cands = chain.sh, chain.sigs.cache(), chain.cands
    sa = sigs.select(F.col("doc_id").alias("doc_a"), "seed", F.col("minhash").alias("mh_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), "seed", F.col("minhash").alias("mh_b"))
    est = (
        cands.join(sa, "doc_a")
        .join(sb, ["doc_b", "seed"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum((F.col("mh_a") == F.col("mh_b")).cast("bigint")).alias("matches"))
        .withColumn("est_milli", F.expr("matches * 1000 div 16"))
    )
    cdocs_a = cands.select(F.col("doc_a").alias("doc_id")).distinct()
    cdocs_b = cands.select(F.col("doc_b").alias("doc_id")).distinct()
    sh_a = sh.join(cdocs_a, "doc_id", "left_semi")
    sh_b = sh.join(cdocs_b, "doc_id", "left_semi")
    inter = (
        sh_a.alias("a")
        .join(
            sh_b.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    true = (
        cands.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("i", F.coalesce(F.col("i"), F.lit(0)))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .withColumn("true_milli", F.expr("i * 1000 div (sz_a + sz_b - i)"))
    )
    err = (
        est.join(true, ["doc_a", "doc_b"])
        .withColumn("err", F.abs(F.col("est_milli") - F.col("true_milli")))
    )
    return (
        err.groupBy(F.expr("err div 100").cast("bigint").alias("err_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("err").cast("bigint").alias("sum_err_milli"),
        )
        .orderBy("err_bucket")
    )


def _oracle_minhash_accuracy() -> str:
    from .llm import _minhash_lsh_ctes, _shingles_cte

    return f"""
WITH {_shingles_cte()},
{_minhash_lsh_ctes()},
est AS (
  SELECT c.doc_a, c.doc_b,
         sum(CASE WHEN x.minhash = y.minhash THEN 1 ELSE 0 END)::BIGINT AS matches
  FROM cand c
  JOIN seeded x ON x.doc_id = c.doc_a
  JOIN seeded y ON y.doc_id = c.doc_b AND y.seed = x.seed
  GROUP BY 1, 2
),
true_j AS (
  SELECT c.doc_a, c.doc_b,
         coalesce(i.i, 0)::BIGINT AS i, x.sz AS sz_a, y.sz AS sz_b
  FROM cand c
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sz x ON c.doc_a = x.doc_id JOIN sz y ON c.doc_b = y.doc_id
),
err AS (
  SELECT abs((e.matches * 1000 // 16)
             - (t.i * 1000 // (t.sz_a + t.sz_b - t.i))) AS err
  FROM est e JOIN true_j t ON e.doc_a = t.doc_a AND e.doc_b = t.doc_b
)
SELECT (err // 100)::BIGINT AS err_bucket, count(*)::BIGINT AS n_pairs,
       sum(err)::BIGINT AS sum_err_milli
FROM err GROUP BY 1 ORDER BY 1
"""


SPECS += [
    QuerySpec("e_mann_kendall", q_mann_kendall, ORACLE_MANN_KENDALL,
              doc="Mann-Kendall monotone-trend z per event type over the daily grid (significance companion to Theil-Sen)",
              tags=("ext", "stats", "timeseries")),
    QuerySpec("x_minhash_accuracy", q_minhash_accuracy, _oracle_minhash_accuracy(),
              doc="MinHash estimated-vs-exact Jaccard error distribution over LSH candidates (is 16 hashes enough?)",
              tags=("llm", "dedup")),
]


# ------------------------------------------------------------- context-length histogram
def q_context_len_hist(spark, sf_dir):
    """Sequence-length planning histogram: docs and token mass per
    power-of-2 token-length bin, with each bin's milli share of total
    tokens — the distribution a packing stage (x_seq_pack) reads to pick
    the context length: bins above the context leak truncation, bins far
    below it leak padding/packing overhead. Bins are exact integer
    bit-lengths (floor(log2) with no float log — the e_funnel_latency
    idiom), so both engines agree bit-for-bit.

    One map pass (token count per doc is an array expression), one hash
    agg over ≤ ~40 bins, one broadcast total."""
    d = _docs_par(spark, sf_dir)
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    per = d.select(F.size(toks).cast("bigint").alias("_nt")).filter(F.col("_nt") > 0)
    # bit-length bin without float log: position of the highest set bit
    binned = per.select(
        "_nt",
        (F.length(F.conv(F.col("_nt").cast("string"), 10, 2)) - 1)
        .cast("bigint")
        .alias("len_bin"),
    )
    agg = binned.groupBy("len_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
    )
    tot = agg.agg(F.sum("n_tokens").cast("bigint").alias("_tt"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "len_bin",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 1000 div _tt").cast("bigint").alias("token_share_milli"),
        )
        .orderBy("len_bin")
    )


ORACLE_CONTEXT_LEN_HIST = f"""
WITH per AS (
  SELECT len({_TOKS})::BIGINT AS nt FROM documents
  WHERE len({_TOKS}) > 0
),
agg AS (
  SELECT (length(bin(nt)) - 1)::BIGINT AS len_bin, count(*)::BIGINT AS n_docs,
         sum(nt)::BIGINT AS n_tokens
  FROM per GROUP BY 1
),
t AS (SELECT sum(n_tokens)::BIGINT AS tt FROM agg)
SELECT len_bin, n_docs, n_tokens,
       (n_tokens * 1000 // t.tt)::BIGINT AS token_share_milli
FROM agg, t ORDER BY len_bin
"""


# ------------------------------------------------------------- rare-token docs
def q_rare_token_docs(spark, sf_dir):
    """OCR-garbage / gibberish detector: the 20 docs with the highest
    share of corpus-RARE tokens (document frequency ≤ 2), milli grid,
    ties broken by doc_id — a high rare share means the doc's vocabulary
    appears nowhere else: scanner noise, hex dumps, mangled encodings.
    The distributional complement of x_repetition_filter (which catches
    the opposite failure).

    Scale shape: the document-frequency table is one (token → df) hash
    agg over distinct (doc, token) pairs (Heaps-law small next to the
    token stream); per-doc rare counts are one token-keyed join + one
    doc-keyed agg; the final cut is TakeOrdered(20), never a global
    sort."""
    d = _docs_par(spark, sf_dir)
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    dt = d.select("doc_id", F.explode(toks).alias("tok"))
    df_tab = (
        dt.select("doc_id", "tok").distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    per = (
        dt.join(df_tab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum((F.col("df") <= 2).cast("bigint")).cast("bigint").alias("n_rare"),
        )
        .withColumn("rare_milli", F.expr("n_rare * 1000 div n_tokens"))
    )
    return per.orderBy(F.col("rare_milli").desc(), "doc_id").limit(20).select(
        "doc_id", "n_tokens", "n_rare", "rare_milli"
    )


ORACLE_RARE_TOKEN_DOCS = f"""
WITH dt AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
df_tab AS (
  SELECT tok, count(*)::BIGINT AS df
  FROM (SELECT DISTINCT doc_id, tok FROM dt) GROUP BY tok
),
per AS (
  SELECT dt.doc_id, count(*)::BIGINT AS n_tokens,
         sum((f.df <= 2)::BIGINT)::BIGINT AS n_rare
  FROM dt JOIN df_tab f USING (tok)
  GROUP BY dt.doc_id
)
SELECT doc_id, n_tokens, n_rare,
       (n_rare * 1000 // n_tokens)::BIGINT AS rare_milli
FROM per
ORDER BY rare_milli DESC, doc_id LIMIT 20
"""


# ------------------------------------------------------------- dedup audit sample
def q_dedup_audit_sample(spark, sf_dir):
    """Deterministic stratified review queue for the dedup threshold: ONE
    representative verified pair per Jaccard decile — the sample a human
    (or an LLM judge) reviews to sanity-check where the keep/drop
    threshold actually separates rewrites from coincidences. The
    representative is the pair with the smallest portable pair-hash in
    its decile: deterministic, unbiased by storage order, reproducible
    across engines and runs (a `LIMIT` without this key would be
    partition-order dependent).

    Scale shape: rides the standard banded-LSH verify chain; the decile
    pick is one keyed min-by window over the verified pairs."""
    from pyspark.sql import Window

    from ..functions.hashing import portable_hash64

    pairs = dedup.near_dup_chain(
        dedup.shingles(_docs_par(spark, sf_dir)), threshold=0.0
    ).near
    dec = pairs.select(
        "doc_a",
        "doc_b",
        F.floor(F.col("jaccard") * 10).cast("bigint").alias("decile"),
        F.pmod(
            portable_hash64(
                F.concat(
                    F.lit("audit:"),
                    F.col("doc_a").cast("string"),
                    F.lit(":"),
                    F.col("doc_b").cast("string"),
                )
            ),
            F.lit(1_000_000_007),
        ).alias("pick"),
    )
    w = Window.partitionBy("decile").orderBy("pick", "doc_a", "doc_b")
    return (
        dec.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("decile", "doc_a", "doc_b")
        .orderBy("decile")
    )


def _oracle_dedup_audit_sample() -> str:
    from ..functions.hashing import portable_hash64_sql
    from .llm import _minhash_lsh_ctes, _shingles_cte

    h_in = "'audit:' || doc_a::VARCHAR || ':' || doc_b::VARCHAR"
    return f"""
WITH {_shingles_cte()},
{_minhash_lsh_ctes()},
dec AS (
  SELECT doc_a, doc_b, floor(jaccard * 10)::BIGINT AS decile,
         ({portable_hash64_sql(h_in)} % 1000000007) AS pick
  FROM verified
),
rk AS (
  SELECT decile, doc_a, doc_b,
         row_number() OVER (PARTITION BY decile ORDER BY pick, doc_a, doc_b) AS rk
  FROM dec
)
SELECT decile, doc_a, doc_b FROM rk WHERE rk = 1 ORDER BY decile
"""


SPECS += [
    QuerySpec("x_context_len_hist", q_context_len_hist, ORACLE_CONTEXT_LEN_HIST,
              doc="docs/token mass per power-of-2 token-length bin + token share — the context-length planning histogram",
              tags=("llm", "text", "tokenize")),
    QuerySpec("x_rare_token_docs", q_rare_token_docs, ORACLE_RARE_TOKEN_DOCS,
              doc="top-20 docs by corpus-rare-token share (df<=2) — the OCR-garbage detector",
              tags=("llm", "text", "quality")),
    QuerySpec("x_dedup_audit_sample", q_dedup_audit_sample, _oracle_dedup_audit_sample(),
              doc="deterministic one-pair-per-Jaccard-decile review queue (min portable pair-hash per decile)",
              tags=("llm", "dedup", "eval")),
]

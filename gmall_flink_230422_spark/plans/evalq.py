"""Evaluation and release-audit queries: classifier and router agreement
(AUC, calibration, kappa, Wilson ranks), train/eval split hygiene,
ranking agreement, and privacy release gates (k-anonymity, l-diversity,
t-closeness, differentially private counts).

Each Spark pipeline has a semantically identical DuckDB oracle built on
the same portable md5-derived hash (functions.hashing) and the same
integer/floor grids, so even MinHash/SimHash signatures hash-match.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import tokenize
from ..io import load_table
from ..operators import dedup, text
from ..operators.windows import distributed_cumsum
from . import QuerySpec
from .common import _docs_par, _EN_STOP_SQL, _TOKS
from .textq import ORACLE_LANG_ID, ORACLE_QUALITY_CLASSIFIER


# ------------------------------------------- classifier evaluation suite
def q_classifier_auc(spark, sf_dir):
    """ROC-AUC of the frozen quality classifier treated as an English
    detector (weak label: ``lang = 'en'``) — the Mann-Whitney rank-sum
    audit every model-based corpus filter needs before its threshold is
    trusted (reference parity: the ref ships filters but no filter audit;
    this is the missing evaluation layer).

    Scale shape: the classifier logit lives on a bounded milli-grid
    (one hash-agg collapses the corpus to <= ~4k (logit, n_pos, n_neg)
    rows), the strictly-below-negative prefix runs through
    ``distributed_cumsum`` (range-partition + keyed window + broadcast
    offsets — no single-partition exchange over data), and the final
    1-row reduce is a scalar aggregate.  AUC uses the tie-corrected U
    statistic kept entirely in BIGINTs: 2U = sum_s n_pos(s) *
    (2*neg_below(s) + n_neg(s)); auc_ppm = 1e6 * 2U DIV (2 * P * N).
    """
    d = _docs_par(spark, sf_dir)
    feats = text.quality_classifier(d).join(
        d.select("doc_id", (F.col("lang") == "en").alias("is_pos")), "doc_id"
    )
    hist = feats.groupBy("logit_milli").agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("n_pos"),
        F.sum(F.when(F.col("is_pos"), 0).otherwise(1)).cast("bigint").alias("n_neg"),
    )
    cum = distributed_cumsum(hist, ["logit_milli"], "n_neg", "cum_neg")
    return (
        cum.withColumn("neg_below", F.col("cum_neg") - F.col("n_neg"))
        .agg(
            F.sum("n_pos").alias("n_pos"),
            F.sum("n_neg").alias("n_neg"),
            F.sum(
                F.col("n_pos") * (F.lit(2) * F.col("neg_below") + F.col("n_neg"))
            ).alias("u2"),
        )
        .select(
            "n_pos",
            "n_neg",
            # guarded denominator: an all-one-class corpus
            # (n_pos or n_neg = 0) must yield a defined 0-ish value, not
            # Spark NULL / a DuckDB division-by-zero error
            F.expr(
                "CAST(u2 * 1000000 DIV greatest(2 * n_pos * n_neg, 1) AS BIGINT)"
            ).alias("auc_ppm"),
        )
    )


ORACLE_CLASSIFIER_AUC = f"""
WITH cls AS ({ORACLE_QUALITY_CLASSIFIER}),
lab AS (
  SELECT c.logit_milli, (d.lang = 'en') AS is_pos
  FROM cls c JOIN documents d USING (doc_id)
),
hist AS (
  SELECT logit_milli,
         sum(CASE WHEN is_pos THEN 1 ELSE 0 END)::BIGINT AS n_pos,
         sum(CASE WHEN is_pos THEN 0 ELSE 1 END)::BIGINT AS n_neg
  FROM lab GROUP BY 1
),
cum AS (
  SELECT n_pos, n_neg,
         (sum(n_neg) OVER (ORDER BY logit_milli) - n_neg) AS neg_below
  FROM hist
),
agg AS (
  SELECT sum(n_pos)::BIGINT AS n_pos, sum(n_neg)::BIGINT AS n_neg,
         sum(n_pos * (2 * neg_below + n_neg))::BIGINT AS u2
  FROM cum
)
SELECT n_pos, n_neg,
       (u2 * 1000000 // greatest(2 * n_pos * n_neg, 1))::BIGINT AS auc_ppm
FROM agg
"""


def q_calibration_bins(spark, sf_dir):
    """Reliability-diagram table for the frozen quality classifier against
    the weak English label: fixed-width logit bins (width 200 milli, no
    global sort, no quantile pass), per-bin support, mean logit and
    empirical positive rate, and the absolute calibration gap between the
    bin's saturated probability proxy (logit clamped to [0,1000] / 1000)
    and the observed rate — the per-bin rows that an ECE or a reliability
    plot is built from.  One hash-agg over the corpus; all milli-grid
    BIGINTs."""
    d = _docs_par(spark, sf_dir)
    feats = text.quality_classifier(d).join(
        d.select("doc_id", (F.col("lang") == "en").alias("is_pos")), "doc_id"
    )
    # shift the clamped logit to a non-negative domain BEFORE the integer
    # divide: truncate-toward-zero DIV on a signed domain makes the bin at
    # zero double-width ((-200,0) and [0,200) both -> 0); +1200 first gives
    # true fixed-width floor bins 0..12 where bin 0 = [-1200,-1000)
    binned = feats.select(
        F.expr(
            "CAST((least(greatest(logit_milli, -1200), 1399) + 1200) DIV 200 AS BIGINT)"
        ).alias("bin_id"),
        "logit_milli",
        F.expr(
            "CAST(least(greatest(logit_milli, 0), 1000) AS BIGINT)"
        ).alias("p_proxy_milli"),
        F.col("is_pos").cast("long").alias("pos"),
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.expr("CAST(sum(logit_milli) DIV count(*) AS BIGINT)").alias(
                "mean_logit_milli"
            ),
            F.expr("CAST(sum(p_proxy_milli) DIV count(*) AS BIGINT)").alias(
                "mean_proxy_milli"
            ),
            F.expr("CAST(sum(pos) * 1000 DIV count(*) AS BIGINT)").alias(
                "pos_rate_milli"
            ),
        )
        .withColumn(
            "gap_milli",
            F.abs(F.col("mean_proxy_milli") - F.col("pos_rate_milli")),
        )
    )


ORACLE_CALIBRATION_BINS = f"""
WITH cls AS ({ORACLE_QUALITY_CLASSIFIER}),
lab AS (
  SELECT c.logit_milli, (d.lang = 'en') AS is_pos
  FROM cls c JOIN documents d USING (doc_id)
),
binned AS (
  SELECT ((least(greatest(logit_milli, -1200), 1399) + 1200) // 200)::BIGINT AS bin_id,
         logit_milli,
         least(greatest(logit_milli, 0), 1000)::BIGINT AS p_proxy_milli,
         (CASE WHEN is_pos THEN 1 ELSE 0 END)::BIGINT AS pos
  FROM lab
),
g AS (
  SELECT bin_id, count(*)::BIGINT AS n_docs, sum(pos)::BIGINT AS n_pos,
         (sum(logit_milli) // count(*))::BIGINT AS mean_logit_milli,
         (sum(p_proxy_milli) // count(*))::BIGINT AS mean_proxy_milli,
         (sum(pos) * 1000 // count(*))::BIGINT AS pos_rate_milli
  FROM binned GROUP BY 1
)
SELECT bin_id, n_docs, n_pos, mean_logit_milli, mean_proxy_milli,
       pos_rate_milli, abs(mean_proxy_milli - pos_rate_milli) AS gap_milli
FROM g
"""


_WILSON_EXPR = (
    "CAST(floor(1000000.0 * ("
    "(CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE)"
    " + 1.9208 / CAST(n_docs AS DOUBLE)"
    " - 1.96 * sqrt((CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE)"
    " * (1.0 - CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    " + 0.9604 / CAST(n_docs AS DOUBLE)) / CAST(n_docs AS DOUBLE)))"
    " / (1.0 + 3.8416 / CAST(n_docs AS DOUBLE))"
    ")) AS BIGINT)"
)


def q_wilson_rank(spark, sf_dir):
    """Wilson-lower-bound ranking of sources by classifier keep rate — the
    small-sample-honest way to rank corpus sources (a 3/3 source must not
    outrank a 950/1000 source; the lower confidence bound at z=1.96
    handles exactly that).  The decision layer on top of the quality
    classifier when choosing which domains to crawl deeper.

    Scale shape: map-only classifier pass + one hash-agg per source;
    the Wilson bound is a per-group scalar expression.  Cross-engine
    parity: the bound is evaluated from exact BIGINT (n_keep, n_docs)
    through ONE shared expression string (identical AST both engines);
    /, *, sqrt are all IEEE correctly rounded, so the micro-floor is
    engine-stable — same argument class as x_chi2_terms, with the
    boundary reasoning pinned in x_weighted_sample's docstring."""
    d = _docs_par(spark, sf_dir)
    feats = text.quality_classifier(d).join(
        d.select("doc_id", "source"), "doc_id"
    )
    agg = feats.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_keep"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_keep",
        F.expr("CAST(n_keep * 1000 DIV n_docs AS BIGINT)").alias("keep_rate_milli"),
        F.expr(_WILSON_EXPR).alias("wilson_micro"),
    )


ORACLE_WILSON_RANK = f"""
WITH cls AS ({ORACLE_QUALITY_CLASSIFIER}),
agg AS (
  SELECT d.source, count(*)::BIGINT AS n_docs,
         sum(CASE WHEN c.keep THEN 1 ELSE 0 END)::BIGINT AS n_keep
  FROM cls c JOIN documents d USING (doc_id)
  GROUP BY 1
)
SELECT source, n_docs, n_keep,
       (n_keep * 1000 // n_docs)::BIGINT AS keep_rate_milli,
       {_WILSON_EXPR.replace("DIV", "//")} AS wilson_micro
FROM agg
"""


def q_lang_confusion(spark, sf_dir):
    """Per-class evaluation of the stopword-vote language detector against
    the corpus's true labels: one-vs-rest TP/FP/FN counts and milli-grid
    precision/recall/F1 per true language — the confusion-derived report
    that decides whether the cheap heuristic is good enough to route
    documents, completing the eval family (AUC/calibration audit the
    quality classifier; this audits the router).

    Scale shape: the detector is a map-only pass; the confusion counts
    are ONE hash-agg on (lang, pred_lang) — a ≤|langs|² frame — and the
    per-class one-vs-rest sums run over that bounded frame via broadcast
    self-aggregation.  All integer: precision/recall/F1 as BIGINT DIVs
    on the milli grid (f1 from the same exact counts: 2·TP·1000 DIV
    (2·TP + FP + FN))."""
    d = load_table(spark, sf_dir, "documents")
    pred = d.select("lang", text.detect_language(F.col("text")).alias("pred_lang"))
    conf = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tp = conf.filter(F.col("lang") == F.col("pred_lang")).select(
        F.col("lang"), F.col("n").alias("tp")
    )
    fn = conf.groupBy("lang").agg(F.sum("n").alias("support"))
    fp = conf.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("n").alias("predicted")
    )
    return (
        fn.join(tp, "lang", "left")
        .join(fp, "lang", "left")
        .select(
            "lang",
            F.col("support").cast("bigint").alias("support"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
            (F.coalesce("predicted", F.lit(0)) - F.coalesce("tp", F.lit(0)))
            .cast("bigint")
            .alias("fp"),
            (F.col("support") - F.coalesce("tp", F.lit(0)))
            .cast("bigint")
            .alias("fn"),
        )
        .withColumn(
            "precision_milli",
            F.expr("CAST(tp * 1000 DIV greatest(tp + fp, 1) AS BIGINT)"),
        )
        .withColumn(
            "recall_milli",
            F.expr("CAST(tp * 1000 DIV greatest(tp + fn, 1) AS BIGINT)"),
        )
        .withColumn(
            "f1_milli",
            F.expr("CAST(2 * tp * 1000 DIV greatest(2 * tp + fp + fn, 1) AS BIGINT)"),
        )
    )


ORACLE_LANG_CONFUSION = f"""
WITH pred AS (
  SELECT lang, pred_lang FROM ({ORACLE_LANG_ID})
),
conf AS (
  SELECT lang, pred_lang, count(*)::BIGINT AS n FROM pred GROUP BY 1, 2
),
tp AS (SELECT lang, n AS tp FROM conf WHERE lang = pred_lang),
sup AS (SELECT lang, sum(n)::BIGINT AS support FROM conf GROUP BY 1),
prd AS (SELECT pred_lang AS lang, sum(n)::BIGINT AS predicted FROM conf GROUP BY 1),
j AS (
  SELECT s.lang, s.support,
         coalesce(t.tp, 0)::BIGINT AS tp,
         (coalesce(p.predicted, 0) - coalesce(t.tp, 0))::BIGINT AS fp,
         (s.support - coalesce(t.tp, 0))::BIGINT AS fn
  FROM sup s LEFT JOIN tp t USING (lang) LEFT JOIN prd p USING (lang)
)
SELECT lang, support, tp, fp, fn,
       (tp * 1000 // greatest(tp + fp, 1))::BIGINT AS precision_milli,
       (tp * 1000 // greatest(tp + fn, 1))::BIGINT AS recall_milli,
       (2 * tp * 1000 // greatest(2 * tp + fp + fn, 1))::BIGINT AS f1_milli
FROM j
"""


# ---------------------------------------------------------------- chance-corrected router agreement
def q_router_kappa(spark, sf_dir):
    """Cohen's kappa between the language router and the true labels —
    the chance-corrected agreement score that x_lang_confusion's raw
    precision/recall can inflate on skewed class mixes (a router that
    always answers the majority language scores high accuracy but kappa
    ~ 0). po and pe live on the ppm grid from exact BIGINT confusion
    counts; kappa_ppm = (po - pe) * 1e6 DIV (1e6 - pe), guarded for the
    degenerate pe = 1e6 corpus (single class, constant router).

    Scale shape: one (lang, pred_lang) hash-agg (<= |langs|^2 rows);
    every sum after that runs on the bounded confusion frame. The
    pe numerator sums n_true*n_pred (~n^2): exact to ~3e9 docs; past
    that, coarsen the marginals (counts in thousands) before the
    product — same grid-rescale convention as e_corr_pairs."""
    d = load_table(spark, sf_dir, "documents")
    pred = d.select("lang", text.detect_language(F.col("text")).alias("pred_lang"))
    conf = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).cache()
    tot = conf.agg(F.sum("n").alias("n_docs"))
    po = conf.filter(F.col("lang") == F.col("pred_lang")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_agree")
    )
    row_m = conf.groupBy("lang").agg(F.sum("n").alias("n_true"))
    col_m = conf.groupBy("pred_lang").agg(F.sum("n").alias("n_pred"))
    pe_num = (
        row_m.join(col_m, row_m["lang"] == col_m["pred_lang"])
        .agg(F.sum(F.col("n_true") * F.col("n_pred")).alias("s"))
    )
    return (
        tot.join(F.broadcast(po)).join(F.broadcast(pe_num))
        .select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_agree").cast("bigint").alias("n_agree"),
            F.expr("CAST(n_agree * 1000000 DIV n_docs AS BIGINT)").alias("po_ppm"),
            F.expr("CAST(s * 1000000 DIV (n_docs * n_docs) AS BIGINT)").alias("pe_ppm"),
        )
        .select(
            "n_docs",
            "n_agree",
            "po_ppm",
            "pe_ppm",
            F.expr(
                "CAST((po_ppm - pe_ppm) * 1000000 DIV greatest(1000000 - pe_ppm, 1) AS BIGINT)"
            ).alias("kappa_ppm"),
        )
    )


ORACLE_ROUTER_KAPPA = f"""
WITH pred AS (
  SELECT lang, pred_lang FROM ({ORACLE_LANG_ID})
),
conf AS (
  SELECT lang, pred_lang, count(*)::BIGINT AS n FROM pred GROUP BY 1, 2
),
tot AS (SELECT sum(n)::BIGINT AS n_docs FROM conf),
po AS (SELECT coalesce(sum(n), 0)::BIGINT AS n_agree FROM conf WHERE lang = pred_lang),
row_m AS (SELECT lang, sum(n)::BIGINT AS n_true FROM conf GROUP BY 1),
col_m AS (SELECT pred_lang, sum(n)::BIGINT AS n_pred FROM conf GROUP BY 1),
pe AS (
  SELECT sum(r.n_true * c.n_pred)::BIGINT AS s
  FROM row_m r JOIN col_m c ON r.lang = c.pred_lang
),
g AS (
  SELECT t.n_docs, p.n_agree,
         (p.n_agree * 1000000 // t.n_docs)::BIGINT AS po_ppm,
         (e.s * 1000000 // (t.n_docs * t.n_docs))::BIGINT AS pe_ppm
  FROM tot t CROSS JOIN po p CROSS JOIN pe e
)
SELECT n_docs, n_agree, po_ppm, pe_ppm,
       ((po_ppm - pe_ppm) * 1000000 // greatest(1000000 - pe_ppm, 1))::BIGINT AS kappa_ppm
FROM g
"""


# ---------------------------------------------------------------- expected calibration error
def q_ece(spark, sf_dir):
    """Expected Calibration Error of the frozen quality classifier: the
    support-weighted mean of the per-bin |proxy - empirical rate| gaps
    that x_calibration_bins reports row-by-row, collapsed to the single
    headline number model cards quote (plus max-gap = MCE). Reuses the
    shifted fixed-width bin pipeline verbatim, so the two queries can
    never drift apart; ECE on the milli grid = sum(n_b * gap_b) DIV N.

    Scale shape: the same one-pass hash agg as x_calibration_bins plus a
    <= 13-row grand total."""
    bins = q_calibration_bins(spark, sf_dir)
    return bins.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.expr("CAST(sum(n_docs * gap_milli) DIV sum(n_docs) AS BIGINT)").alias(
            "ece_milli"
        ),
        F.max("gap_milli").cast("bigint").alias("mce_milli"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
    )


ORACLE_ECE = f"""
WITH bins AS ({ORACLE_CALIBRATION_BINS})
SELECT sum(n_docs)::BIGINT AS n_docs,
       (sum(n_docs * gap_milli) // sum(n_docs))::BIGINT AS ece_milli,
       max(gap_milli)::BIGINT AS mce_milli,
       count(*)::BIGINT AS n_bins
FROM bins
"""


# ---------------------------------------------------------------- k-anonymity audit
def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the corpus's quasi-identifier grid
    (lang, source): a document whose QI equivalence class holds fewer
    than k=5 members is re-identifiable by those attributes alone — the
    privacy screen that complements x_pii_redact's content regexes with
    a STRUCTURAL disclosure check (Sweeney's k-anonymity, the release
    gate most data-clearance processes start from).

    Output: one row per violating class (size < k) with its size, plus
    a '__summary__' row carrying corpus totals — violating classes,
    exposed docs, and the exposed fraction on the milli grid.

    Scale shape: one (lang, source) hash agg, a filtered <= |classes|
    frame, and a grand total; map-reduce trivial at any scale."""
    d = load_table(spark, sf_dir, "documents")
    k = 5
    classes = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size")
    ).cache()
    viol = classes.filter(F.col("class_size") < k).select(
        "lang", "source", "class_size"
    )
    tot = classes.agg(
        F.sum("class_size").alias("_n"),
        F.coalesce(
            F.sum(F.when(F.col("class_size") < k, F.col("class_size"))), F.lit(0)
        ).alias("_exposed"),
        F.sum((F.col("class_size") < k).cast("long")).alias("_vclasses"),
    )
    summary = tot.select(
        F.lit("__summary__").alias("lang"),
        F.lit("__summary__").alias("source"),
        F.col("_vclasses").cast("bigint").alias("class_size"),
        F.col("_exposed").cast("bigint").alias("exposed_docs"),
        F.expr("CAST(_exposed * 1000 DIV _n AS BIGINT)").alias("exposed_milli"),
    )
    return viol.select(
        "lang",
        "source",
        "class_size",
        F.lit(None).cast("bigint").alias("exposed_docs"),
        F.lit(None).cast("bigint").alias("exposed_milli"),
    ).unionByName(summary)


ORACLE_K_ANONYMITY = """
WITH classes AS (
  SELECT lang, source, count(*)::BIGINT AS class_size
  FROM documents GROUP BY 1, 2
),
viol AS (
  SELECT lang, source, class_size,
         NULL::BIGINT AS exposed_docs, NULL::BIGINT AS exposed_milli
  FROM classes WHERE class_size < 5
),
summary AS (
  SELECT '__summary__' AS lang, '__summary__' AS source,
         sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END)::BIGINT AS class_size,
         coalesce(sum(CASE WHEN class_size < 5 THEN class_size END), 0)::BIGINT AS exposed_docs,
         (coalesce(sum(CASE WHEN class_size < 5 THEN class_size END), 0) * 1000
          // sum(class_size))::BIGINT AS exposed_milli
  FROM classes
)
SELECT * FROM viol UNION ALL SELECT * FROM summary
"""


# ---------------------------------------------------------------- dataset card
def q_dataset_card(spark, sf_dir):
    """Datasheet-for-datasets summary (Gebru et al.): the one-frame corpus
    card a release review starts from — size, language/source breadth,
    exact-duplication rate, mean document length, English share, and the
    keep rates of the two quality gates (frozen classifier, Gopher rule
    funnel), each as a (metric, value) row on integer grids.

    Composability showcase: every number reuses the SAME operator columns
    its dedicated query verifies (fingerprint(), quality_classifier(),
    the x_gopher_rules flag set), so the card can never drift from the
    audits it summarizes. The classifier/gopher flags are projections of
    the same documents scan joined on doc_id — the flags-frame shape
    x_select_pipeline established.

    Scale shape: map-side per-doc projections, ONE grand-total aggregate
    (count-distincts included), unpivoted to 9 rows."""
    d = _docs_par(spark, sf_dir)
    toks = tokenize.whitespace_tokens(F.lower(F.trim(F.col("text"))))
    base = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).alias("nt"),
        dedup.fingerprint(F.col("text")).alias("fp"),
    )
    clf = text.quality_classifier(d).select(
        "doc_id", F.col("keep").cast("int").alias("q_keep")
    )
    g = d.select(
        "doc_id",
        F.size(toks).alias("_n"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).alias("_sl"),
        F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(s) for s in text.LANG_STOPWORDS["en"]]),
            )
        ).alias("_nsd"),
        F.size(F.filter(toks, lambda t: t.contains("#") | t.contains("..."))).alias("_nsym"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).alias("_nalpha"),
    ).select(
        "doc_id",
        (
            (F.col("_n") >= 50) & (F.col("_n") <= 100_000)
            & F.expr("1000 * _sl DIV greatest(_n, 1)").between(3000, 10_000)
            & (F.col("_nsd") >= 2)
            & (F.expr("1000 * _nsym DIV greatest(_n, 1)") <= 100)
            & (F.expr("1000 * _nalpha DIV greatest(_n, 1)") >= 800)
        ).cast("int").alias("g_keep"),
    )
    joined = base.join(clf, "doc_id").join(g, "doc_id")
    agg = joined.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("fp").alias("n_fp"),
        F.sum("q_keep").alias("n_qkeep"),
        F.sum("g_keep").alias("n_gkeep"),
        F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
    )
    return agg.selectExpr(
        "stack(9,"
        " '1_n_docs', n_docs,"
        " '2_n_tokens', n_tokens,"
        " '3_n_langs', n_langs,"
        " '4_n_sources', n_sources,"
        " '5_exact_dup_milli', CAST((n_docs - n_fp) * 1000 DIV n_docs AS BIGINT),"
        " '6_mean_doc_tokens_milli', CAST(n_tokens * 1000 DIV n_docs AS BIGINT),"
        " '7_en_share_milli', CAST(n_en * 1000 DIV n_docs AS BIGINT),"
        " '8_quality_keep_milli', CAST(n_qkeep * 1000 DIV n_docs AS BIGINT),"
        " '9_gopher_keep_milli', CAST(n_gkeep * 1000 DIV n_docs AS BIGINT)"
        ") AS (metric, value)"
    ).selectExpr("metric", "CAST(value AS BIGINT) AS value")


ORACLE_DATASET_CARD = f"""
WITH cls AS ({ORACLE_QUALITY_CLASSIFIER}),
per AS (
  SELECT d.doc_id, d.lang, d.source,
         len({_TOKS}) AS nt,
         md5(lower(trim(text))) AS fp,
         (CASE WHEN c.keep THEN 1 ELSE 0 END) AS q_keep,
         (CASE WHEN len({_TOKS}) BETWEEN 50 AND 100000
               AND (1000 * coalesce(list_sum(list_transform({_TOKS}, t -> len(t))), 0)
                    // greatest(len({_TOKS}), 1)) BETWEEN 3000 AND 10000
               AND len(list_intersect(list_distinct({_TOKS}), {_EN_STOP_SQL})) >= 2
               AND (1000 * len(list_filter({_TOKS}, t -> contains(t, '#') OR contains(t, '...')))
                    // greatest(len({_TOKS}), 1)) <= 100
               AND (1000 * len(list_filter({_TOKS}, t -> regexp_matches(t, '[a-z]')))
                    // greatest(len({_TOKS}), 1)) >= 800
          THEN 1 ELSE 0 END) AS g_keep
  FROM documents d JOIN cls c USING (doc_id)
),
agg AS (
  SELECT count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens,
         count(DISTINCT lang)::BIGINT AS n_langs,
         count(DISTINCT source)::BIGINT AS n_sources,
         count(DISTINCT fp)::BIGINT AS n_fp,
         sum(q_keep)::BIGINT AS n_qkeep, sum(g_keep)::BIGINT AS n_gkeep,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en
  FROM per
)
SELECT * FROM (
  SELECT '1_n_docs' AS metric, n_docs AS value FROM agg
  UNION ALL SELECT '2_n_tokens', n_tokens FROM agg
  UNION ALL SELECT '3_n_langs', n_langs FROM agg
  UNION ALL SELECT '4_n_sources', n_sources FROM agg
  UNION ALL SELECT '5_exact_dup_milli', (n_docs - n_fp) * 1000 // n_docs FROM agg
  UNION ALL SELECT '6_mean_doc_tokens_milli', n_tokens * 1000 // n_docs FROM agg
  UNION ALL SELECT '7_en_share_milli', n_en * 1000 // n_docs FROM agg
  UNION ALL SELECT '8_quality_keep_milli', n_qkeep * 1000 // n_docs FROM agg
  UNION ALL SELECT '9_gopher_keep_milli', n_gkeep * 1000 // n_docs FROM agg
)
"""


def q_ngram_novelty(spark, sf_dir):
    """Held-out bigram novelty — the memorization/diversity probe run on
    every corpus refresh: what share of the held-out split's distinct
    (doc, bigram) incidences, and of its bigram TYPES, never occur in
    the training split (doc_id % 17 == 0 is the held-out stand-in, the
    same split x_dsir_resample uses). Low novelty = the held-out set is
    effectively memorized by the corpus; high = genuine distribution
    breadth.

    Scale shape: two shingle streams (pure array exprs), one distinct
    per side, a broadcast-or-shuffle LEFT ANTI join on the bigram key,
    then scalar aggregates. Incidence counting uses per-doc-distinct
    bigrams (the shingles() contract), so the statistic is a document-
    incidence rate, stated as such."""
    d = _docs_par(spark, sf_dir)
    train = d.filter(F.col("doc_id") % 17 != 0)
    held = d.filter(F.col("doc_id") % 17 == 0)
    tr_types = dedup.shingles(train, k=2).select("shingle").distinct()
    held_inc = dedup.shingles(held, k=2).cache()
    novel_inc = held_inc.join(tr_types, "shingle", "left_anti")
    inc_agg = held_inc.agg(F.count(F.lit(1)).alias("held_incidences"))
    nov_agg = novel_inc.agg(F.count(F.lit(1)).alias("novel_incidences"))
    ht = held_inc.select("shingle").distinct().agg(
        F.count(F.lit(1)).alias("held_types")
    )
    nt = novel_inc.select("shingle").distinct().agg(
        F.count(F.lit(1)).alias("novel_types")
    )
    return (
        inc_agg.crossJoin(F.broadcast(nov_agg))
        .crossJoin(F.broadcast(ht))
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("held_incidences").cast("bigint").alias("held_incidences"),
            F.col("novel_incidences").cast("bigint").alias("novel_incidences"),
            F.expr(
                "CAST(novel_incidences * 1000 DIV held_incidences AS BIGINT)"
            ).alias("incidence_novelty_milli"),
            F.col("held_types").cast("bigint").alias("held_types"),
            F.col("novel_types").cast("bigint").alias("novel_types"),
            F.expr("CAST(novel_types * 1000 DIV held_types AS BIGINT)").alias(
                "type_novelty_milli"
            ),
        )
    )


ORACLE_NGRAM_NOVELTY = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
bigr AS (
  SELECT DISTINCT doc_id, tok || ' ' || lead(tok) OVER w AS shingle
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
bg AS (SELECT doc_id, shingle FROM bigr WHERE shingle IS NOT NULL),
tr_types AS (SELECT DISTINCT shingle FROM bg WHERE doc_id % 17 <> 0),
held AS (SELECT doc_id, shingle FROM bg WHERE doc_id % 17 = 0),
novel AS (
  SELECT h.doc_id, h.shingle FROM held h
  LEFT JOIN tr_types t USING (shingle) WHERE t.shingle IS NULL
)
SELECT (SELECT count(*) FROM held)::BIGINT AS held_incidences,
       (SELECT count(*) FROM novel)::BIGINT AS novel_incidences,
       ((SELECT count(*) FROM novel) * 1000
        // (SELECT count(*) FROM held))::BIGINT AS incidence_novelty_milli,
       (SELECT count(DISTINCT shingle) FROM held)::BIGINT AS held_types,
       (SELECT count(DISTINCT shingle) FROM novel)::BIGINT AS novel_types,
       ((SELECT count(DISTINCT shingle) FROM novel) * 1000
        // (SELECT count(DISTINCT shingle) FROM held))::BIGINT AS type_novelty_milli
"""


# ------------------------------------------------------------- temporal split
def q_temporal_split(spark, sf_dir):
    """Temporal-split contamination audit: cut the event log at the
    midpoint date (min + span/2 — deterministic, no quantile) and count
    users with activity on BOTH sides — the users whose "future" behavior
    leaks into a time-based train/eval split (the eval-hygiene twin of
    x_split_leakage, on the behavioral table instead of the text corpus).
    One scalar bounds aggregate (benign), one per-user flag aggregate,
    one grand total; cross-multiplied integer share."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("_mn"), F.max(F.to_date("ts")).alias("_mx")
    )
    per_user = (
        ev.join(F.broadcast(bounds))
        .select(
            "user_id",
            (
                F.to_date("ts")
                < F.date_add(F.col("_mn"), (F.datediff(F.col("_mx"), F.col("_mn")) / 2).cast("int"))
            ).alias("is_train"),
        )
        .groupBy("user_id")
        .agg(
            F.max(F.col("is_train").cast("int")).alias("in_train"),
            F.max((~F.col("is_train")).cast("int")).alias("in_eval"),
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("in_train").cast("bigint").alias("n_train_users"),
        F.sum("in_eval").cast("bigint").alias("n_eval_users"),
        F.sum(F.expr("in_train * in_eval")).cast("bigint").alias("n_both"),
        F.expr("sum(in_train * in_eval) * 1000 div count(1)")
        .cast("bigint")
        .alias("both_milli"),
    )


ORACLE_TEMPORAL_SPLIT = """
WITH bounds AS (
  SELECT min(ts::DATE) AS mn, max(ts::DATE) AS mx FROM events
),
per_user AS (
  SELECT user_id,
         max((ts::DATE < mn + ((mx - mn) // 2)::INT)::INT) AS in_train,
         max((ts::DATE >= mn + ((mx - mn) // 2)::INT)::INT) AS in_eval
  FROM events CROSS JOIN bounds
  GROUP BY user_id
)
SELECT count(*)::BIGINT AS n_users,
       sum(in_train)::BIGINT AS n_train_users,
       sum(in_eval)::BIGINT AS n_eval_users,
       sum(in_train * in_eval)::BIGINT AS n_both,
       (sum(in_train * in_eval) * 1000 // count(*))::BIGINT AS both_milli
FROM per_user
"""


# ------------------------------------------------------------- quality rank corr
def q_quality_rank_corr(spark, sf_dir):
    """Detector-agreement for the two QUALITY scorers: Spearman rank
    correlation between the heuristic composite (quality_features) and the
    bigram-LM mean surprisal — the eval-hygiene check that the cheap
    filter and the LM filter actually order the corpus consistently
    (expected NEGATIVE: high surprisal = low quality). The rank twin of
    x_detector_agreement's pair-set comparison for dedup detectors.

    Ranks via two distributed_cumsum global rankings (the e_spearman
    shape: range partition + bounded partition-total broadcast, never an
    Exchange SinglePartition), unique (score, doc_id) tiebreaks ⇒ the
    closed form ρ = 1 − 6Σd²/(n(n²−1)) is exact in BIGINTs."""
    from ..operators import text as _text

    d = _docs_par(spark, sf_dir)
    qf = _text.quality_features(d).select(
        "doc_id", F.floor(F.col("quality_score") * 10000).cast("bigint").alias("qx")
    )
    lm = _text.lm_surprisal_score(d).filter(F.col("avg_surprisal").isNotNull()).select(
        "doc_id", F.floor(F.col("avg_surprisal") * 10000).cast("bigint").alias("qy")
    )
    per = qf.join(lm, "doc_id").withColumn("one", F.lit(1).cast("bigint")).cache()
    rx = distributed_cumsum(
        per.select("doc_id", "qx", "one"), ["qx", "doc_id"], "one", "rank_x"
    ).select("doc_id", "rank_x")
    ry = distributed_cumsum(
        per.select("doc_id", "qy", "one"), ["qy", "doc_id"], "one", "rank_y"
    ).select("doc_id", "rank_y")
    dd = rx.join(ry, "doc_id").select((F.col("rank_x") - F.col("rank_y")).alias("dd"))
    return dd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("dd") * F.col("dd")).cast("bigint").alias("sum_d2"),
    ).select(
        "n_docs",
        "sum_d2",
        F.expr(
            "CASE WHEN n_docs > 1 THEN "
            "(1000000 * (n_docs * (n_docs * n_docs - 1) - 6 * sum_d2)) "
            "div (n_docs * (n_docs * n_docs - 1)) "
            "ELSE NULL END"
        ).alias("rho_micro"),
    )


def _quality_rank_corr_oracle() -> str:
    from .textq import ORACLE_LM_SCORE
    from .textq import ORACLE_QUALITY as _OQS

    return f"""
WITH qsq AS ({_OQS}),
lmq AS ({ORACLE_LM_SCORE}),
per AS (
  SELECT q.doc_id, floor(q.quality_score * 10000)::BIGINT AS qx,
         floor(l.avg_surprisal * 10000)::BIGINT AS qy
  FROM qsq q JOIN lmq l USING (doc_id)
  WHERE l.avg_surprisal IS NOT NULL
),
r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY qx, doc_id) AS rank_x,
         row_number() OVER (ORDER BY qy, doc_id) AS rank_y
  FROM per
),
d AS (SELECT (rank_x - rank_y)::BIGINT AS dd FROM r)
SELECT count(*)::BIGINT AS n_docs, sum(dd * dd)::BIGINT AS sum_d2,
       CASE WHEN count(*) > 1 THEN
         (1000000 * (count(*) * (count(*) * count(*) - 1) - 6 * sum(dd * dd)))
         // (count(*) * (count(*) * count(*) - 1))
       ELSE NULL END AS rho_micro
FROM d
"""


# ------------------------------------------------------------- l-diversity audit
def q_l_diversity(spark, sf_dir):
    """k-anonymity + l-diversity audit over the document catalog before a
    metadata release: quasi-identifier = (source, 200-char length bucket),
    sensitive attribute = lang. A QI group is k-anonymous iff ≥5 docs
    share it and l-diverse iff ≥2 distinct sensitive values appear — the
    standard pair of release gates (l-diversity closes the homogeneity
    attack k-anonymity alone misses). Extends x_k_anonymity, which checks
    group sizes only.

    Scale shape: ONE hash aggregate over the catalog scan (count +
    count-distinct per QI group — Tungsten partial/final), no joins, no
    windows; output is |QI groups|, bounded far below |docs|."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            (F.col("n_chars").cast("bigint") / F.lit(200)).cast("bigint").alias("len_bucket"),
            "lang",
        )
        .groupBy("source", "len_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_size"),
            F.countDistinct("lang").cast("bigint").alias("l_div"),
        )
        .select(
            "source", "len_bucket", "k_size", "l_div",
            (F.col("k_size") < 5).cast("bigint").alias("k_violation"),
            (F.col("l_div") < 2).cast("bigint").alias("l_violation"),
        )
        .orderBy("source", "len_bucket")
    )


ORACLE_L_DIVERSITY = """
SELECT source, (n_chars // 200)::BIGINT AS len_bucket,
       count(*)::BIGINT AS k_size,
       count(DISTINCT lang)::BIGINT AS l_div,
       (count(*) < 5)::BIGINT AS k_violation,
       (count(DISTINCT lang) < 2)::BIGINT AS l_violation
FROM documents
GROUP BY source, (n_chars // 200)
ORDER BY source, len_bucket
"""


# ------------------------------------------------------------- DP noisy counts
def q_dp_counts(spark, sf_dir):
    """Differentially-private release of the (source, lang) histogram:
    each cell's count is perturbed with two-sided geometric noise — the
    discrete Laplace mechanism (P[|noise|=k] = 2^-(k+1), i.e. α = 1/2 ⇒
    ε = ln 2 per cell) — the integer-native DP release for count tables.
    Noise is drawn WITHOUT any float RNG: the magnitude is the
    trailing-zero count of a 16-bit slice of the portable md5 hash of the
    cell key (trailing zeros of a uniform word ARE geometric(1/2)) and the
    sign is the next hash bit, so both engines derive bit-identical noise.

    TESTABILITY NOTE: hash-seeded noise makes the release reproducible and
    oracle-checkable; a production release derives the same bits from a
    SECRET per-release seed (key = secret || cell) — the mechanism and
    plan shape are identical. true_n is emitted here for the audit only; a
    real release drops it.

    Scale shape: one hash aggregate over the catalog scan, then pure
    per-row expression math (hash, trailing zeros via the exact ilog2
    bit-length idiom, no UDFs) — rows = |cells|, bounded by the key
    domain."""
    from ..functions.hashing import portable_hash64

    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
        .withColumn(
            "h",
            portable_hash64(F.concat(F.lit("dp:"), F.col("source"), F.lit("/"), F.col("lang"))),
        )
        .withColumn("hm", F.pmod(F.col("h"), F.lit(65536)).cast("bigint"))
        .withColumn(
            "mag",
            F.when(F.col("hm") == 0, F.lit(16))
            .otherwise(
                F.length(F.bin(F.col("hm").bitwiseAND(-F.col("hm")))) - 1
            )
            .cast("bigint"),
        )
        .withColumn(
            "noise",
            (F.expr("(h div 65536) % 2") * 2 - 1).cast("bigint") * F.col("mag"),
        )
    )
    return cells.select(
        "source", "lang", "true_n", "noise",
        F.greatest(F.col("true_n") + F.col("noise"), F.lit(0)).cast("bigint").alias("noisy_n"),
    ).orderBy("source", "lang")


def _dp_counts_oracle() -> str:
    from ..functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("'dp:' || source || '/' || lang")
    return f"""
WITH cells AS (
  SELECT source, lang, count(*)::BIGINT AS true_n, {h} AS h
  FROM documents GROUP BY source, lang
),
n AS (
  SELECT source, lang, true_n,
         h % 65536 AS hm,
         ((h // 65536) % 2) * 2 - 1 AS sgn
  FROM cells
),
m AS (
  SELECT source, lang, true_n,
         sgn * (CASE WHEN hm = 0 THEN 16
                     ELSE length(printf('%b', hm & (-hm))) - 1 END)::BIGINT AS noise
  FROM n
)
SELECT source, lang, true_n, noise,
       greatest(true_n + noise, 0)::BIGINT AS noisy_n
FROM m ORDER BY source, lang
"""


# ------------------------------------------------------------- rank-biased overlap
# SUFFIX_W[m] = Σ_{d=m..50} floor((1-p)·p^(d-1)/d · 1e9) with p = 0.9: an
# item ranked ra/rb in the two lists contributes SUFFIX_W[max(ra, rb)] to
# the RBO sum (it is inside both depth-d prefixes for every d ≥ max), so
# RBO@50 collapses to ONE aggregate over the joined top-50 lists — no
# depth grid. Identical rankings score Σ w_d·d ≈ 0.9948e9 (= 1 − p^50,
# truncated RBO without residual extrapolation — documented).
_RBO_SUF = (
    255755116, 155755117, 110755118, 83755119, 65530119, 52408120, 42566620,
    34974606, 28995895, 24212926, 20338722, 17168918, 14553830, 12381296,
    10565678, 9040559, 7753740, 6663729, 5737219, 4947248, 4271823, 3692887,
    3195528, 2767367, 2398078, 2079013, 1802899, 1563600, 1355923, 1175459,
    1018455, 881710, 762485, 658434, 567543, 488078, 418546, 357659, 304303,
    257514, 216456, 180406, 148733, 120890, 96401, 74851, 55878, 39165,
    24437, 11452,
)


def q_rbo_rankings(spark, sf_dir):
    """Rank-biased overlap (Webber et al. '10) at depth 50, p = 0.9,
    between the two quality orderings (heuristic composite vs bigram-LM
    surprisal): the TOP-WEIGHTED agreement measure — Spearman
    (x_quality_rank_corr) weights every position equally, but what a
    filtering pipeline acts on is the head of the ranking, and RBO scores
    exactly that. The suffix-weight table turns the depth sum into one
    per-item lookup (see _RBO_SUF), all BIGINT.

    Scale shape: both arms end in TakeOrdered(50) (per-partition partial
    top-k + merge — the x_rrf_fusion precedent); ranks are windows over
    the BOUNDED 50-row frames; the overlap join and final aggregate touch
    ≤50 rows."""
    from pyspark.sql import Window

    from ..operators import text as _text

    d = _docs_par(spark, sf_dir)
    qf = _text.quality_features(d).select(
        "doc_id", F.floor(F.col("quality_score") * 10000).cast("bigint").alias("qx")
    )
    lm = _text.lm_surprisal_score(d).filter(F.col("avg_surprisal").isNotNull()).select(
        "doc_id", F.floor(F.col("avg_surprisal") * 10000).cast("bigint").alias("qy")
    )
    per = qf.join(lm, "doc_id").cache()
    a_top = per.orderBy(F.col("qx").desc(), "doc_id").limit(50)
    wa = Window.orderBy(F.col("qx").desc(), "doc_id")
    a = a_top.withColumn("ra", F.row_number().over(wa)).select("doc_id", "ra")
    b_top = per.orderBy(F.col("qy").asc(), "doc_id").limit(50)
    wb = Window.orderBy(F.col("qy").asc(), "doc_id")
    b = b_top.withColumn("rb", F.row_number().over(wb)).select("doc_id", "rb")
    suf = F.array(*[F.lit(s).cast("bigint") for s in _RBO_SUF])
    j = a.join(b, "doc_id").select(
        F.element_at(suf, F.greatest(F.col("ra"), F.col("rb")).cast("int")).alias("w")
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.coalesce(F.sum("w"), F.lit(0)).cast("bigint").alias("rbo_nano"),
    ).select(
        "n_common", "rbo_nano",
        F.expr("rbo_nano div 1000000").cast("bigint").alias("rbo_milli"),
    )


def _rbo_oracle() -> str:
    from .textq import ORACLE_LM_SCORE
    from .textq import ORACLE_QUALITY as _OQS

    suf = ", ".join(str(s) for s in _RBO_SUF)
    return f"""
WITH qsq AS ({_OQS}),
lmq AS ({ORACLE_LM_SCORE}),
per AS (
  SELECT q.doc_id, floor(q.quality_score * 10000)::BIGINT AS qx,
         floor(l.avg_surprisal * 10000)::BIGINT AS qy
  FROM qsq q JOIN lmq l USING (doc_id)
  WHERE l.avg_surprisal IS NOT NULL
),
a AS (
  SELECT doc_id, row_number() OVER (ORDER BY qx DESC, doc_id) AS ra
  FROM per ORDER BY qx DESC, doc_id LIMIT 50
),
b AS (
  SELECT doc_id, row_number() OVER (ORDER BY qy ASC, doc_id) AS rb
  FROM per ORDER BY qy ASC, doc_id LIMIT 50
),
j AS (
  SELECT ([{suf}])[greatest(a.ra, b.rb)]::BIGINT AS w
  FROM a JOIN b USING (doc_id)
)
SELECT count(*)::BIGINT AS n_common,
       coalesce(sum(w), 0)::BIGINT AS rbo_nano,
       (coalesce(sum(w), 0) // 1000000)::BIGINT AS rbo_milli
FROM j
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
    total (the int64 overflow class). vd_milli =
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


SPECS = [
    QuerySpec("x_classifier_auc", q_classifier_auc, ORACLE_CLASSIFIER_AUC,
              doc="tie-corrected Mann-Whitney ROC-AUC of the quality classifier vs the weak en label",
              tags=("llm", "eval", "audit")),
    QuerySpec("x_calibration_bins", q_calibration_bins, ORACLE_CALIBRATION_BINS,
              doc="reliability-diagram bins: per-bin support, mean logit, empirical rate, calibration gap",
              tags=("llm", "eval", "audit")),
    QuerySpec("x_wilson_rank", q_wilson_rank, ORACLE_WILSON_RANK,
              doc="Wilson lower-bound (z=1.96) ranking of sources by classifier keep rate, micro grid",
              tags=("llm", "eval", "audit")),
    QuerySpec("x_lang_confusion", q_lang_confusion, ORACLE_LANG_CONFUSION,
              doc="one-vs-rest precision/recall/F1 of the language router vs true labels, milli grid",
              tags=("llm", "eval", "audit")),
    QuerySpec("x_router_kappa", q_router_kappa, ORACLE_ROUTER_KAPPA,
              doc="Cohen's kappa of the language router vs true labels, ppm grid from exact confusion counts",
              tags=("llm", "eval", "stats")),
    QuerySpec("x_ece", q_ece, ORACLE_ECE,
              doc="expected + max calibration error from the shared fixed-width bin pipeline",
              tags=("llm", "eval", "stats")),
    QuerySpec("x_k_anonymity", q_k_anonymity, ORACLE_K_ANONYMITY,
              doc="k-anonymity audit over the (lang, source) quasi-identifier grid with exposure summary",
              tags=("llm", "privacy", "audit")),
    QuerySpec("x_dataset_card", q_dataset_card, ORACLE_DATASET_CARD,
              doc="datasheet summary: size, breadth, dup rate, quality-gate keep rates as (metric, value) rows",
              tags=("llm", "audit", "curation")),
    QuerySpec("x_ngram_novelty", q_ngram_novelty, ORACLE_NGRAM_NOVELTY,
              doc="held-out bigram novelty: incidence + type rates vs the train split via anti-join",
              tags=("llm", "eval", "diversity")),
    QuerySpec("x_temporal_split", q_temporal_split, ORACLE_TEMPORAL_SPLIT,
              doc="temporal train/eval split contamination: users active on both sides of the midpoint cut",
              tags=("llm", "eval")),
    QuerySpec("x_quality_rank_corr", q_quality_rank_corr, _quality_rank_corr_oracle(),
              doc="Spearman rank agreement between the heuristic and bigram-LM quality scorers",
              tags=("llm", "eval", "stats")),
    QuerySpec("x_l_diversity", q_l_diversity, ORACLE_L_DIVERSITY,
              doc="k-anonymity + l-diversity release audit over (source, length-bucket) QI groups",
              tags=("llm", "privacy")),
    QuerySpec("x_dp_counts", q_dp_counts, _dp_counts_oracle(),
              doc="discrete-Laplace DP release of the (source, lang) histogram via hash-derived two-sided geometric noise",
              tags=("llm", "privacy")),
    QuerySpec("x_rbo_rankings", q_rbo_rankings, _rbo_oracle(),
              doc="rank-biased overlap @50 (p=0.9) between the heuristic and LM quality rankings via suffix-weight lookup",
              tags=("llm", "eval", "stats")),
    QuerySpec("x_t_closeness", q_t_closeness, ORACLE_T_CLOSENESS,
              doc="t-closeness: per-source variational distance from the corpus length distribution, exact integers",
              tags=("llm", "privacy")),
]

"""Sparse-retrieval operators (LLM-pipeline extension) over the
``documents`` table: PMI collocation mining, an inverted index and
conjunctive posting-list retrieval.

These are the lexical half of a training-data pipeline: PMI collocations
feed tokenizer/vocab construction, posting lists serve keyword retrieval.
All are pure DataFrame compositions — tokenize at scan, one narrow
aggregate per statistic, scalar corpus stats carried via a broadcast 1-row
join (never ``collect``). Float parity with the DuckDB oracle follows the
repo rule: exact integer counts, one final float op, floor-truncated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import whitespace_tokens
from .dedup import normalize_text


def pmi_bigrams(docs: DataFrame, min_count: int = 5, k: int = 100,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-k collocations by pointwise mutual information.

    PMI(a,b) = ln( c_ab · Nu² / (Nb · c_a · c_b) ) over positional unigram
    counts ``c_*`` (Nu = total unigrams, Nb = total bigrams). All counts are
    exact integers; the only float op is the final ln over one
    double-division chain mirrored verbatim in the oracle, then
    floor-truncated to 4 dp.

    The bigram array is built per-row with higher-order array functions —
    zero shuffle until the count aggregates. Unigram/bigram total counts are
    1-row aggregates broadcast into the scorer.
    """
    toks = whitespace_tokens(normalize_text(F.col(text_col)))
    toked = docs.select(F.col(id_col), toks.alias("toks"))
    uni = (
        toked.select(F.explode("toks").alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    )
    bigram_arr = F.expr(
        "filter(transform(toks, (t, i) -> "
        "IF(i < size(toks) - 1, concat(t, ' ', element_at(toks, i + 2)), NULL)"
        "), x -> x IS NOT NULL)"
    )
    bi = (
        toked.select(F.explode(bigram_arr).alias("bigram"))
        .groupBy("bigram").agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    totals = (
        toked.agg(
            F.sum(F.size("toks")).alias("nu"),
            F.sum(F.greatest(F.size("toks") - 1, F.lit(0))).alias("nb"),
        )
    )
    parts = F.split(F.col("bigram"), " ")
    scored = (
        bi.withColumn("tok_a", parts.getItem(0))
        .withColumn("tok_b", parts.getItem(1))
        .join(F.broadcast(uni.selectExpr("tok AS tok_a", "c AS c_a")), "tok_a")
        .join(F.broadcast(uni.selectExpr("tok AS tok_b", "c AS c_b")), "tok_b")
        .join(F.broadcast(totals))
        .select(
            "bigram",
            F.col("c_ab"),
            (
                F.floor(
                    F.log(
                        (F.col("c_ab").cast("double")
                         * F.col("nu").cast("double")
                         * F.col("nu").cast("double"))
                        / (F.col("nb").cast("double")
                           * F.col("c_a").cast("double")
                           * F.col("c_b").cast("double"))
                    )
                    * F.lit(10000.0)
                )
                / F.lit(10000.0)
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("bigram")).limit(k)


def pmi_oracle_sql(min_count: int, k: int, toks_expr: str) -> str:
    """DuckDB oracle for :func:`pmi_bigrams` (lead-window bigrams)."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({toks_expr}) AS tok,
         generate_subscripts({toks_expr}, 1) AS pos
  FROM documents
),
uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
big AS (
  SELECT tok || ' ' || lead(tok) OVER w AS bigram,
         tok AS tok_a, lead(tok) OVER w AS tok_b
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok) OVER w IS NOT NULL
),
bi AS (
  SELECT bigram, tok_a, tok_b, count(*) AS c_ab FROM big GROUP BY 1, 2, 3
  HAVING count(*) >= {min_count}
),
totals AS (
  SELECT sum(len({toks_expr})) AS nu,
         sum(greatest(len({toks_expr}) - 1, 0)) AS nb
  FROM documents
)
SELECT bi.bigram, bi.c_ab,
       floor(ln((bi.c_ab::DOUBLE * t.nu::DOUBLE * t.nu::DOUBLE)
                / (t.nb::DOUBLE * a.c::DOUBLE * b.c::DOUBLE)) * 10000.0) / 10000.0 AS pmi
FROM bi
JOIN uni a ON bi.tok_a = a.tok
JOIN uni b ON bi.tok_b = b.tok
CROSS JOIN totals t
ORDER BY pmi DESC, bi.bigram LIMIT {k}
"""


def inverted_index(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", top_terms: int = 20,
                   postings_cap: int = 8) -> DataFrame:
    """Inverted-index build: (term, df, postings) for the ``top_terms``
    highest-df terms, postings capped to the ``postings_cap`` lowest doc ids.

    The index behind decontamination-by-retrieval and corpus search. Scale
    shape: the per-(doc, term) distinct and the df aggregate are plain hash
    shuffles on term; the postings ARRAY is bounded BEFORE collection — a
    row_number-over-term window (Spark compiles the rn≤cap filter to
    WindowGroupLimit, a per-partition top-k that never sorts whole posting
    lists) feeds collect_list, so no executor ever materializes an unbounded
    list for a stop-word term. Full postings at 100 TB would stay exploded
    as (term, doc_id) rows — the capped array form here is the index-summary
    artifact.
    """
    from pyspark.sql import Window

    toks = whitespace_tokens(normalize_text(F.col(text_col)))
    dt = docs.select(F.col(id_col), F.explode(toks).alias("term")).distinct()
    dfs = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("term").orderBy(id_col)
    capped = (
        dt.select("term", id_col, F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= postings_cap)
        .groupBy("term")
        .agg(F.sort_array(F.collect_list(id_col)).alias("postings"))
    )
    return (
        dfs.join(capped, "term")
        .orderBy(F.col("df").desc(), "term")
        .limit(top_terms)
    )


def conjunctive_topdf_query(docs: DataFrame, ranks: tuple[int, ...] = (2, 3),
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Conjunctive (AND) retrieval via posting intersection, with the query
    terms picked data-dependently: the terms at df ranks ``ranks`` (df desc,
    term asc — deterministic in both engines, no fixture-term hardcoding).

    The picked-term table is a ≤|ranks|-row broadcast; the intersection is
    one semi-ish equi-join plus a per-doc count — the AND of posting lists
    without ever materializing them. The df-rank is a distributed
    TakeOrderedAndProject of the top-``max(ranks)`` terms (not a global
    row_number window over the whole vocabulary, whose Sort is a
    single-partition exchange);
    ranks within that ≤max(ranks)-row cached frame come from a broadcast
    ordering self-join, not a window.
    """
    toks = whitespace_tokens(normalize_text(F.col(text_col)))
    dt = docs.select(F.col(id_col), F.explode(toks).alias("term")).distinct()
    dfs = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    top = dfs.orderBy(F.col("df").desc(), "term").limit(max(ranks)).cache()
    t2 = top.select(F.col("df").alias("df2"), F.col("term").alias("term2"))
    pick = (
        top.join(
            F.broadcast(t2),
            (F.col("df2") > F.col("df"))
            | ((F.col("df2") == F.col("df")) & (F.col("term2") <= F.col("term"))),
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("rk"))
        .filter(F.col("rk").isin(*ranks))
        .select("term")
    )
    return (
        dt.join(F.broadcast(pick), "term")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_terms"))
        .filter(F.col("n_terms") == len(ranks))
        .select(id_col)
    )

"""SQL fragments and frame helpers shared by several plan modules: the
parallel ``documents``/``embeddings`` readers, the capstones'
materialize-once point, and the DuckDB CTEs of the oracle's shingle,
MinHash-band and bucketed-kNN chains.
"""

from __future__ import annotations

from ..io import ensure_parallelism, load_table
from ..operators import dedup


def _docs_par(spark, sf_dir):
    """documents with scan parallelism restored — the fixture file is one
    row group (1-task scan), which serializes the CPU-heavy shingle/signature
    stages; no-op at real scale (io.ensure_parallelism)."""
    return ensure_parallelism(spark, load_table(spark, sf_dir, "documents"), "doc_id")


def _materialize(df):
    """Materialize-once point for a multi-consumer capstone frame:
    ``localCheckpoint(eager=False)``, which under AQE materializes at
    DataFrame-construction time. Downstream plans see an O(1) RDD leaf, so
    Catalyst stops re-analyzing the registry's widest trees per action. It
    measured equal or better, cold and warm, than plain ``cache()`` and
    ``operators.graph.lazy_checkpoint`` (BENCHNOTES.md, "Capstone
    materialization modes"). tools/audit_plans.py patches this function to
    the identity so the plan audit sees the full construction lineage.

    Lifetime: localCheckpoint blocks are not registered with the
    CacheManager, so ``spark.catalog.clearCache()`` alone does not free
    them. ``io.query_scope`` releases them with the query's caches when it
    exits; the frame cannot be read after that.

    Fault-tolerance note (guide §5): localCheckpoint trades the
    intermediates' recomputability for speed — an executor loss mid-query
    fails the job instead of recomputing. A cluster deployment with
    unreliable executors should persist these frames to durable storage
    (parquet checkpoint between curation stages) instead; this local
    stand-in models that materialization boundary.
    """
    return df.localCheckpoint(eager=False)


def _embs_par(spark, sf_dir):
    """embeddings with scan parallelism restored (see _docs_par)."""
    return ensure_parallelism(spark, load_table(spark, sf_dir, "embeddings"), "vec_id")


# shared SQL fragments --------------------------------------------------------
_TOKS = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')"
_RAW_TOKS = r"list_filter(string_split_regex(text, '\s+'), t -> t <> '')"
_PHASH = "(('0x' || substr(md5({x}), 1, 15)))::BIGINT"
# 13 consecutive tokens of ``toks`` from position i, space-joined
_GRAM13 = " || ' ' || ".join(f"toks[i+{j}]" for j in range(13))


def _shingles_cte(src: str = "documents") -> str:
    return rf"""
toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM {src}
),
sh AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 2) OVER w IS NOT NULL
)
"""


def _minhash_band_ctes() -> str:
    """hashed → seeded → banded over ``sh``: 16 MinHashes per doc in 4
    bands of 4, the SQL twin of ``dedup.doc_bands``."""
    return """
hashed AS (
  SELECT doc_id, {base} AS hp FROM sh
),
seeded AS (
  SELECT doc_id, seed, min({value}) AS minhash
  FROM hashed CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
),
banded AS (
  SELECT doc_id, (seed // 4)::INT AS band,
         string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
  FROM seeded GROUP BY doc_id, band
)""".format(
        base=dedup.minhash_base_sql("shingle"),
        value=dedup.minhash_value_sql("seed", "hp"),
    )


def _minhash_lsh_ctes() -> str:
    """``_minhash_band_ctes`` → cand → sz → inter → verified, over ``sh``."""
    return _minhash_band_ctes() + """,
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
verified AS (
  SELECT i.doc_a, i.doc_b, floor((i.i * 1.0 / (x.sz + y.sz - i.i)) * 10000) / 10000 AS jaccard
  FROM inter i
  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
)
"""


_SHINGLES_CTE = _shingles_cte()


def _side_shingles_cte(tag: str, pred: str) -> str:
    return rf"""
{tag}_toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents WHERE {pred}
),
{tag}_sh AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
  FROM {tag}_toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 2) OVER w IS NOT NULL
)"""


_EN_STOP_SQL = "['the', 'and', 'of', 'to', 'in', 'is', 'a', 'that']"
# per-language keep rates of ``text.stratified_sample``
_MIX_RATES = {"en": 1.0, "de": 0.5, "es": 0.5, "fr": 0.25, "zh": 0.75}
# the probe vectors of the ANN queries and the query terms of the BM25 ones
_QUERY_IDS = (0, 1, 2)
_BM25_TERMS = ("spark", "join", "window")


# bucketed k-NN: 6 sign bits per vector, top-3 in-bucket cosine neighbors
_KNN_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{d + 1}] > 0 THEN {1 << d} ELSE 0 END)" for d in range(6)
)


_KNN_CTES = f"""
b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, ({_KNN_BUCKET_SQL})::BIGINT AS bucket
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS src, c.vec_id AS dst,
         floor(list_cosine_similarity(a.v, c.v) * 10000) / 10000 AS cos_sim
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
),
top AS (
  SELECT src, dst, cos_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rk
    FROM pairs
  ) WHERE rk <= 3
)"""


# verified near-duplicate pairs (Jaccard >= 0.5): the oracle's near_dup_chain
_PAIRS_CTES = f"""{_shingles_cte()},
{_minhash_lsh_ctes()},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5)"""

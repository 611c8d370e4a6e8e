"""Vector queries over the ``embeddings`` table: embedding statistics,
exact and approximate nearest neighbours (cosine top-k, IVF, sign-LSH,
product quantization), ANN recall audits, retrieval (inverted index,
posting intersection, rank fusion), coreset selection and
embedding-space outliers.

Each Spark pipeline has a semantically identical DuckDB oracle built on
the same portable md5-derived hash (functions.hashing) and the same
integer/floor grids, so even MinHash/SimHash signatures hash-match.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup, similarity
from ..operators import retrieval as _retrieval
from . import QuerySpec
from .common import _BM25_TERMS, _docs_par, _embs_par, _QUERY_IDS, _TOKS


def q_embedding_stats(spark, sf_dir):
    """Embedding-column health screen (the vector analog of token_stats):
    per label, count, zero-vector count, and min/mean/max L2 norm. Norms
    come from the same JVM fold the cosine path uses; each is floored to
    the 1e-4 grid BEFORE the per-label aggregate so the mean is an exact
    integer sum + one division — no float-summation drift. One narrow
    aggregate, no shuffle beyond it."""
    e = _embs_par(spark, sf_dir)
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    norm_u = F.floor(F.sqrt(sq) * 10000).cast("bigint")
    base = e.select("label", norm_u.alias("nu"))
    return base.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("nu") == 0).cast("bigint")).alias("n_zero"),
        (F.min("nu") / 10000.0).alias("min_norm"),
        (F.expr("(sum(nu)) div count(1)") / 10000.0).alias("mean_norm"),
        (F.max("nu") / 10000.0).alias("max_norm"),
    )


ORACLE_EMBEDDING_STATS = """
WITH base AS (
  SELECT label,
         floor(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) * 10000)::BIGINT AS nu
  FROM embeddings
)
SELECT label, count(*) AS n,
       sum(CASE WHEN nu = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
       min(nu) / 10000.0 AS min_norm,
       (sum(nu) // count(*)) / 10000.0 AS mean_norm,
       max(nu) / 10000.0 AS max_norm
FROM base GROUP BY 1
"""


def q_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-10 for 3 query vectors (broadcast the
    queries, JVM-side fold for the dot product, partial top-k per partition)."""
    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return similarity.brute_force_topk(e, q, k=10)


ORACLE_COSINE_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN {_QUERY_IDS}
),
scored AS (
  SELECT q.query_id, c.vec_id,
         floor((list_cosine_similarity(c.embedding::DOUBLE[], q.qv)) * 10000) / 10000 AS cos_sim
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT query_id, vec_id, cos_sim FROM ranked WHERE rk <= 10
"""


# ---------------------------------------------------------------- sign-LSH ANN
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{d + 1}] > 0 THEN {1 << d} ELSE 0 END)" for d in range(8)
)


def q_ann_lsh(spark, sf_dir):
    """Bucketed ANN: sign-LSH (8 leading dims) prunes candidates, cosine
    ranks within the query's bucket — the partition-prunable scale path."""
    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return similarity.lsh_topk(e, q, k=10, dims=8)


def q_ann_ivf(spark, sf_dir):
    """IVF ANN: 16 deterministic seed centroids (lowest vec_ids), max-cosine
    inverted-list assignment, probe the 4 nearest lists per query — the
    write-time-partitionable scale path (corpus stored by list_id ⇒ probes
    partition-prune)."""
    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return similarity.ivf_topk(e, q, k=10, n_centroids=16, n_probe=4)


ORACLE_ANN_IVF = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
assigned AS (
  SELECT vec_id, embedding, cid AS list_id FROM (
    SELECT c.vec_id, c.embedding, cents.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY floor((list_cosine_similarity(c.embedding::DOUBLE[], cents.cvec)) * 1000000) / 1000000 DESC,
                      cents.cid) AS rk
    FROM embeddings c CROSS JOIN cents
  ) WHERE rk = 1
),
probes AS (
  SELECT query_id, qv, cid AS list_id FROM (
    SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qv, cents.cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY floor((list_cosine_similarity(q.embedding::DOUBLE[], cents.cvec)) * 1000000) / 1000000 DESC,
                      cents.cid) AS rk
    FROM embeddings q CROSS JOIN cents
    WHERE q.vec_id IN {_QUERY_IDS}
  ) WHERE rk <= 4
),
scored AS (
  SELECT p.query_id, a.vec_id,
         floor((list_cosine_similarity(a.embedding::DOUBLE[], p.qv)) * 10000) / 10000 AS cos_sim
  FROM assigned a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT query_id, vec_id, cos_sim FROM ranked WHERE rk <= 10
"""


def q_ann_recall(spark, sf_dir):
    """ANN index quality metric: recall@10 of the IVF probe against the
    exact brute-force top-10, per query vector — the standard accuracy gauge
    for an approximate index (run at a sampled query set in production; the
    sample IS this query shape). Join on (query_id, vec_id), count hits;
    integer hits, recall = hits/10 computed identically in both engines."""
    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS))
    exact = similarity.brute_force_topk(e, q, k=10).select("query_id", "vec_id")
    ivf = (
        similarity.ivf_topk(e, q, k=10, n_centroids=16, n_probe=4)
        .select("query_id", "vec_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(ivf, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            (F.count("_hit") / 10.0).alias("recall_at_10"),
        )
    )


ORACLE_ANN_RECALL = f"""
WITH exact AS ({ORACLE_COSINE_TOPK}),
ivf AS ({ORACLE_ANN_IVF})
SELECT e.query_id, count(i.vec_id) AS n_hits,
       count(i.vec_id) / 10.0 AS recall_at_10
FROM exact e
LEFT JOIN ivf i ON e.query_id = i.query_id AND e.vec_id = i.vec_id
GROUP BY 1
"""


def q_ann_ivf_lloyd(spark, sf_dir):
    """IVF with one Lloyd refinement: seed → assign → componentwise-mean
    centroids (floor-truncated 1e-6) → reassign → probe. The iterative
    index build expressed entirely in DataFrame ops."""
    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return similarity.ivf_topk(e, q, k=10, n_centroids=16, n_probe=4, lloyd_iters=1)


ORACLE_ANN_IVF_LLOYD = f"""
WITH cents0 AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
assigned0 AS (
  SELECT vec_id, embedding, cid AS list_id FROM (
    SELECT c.vec_id, c.embedding, cents0.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY floor((list_cosine_similarity(c.embedding::DOUBLE[], cents0.cvec)) * 1000000) / 1000000 DESC,
                      cents0.cid) AS rk
    FROM embeddings c CROSS JOIN cents0
  ) WHERE rk = 1
),
comps AS (
  SELECT list_id, gs.i AS pos, embedding[gs.i + 1]::DOUBLE AS val
  FROM assigned0 CROSS JOIN (SELECT unnest(range(0, 64)) AS i) gs
  WHERE gs.i < len(embedding)
),
cents1 AS (
  SELECT list_id AS cid,
         list(cval ORDER BY pos) AS cvec
  FROM (
    SELECT list_id, pos, floor(sum(val) / count(*) * 1e6) / 1e6 AS cval
    FROM comps GROUP BY list_id, pos
  ) GROUP BY list_id
),
assigned1 AS (
  SELECT vec_id, embedding, cid AS list_id FROM (
    SELECT c.vec_id, c.embedding, cents1.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY floor((list_cosine_similarity(c.embedding::DOUBLE[], cents1.cvec)) * 1000000) / 1000000 DESC,
                      cents1.cid) AS rk
    FROM embeddings c CROSS JOIN cents1
  ) WHERE rk = 1
),
probes AS (
  SELECT query_id, qv, cid AS list_id FROM (
    SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qv, cents1.cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY floor((list_cosine_similarity(q.embedding::DOUBLE[], cents1.cvec)) * 1000000) / 1000000 DESC,
                      cents1.cid) AS rk
    FROM embeddings q CROSS JOIN cents1
    WHERE q.vec_id IN {_QUERY_IDS}
  ) WHERE rk <= 4
),
scored AS (
  SELECT p.query_id, a.vec_id,
         floor((list_cosine_similarity(a.embedding::DOUBLE[], p.qv)) * 10000) / 10000 AS cos_sim
  FROM assigned1 a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT query_id, vec_id, cos_sim FROM ranked WHERE rk <= 10
"""


ORACLE_ANN_LSH = f"""
WITH b AS (
  SELECT vec_id, embedding, ({_BUCKET_SQL})::BIGINT AS bucket FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, bucket
  FROM b WHERE vec_id IN {_QUERY_IDS}
),
scored AS (
  SELECT q.query_id, c.vec_id,
         floor((list_cosine_similarity(c.embedding::DOUBLE[], q.qv)) * 10000) / 10000 AS cos_sim
  FROM b c JOIN q ON c.bucket = q.bucket
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT query_id, vec_id, cos_sim FROM ranked WHERE rk <= 10
"""


# ---------------------------------------------------------------- embedding near-dup
def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (≥ 0.35 on this corpus), sign-bucket
    pruned then exact-verified."""
    e = _embs_par(spark, sf_dir)
    return similarity.embedding_near_dup_pairs(e, threshold=0.35, dims=8)


ORACLE_EMB_NEAR_DUP = f"""
WITH b AS (
  SELECT vec_id, embedding, ({_BUCKET_SQL})::BIGINT AS bucket FROM embeddings
)
SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
       floor((list_cosine_similarity(a.embedding::DOUBLE[], b2.embedding::DOUBLE[])) * 10000) / 10000 AS cos_sim
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE floor((list_cosine_similarity(a.embedding::DOUBLE[], b2.embedding::DOUBLE[])) * 10000) / 10000 >= 0.35
"""


# ---------------------------------------------------------------- SemDeDup
def q_semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (Abbas et al. 2023): embedding-cosine
    near-dup pairs (sign-bucket pruned, exact-verified at cos ≥ 0.35 on
    this corpus) → connected components → keep the min-id member per
    cluster. One row per SURVIVOR with its cluster size (1 = unpaired).
    Scale: pair generation is per-bucket (never all-pairs), the CC label
    table holds only paired vectors, survivors come from one anti-join."""
    e = _embs_par(spark, sf_dir)
    pairs = similarity.embedding_near_dup_pairs(e, threshold=0.35, dims=8).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    clusters = dedup.connected_components(pairs).cache()
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    keep = (
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .select(F.col("cluster_id").alias("keep_id"), "cluster_size")
    )
    unpaired = (
        e.select("vec_id")
        .join(clusters.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_anti")
        .select(
            F.col("vec_id").alias("keep_id"),
            F.lit(1).cast("bigint").alias("cluster_size"),
        )
    )
    return keep.unionByName(unpaired)


ORACLE_SEMDEDUP = f"""
WITH RECURSIVE b AS (
  SELECT vec_id, embedding, ({_BUCKET_SQL})::BIGINT AS bucket FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
  WHERE floor((list_cosine_similarity(a.embedding::DOUBLE[], b2.embedding::DOUBLE[])) * 10000) / 10000 >= 0.35
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clus AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM clus GROUP BY 1)
SELECT cluster_id AS keep_id, cluster_size::BIGINT AS cluster_size FROM sizes
UNION ALL
SELECT vec_id AS keep_id, 1::BIGINT AS cluster_size FROM embeddings
WHERE vec_id NOT IN (SELECT doc_id FROM clus)
"""


# ------------------------------------------------- product quantization ANN
def q_pq_ann(spark, sf_dir):
    """PQ asymmetric-distance top-10 for the 3 query vectors: 8 subspaces x
    16 codewords seeded from the lowest vec_ids; scoring touches only the
    32x-compressed code table plus a broadcast query-to-codeword distance
    evaluation."""
    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return similarity.pq_adc_topk(e, q, k=10)


def _pq_d2_sql(a: str, b: str, s: str) -> str:
    """Subspace-s squared L2 between 64-dim arrays, ascending-component fold,
    floored to 1e-6 — textually mirrors similarity._sub_d2."""
    return f"({_pq_d2_micro_sql(a, b, s)} / 1e6)"


def _pq_d2_micro_sql(a: str, b: str, s: str) -> str:
    """Same distance in integer micro-units (floor(raw * 1e6) as BIGINT) —
    mirrors similarity._sub_d2_micro, so the cross-subspace ADC sum is an
    exact integer sum in both engines regardless of aggregation order."""
    return (
        f"floor(list_sum(list_transform(range(8), i -> "
        f"({a}[{s} * 8 + i + 1]::DOUBLE - {b}[{s} * 8 + i + 1]::DOUBLE)"
        f" * ({a}[{s} * 8 + i + 1]::DOUBLE - {b}[{s} * 8 + i + 1]::DOUBLE))) * 1e6)::BIGINT"
    )


ORACLE_PQ_ANN = rf"""
WITH cb AS (
  SELECT vec_id::INT AS cid, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
subs AS (SELECT unnest(range(8)) AS s),
d AS (
  SELECT e.vec_id, subs.s, cb.cid,
         {_pq_d2_sql('e.embedding', 'cb.cvec', 'subs.s')} AS d2
  FROM embeddings e CROSS JOIN subs CROSS JOIN cb
),
codes AS (
  SELECT vec_id, s, cid
  FROM (SELECT vec_id, s, cid,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
        FROM d)
  WHERE rk = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec
  FROM embeddings WHERE vec_id IN {_QUERY_IDS}
),
adc AS (
  SELECT q.query_id, c.vec_id,
         sum({_pq_d2_micro_sql('q.qvec', 'cb.cvec', 'c.s')}) AS approx_micro
  FROM codes c
  JOIN cb ON cb.cid = c.cid
  CROSS JOIN q
  WHERE c.vec_id <> q.query_id
  GROUP BY q.query_id, c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, floor(approx_micro * 1.0 / 100) / 10000 AS approx_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY floor(approx_micro * 1.0 / 100) / 10000, vec_id) AS rk
  FROM adc
)
SELECT query_id, vec_id, approx_d2 FROM ranked WHERE rk <= 10
"""


# ---------------------------------------------------- random projection (JL)
def q_rp_project(spark, sf_dir):
    """Sign random projection 64 -> 16 dims (database-friendly JL transform):
    deterministic ±1 matrix from the portable hash, components quantized to
    milli-units so every projection is an exact bigint sum."""
    e = _embs_par(spark, sf_dir)
    packed = similarity.packed_projection_dirs(spark)
    return similarity.random_projection(e, packed=packed)


_RP_SIGN = "((('0x' || substr(md5('rp:' || r::VARCHAR || ':' || j::VARCHAR), 1, 15))::BIGINT % 2) * 2 - 1)"


ORACLE_RP_PROJECT = rf"""
WITH signs AS (
  SELECT r, j, {_RP_SIGN}::INT AS sign
  FROM (SELECT unnest(range(16))::INT AS r) rr
  CROSS JOIN (SELECT unnest(range(64))::INT AS j) jj
),
comps AS (
  SELECT vec_id, (generate_subscripts(embedding, 1) - 1)::INT AS j,
         floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS milli
  FROM embeddings
)
SELECT c.vec_id, s.r, sum(s.sign * c.milli)::BIGINT AS proj_milli
FROM comps c JOIN signs s ON c.j = s.j
GROUP BY c.vec_id, s.r
"""


def q_pq_recall(spark, sf_dir):
    """PQ index-quality audit: recall@10 of the ADC top-10 against the EXACT
    squared-L2 top-10 (same integer micro-unit grid) for the 3 query
    vectors — the acceptance number you track when tuning n_sub/n_codes.
    The exact side is query-set-bounded (3 broadcast rows x corpus), never
    corpus x corpus."""
    from ..operators.similarity import _sub_d2_micro
    from pyspark.sql import Window

    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS))
    pq = similarity.pq_adc_topk(e, q, k=10)
    qq = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    exact_micro = None
    for sub in range(8):
        t = _sub_d2_micro(F.col("qvec"), F.col("embedding"), sub, 8)
        exact_micro = t if exact_micro is None else exact_micro + t
    scored = e.join(F.broadcast(qq), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", exact_micro.alias("d2_micro")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2_micro").asc(), F.col("vec_id"))
    exact = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 10)
        .select("query_id", "vec_id")
    )
    hits = pq.join(exact, ["query_id", "vec_id"], "left_semi")
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) * 100).cast("bigint").alias("recall_milli"),
        )
    )


def _pq_exact_micro_sql(a: str, b: str) -> str:
    return " + ".join(_pq_d2_micro_sql(a, b, str(s_)) for s_ in range(8))


ORACLE_PQ_RECALL = rf"""
WITH cb AS (
  SELECT vec_id::INT AS cid, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
subs AS (SELECT unnest(range(8)) AS s),
d AS (
  SELECT e.vec_id, subs.s, cb.cid,
         {_pq_d2_micro_sql('e.embedding', 'cb.cvec', 'subs.s')} AS d2m
  FROM embeddings e CROSS JOIN subs CROSS JOIN cb
),
codes AS (
  SELECT vec_id, s, cid
  FROM (SELECT vec_id, s, cid,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2m, cid) AS rk
        FROM d)
  WHERE rk = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec
  FROM embeddings WHERE vec_id IN {_QUERY_IDS}
),
adc AS (
  SELECT q.query_id, c.vec_id,
         sum({_pq_d2_micro_sql('q.qvec', 'cb.cvec', 'c.s')}) AS approx_micro
  FROM codes c JOIN cb ON cb.cid = c.cid CROSS JOIN q
  WHERE c.vec_id <> q.query_id
  GROUP BY q.query_id, c.vec_id
),
pq_top AS (
  SELECT query_id, vec_id
  FROM (SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY floor(approx_micro * 1.0 / 100) / 10000, vec_id) AS rk
        FROM adc)
  WHERE rk <= 10
),
exact AS (
  SELECT q.query_id, e.vec_id,
         ({_pq_exact_micro_sql('q.qvec', 'e.embedding')}) AS d2_micro
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
exact_top AS (
  SELECT query_id, vec_id
  FROM (SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id ORDER BY d2_micro, vec_id) AS rk
        FROM exact)
  WHERE rk <= 10
)
SELECT x.query_id,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       (coalesce(h.n_hits, 0) * 100)::BIGINT AS recall_milli
FROM (SELECT query_id, count(*) AS n FROM exact_top GROUP BY 1) x
LEFT JOIN (
  SELECT p.query_id, count(*) AS n_hits
  FROM pq_top p JOIN exact_top t ON p.query_id = t.query_id AND p.vec_id = t.vec_id
  GROUP BY 1
) h ON x.query_id = h.query_id
"""


# ----------------------------------------------- inverted index + retrieval
def q_inverted_index(spark, sf_dir):
    """Inverted-index build (operators/retrieval.inverted_index): top-20
    highest-df terms with df and the 8 lowest doc ids as a capped posting
    array — postings are bounded BEFORE collection via a WindowGroupLimit
    top-k per term, never an unbounded collect_list."""
    return _retrieval.inverted_index(_docs_par(spark, sf_dir))


ORACLE_INVERTED_INDEX = f"""
WITH dt AS (SELECT DISTINCT doc_id, unnest({_TOKS}) AS term FROM documents),
dfs AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
capped AS (
  SELECT term, doc_id,
         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
  FROM dt
),
p AS (
  SELECT term, list(doc_id ORDER BY doc_id) AS postings
  FROM capped WHERE rn <= 8 GROUP BY 1
)
SELECT d.term, d.df::BIGINT AS df, p.postings
FROM dfs d JOIN p USING (term)
ORDER BY df DESC, term LIMIT 20
"""


def q_index_intersect(spark, sf_dir):
    """Conjunctive (AND) retrieval by posting intersection
    (operators/retrieval.conjunctive_topdf_query): query terms picked
    data-dependently as df-ranks 2 and 3, so no fixture terms are
    hardcoded; the picked-term table is a 2-row broadcast."""
    return _retrieval.conjunctive_topdf_query(_docs_par(spark, sf_dir), ranks=(2, 3))


ORACLE_INDEX_INTERSECT = f"""
WITH dt AS (SELECT DISTINCT doc_id, unnest({_TOKS}) AS term FROM documents),
dfs AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
pick AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rk FROM dfs
  ) WHERE rk IN (2, 3)
)
SELECT d.doc_id
FROM dt d JOIN pick USING (term)
GROUP BY 1 HAVING count(*) = 2
"""


# ---------------------------------------------------------------- drift + boilerplate
def q_embedding_drift(spark, sf_dir):
    """Embedding-space drift monitor: per-dimension mean shift between the
    even-id (base snapshot) and odd-id (candidate snapshot) cohorts, top-8
    dims by cross-multiplied |mean difference| — pure integer parity
    (milli-quantized components, order-free bigint sums, no division)."""
    e = _embs_par(spark, sf_dir)
    return similarity.embedding_drift(e, top_k=8)


ORACLE_EMBEDDING_DRIFT = """
WITH el AS (
  SELECT (vec_id % 2 = 0) AS is_base,
         (generate_subscripts(embedding, 1) - 1)::INT AS dim,
         floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS milli
  FROM embeddings
),
agg AS (
  SELECT dim,
         count(*) FILTER (is_base) AS cnt_a,
         count(*) FILTER (NOT is_base) AS cnt_b,
         sum(CASE WHEN is_base THEN milli ELSE 0 END) AS sum_a,
         sum(CASE WHEN NOT is_base THEN milli ELSE 0 END) AS sum_b
  FROM el GROUP BY dim
)
SELECT dim, cnt_a, cnt_b, sum_a, sum_b,
       abs(sum_a * cnt_b - sum_b * cnt_a) AS drift_num
FROM agg
ORDER BY drift_num DESC, dim
LIMIT 8
"""


# ---------------------------------------------------------------- MMR rerank
def q_mmr_rerank(spark, sf_dir):
    """MMR diverse top-6 from 16 relevance candidates per query (λ=0.5 on
    the exact decimilli grid) — the post-ANN redundancy-removal rerank."""
    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return similarity.mmr_rerank(
        e, q, k_candidates=16, k_select=6, n_queries=len(_QUERY_IDS)
    )


def _mmr_oracle(k_candidates: int = 16, k_select: int = 6) -> str:
    """Unrolled greedy-MMR CTE chain — the selection loop is inherently
    sequential in rank, so the oracle unrolls k_select−1 identical steps."""
    head = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN {_QUERY_IDS}
),
scored AS (
  SELECT q.query_id, c.vec_id, c.embedding::DOUBLE[] AS cv,
         floor(list_cosine_similarity(c.embedding::DOUBLE[], q.qv) * 10000)::BIGINT AS rel
  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id
),
cand AS (
  SELECT query_id, vec_id, cv, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rk
    FROM scored
  ) WHERE rk <= {k_candidates}
),
pw AS (
  SELECT a.query_id, a.vec_id AS cand_id, b.vec_id AS other_id,
         floor(list_cosine_similarity(a.cv, b.cv) * 10000)::BIGINT AS sim
  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
),
sel1 AS (
  SELECT query_id, 1 AS sel_rank, vec_id, rel * 2 AS mmr_score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rk
    FROM cand
  ) WHERE rk = 1
)"""
    steps = []
    for i in range(2, k_select + 1):
        prev = f"sel{i - 1}"
        steps.append(f""",
sel{i} AS (
  SELECT * FROM {prev}
  UNION ALL
  SELECT query_id, {i} AS sel_rank, vec_id, mmr_score FROM (
    SELECT s.query_id, s.vec_id, s.mmr_score,
           row_number() OVER (PARTITION BY s.query_id ORDER BY s.mmr_score DESC, s.vec_id) AS rk
    FROM (
      SELECT c.query_id, c.vec_id, c.rel * 2 - m.max_sim AS mmr_score
      FROM cand c
      JOIN (SELECT p.query_id, p.cand_id, max(p.sim) AS max_sim
            FROM pw p JOIN {prev} s ON p.query_id = s.query_id AND p.other_id = s.vec_id
            GROUP BY 1, 2) m
        ON c.query_id = m.query_id AND c.vec_id = m.cand_id
      WHERE NOT EXISTS (SELECT 1 FROM {prev} s2
                        WHERE s2.query_id = c.query_id AND s2.vec_id = c.vec_id)
    ) s
  ) WHERE rk = 1
)""")
    return head + "".join(steps) + f"\nSELECT query_id, sel_rank, vec_id, mmr_score FROM sel{k_select}"


ORACLE_MMR_RERANK = _mmr_oracle()


# ---------------------------------------------------------------- multiprobe LSH
def q_ann_multiprobe(spark, sf_dir):
    """Multi-probe sign-LSH ANN: home bucket + all hamming-1 buckets per
    query — the recall repair between x_ann_lsh (1 probe) and brute force."""
    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return similarity.lsh_multiprobe_topk(e, q, k=10, dims=8)


_MP_PROBES = ", ".join(["b.bucket"] + [f"xor(b.bucket, {1 << d})" for d in range(8)])


ORACLE_ANN_MULTIPROBE = f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, ({_BUCKET_SQL})::BIGINT AS bucket
  FROM embeddings
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, unnest([{_MP_PROBES}]) AS bucket
  FROM b WHERE vec_id IN {_QUERY_IDS}
),
scored AS (
  SELECT p.query_id, c.vec_id,
         floor(list_cosine_similarity(c.v, p.qv) * 10000) / 10000 AS cos_sim
  FROM b c JOIN probes p ON c.bucket = p.bucket
  WHERE c.vec_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT query_id, vec_id, cos_sim FROM ranked WHERE rk <= 10
"""


# ---------------------------------------------------------------- multiprobe recall audit
def q_multiprobe_recall(spark, sf_dir):
    """Recall@10 of the multi-probe sign-LSH ANN against exact brute
    force, per query — completing the recall-audit family (x_ann_recall
    for IVF, x_lsh_recall for MinHash banding, x_pq_recall for PQ): the
    number that justifies the hamming-1 fan-out's extra probe cost over
    x_ann_lsh's single bucket. Same join-count shape as x_ann_recall."""
    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS))
    exact = similarity.brute_force_topk(e, q, k=10).select("query_id", "vec_id")
    mp = (
        similarity.lsh_multiprobe_topk(e, q, k=10, dims=8)
        .select("query_id", "vec_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(mp, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            (F.count("_hit") / 10.0).alias("recall_at_10"),
        )
    )


ORACLE_MULTIPROBE_RECALL = f"""
WITH exact AS ({ORACLE_COSINE_TOPK}),
mp AS ({ORACLE_ANN_MULTIPROBE})
SELECT e.query_id, count(m.vec_id) AS n_hits,
       count(m.vec_id) / 10.0 AS recall_at_10
FROM exact e
LEFT JOIN mp m ON e.query_id = m.query_id AND e.vec_id = m.vec_id
GROUP BY 1
"""


# ----------------------------------------------------------------- DBSCAN
def q_dbscan(spark, sf_dir):
    """Density clustering with noise over the embedding corpus
    (operators/similarity.dbscan_2d): grid-cell DBSCAN on the
    deterministic 2-D sign projection — eps=150 milli, min_pts=4.  The
    oracle is an INDEPENDENT brute-force reimplementation (all-pairs
    neighbor counts + recursive reachability closure over core-core
    edges), so the grid-cell candidate pruning, the min-label component
    rounds, and the border-adoption rule are all what is being
    verified."""
    return similarity.dbscan_2d(_embs_par(spark, sf_dir), eps_milli=150, min_pts=4)


ORACLE_DBSCAN = rf"""
WITH RECURSIVE signs AS (
  SELECT r, j, {_RP_SIGN}::INT AS sign
  FROM (SELECT unnest(range(2))::INT AS r) rr
  CROSS JOIN (SELECT unnest(range(64))::INT AS j) jj
),
comps AS (
  SELECT vec_id, (generate_subscripts(embedding, 1) - 1)::INT AS j,
         floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS milli
  FROM embeddings
),
proj AS (
  SELECT c.vec_id, s.r, sum(s.sign * c.milli)::BIGINT AS p
  FROM comps c JOIN signs s ON c.j = s.j
  GROUP BY 1, 2
),
pts AS (
  SELECT vec_id,
         max(CASE WHEN r = 0 THEN p END) AS x,
         max(CASE WHEN r = 1 THEN p END) AS y
  FROM proj GROUP BY 1
),
nb AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM pts a JOIN pts b
    ON a.vec_id <> b.vec_id
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 22500
),
cnt AS (SELECT ia AS vec_id, count(*) AS n_nb FROM nb GROUP BY 1),
flags AS (
  SELECT p.vec_id, p.x, p.y, (coalesce(c.n_nb, 0) + 1 >= 4) AS is_core
  FROM pts p LEFT JOIN cnt c USING (vec_id)
),
core_edges AS (
  SELECT n.ia AS src, n.ib AS dst FROM nb n
  JOIN flags fa ON fa.vec_id = n.ia AND fa.is_core
  JOIN flags fb ON fb.vec_id = n.ib AND fb.is_core
),
reach(src, dst) AS (
  SELECT src, dst FROM core_edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN core_edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
core_clusters AS (
  SELECT f.vec_id, coalesce(c.cluster_id, f.vec_id) AS core_cluster
  FROM flags f LEFT JOIN comp c USING (vec_id)
  WHERE f.is_core
),
border AS (
  SELECT n.ia AS vec_id, min(cc.core_cluster) AS border_cluster
  FROM nb n
  JOIN flags fa ON fa.vec_id = n.ia AND NOT fa.is_core
  JOIN core_clusters cc ON cc.vec_id = n.ib
  GROUP BY 1
)
SELECT f.vec_id, f.x AS x_milli, f.y AS y_milli,
       CASE WHEN f.is_core THEN 'core'
            WHEN b.border_cluster IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       coalesce(cc.core_cluster, b.border_cluster, -1)::BIGINT AS cluster_id
FROM flags f
LEFT JOIN core_clusters cc USING (vec_id)
LEFT JOIN border b USING (vec_id)
"""


# ---------------------------------------------------------------- per-dimension embedding variance
def q_dim_variance(spark, sf_dir):
    """Per-DIMENSION variance profile of the embedding space — the
    embedding-quality audit that catches dead dimensions (var ~ 0: wasted
    capacity, a truncated-projection candidate) and rogue high-variance
    axes (normalization bugs) before any ANN index is built on them.

    Components quantize to the integer milli grid FIRST (the module's
    shared convention, cf. random_projection), so the moment sums are
    exact BIGINTs in any aggregation order. Variance then uses the
    truncated-moment form  smm DIV n - (sm DIV n)^2  rather than
    (n*smm - sm^2) DIV n^2: the latter is exact but its n*smm term
    overflows BIGINT near n ~ 1e4 rows x 1e6 milli^2, while the truncated
    form stays within 2^63 to n ~ 1e12 at the cost of a deterministic
    <= (1 + 2|mean_milli|) grid-unit truncation bias — identical in both
    engines, so parity is exact even though the estimator is grid-coarse.

    Scale shape: one posexplode (map-side) + one hash agg keyed by the
    64-value dim axis; output is 64 rows regardless of corpus size."""
    e = _embs_par(spark, sf_dir)
    comps = e.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select(
        "dim", F.floor(F.col("val").cast("double") * 1000).cast("bigint").alias("m")
    )
    return (
        comps.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("m").alias("sm"),
            F.sum(F.col("m") * F.col("m")).alias("smm"),
        )
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.col("n").cast("bigint").alias("n"),
            F.expr("CAST(sm DIV n AS BIGINT)").alias("mean_milli"),
            F.expr(
                "CAST(smm DIV n - (sm DIV n) * (sm DIV n) AS BIGINT)"
            ).alias("var_milli2"),
        )
    )


ORACLE_DIM_VARIANCE = """
WITH comps AS (
  SELECT (generate_subscripts(embedding, 1) - 1)::BIGINT AS dim,
         floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS m
  FROM embeddings
),
agg AS (
  SELECT dim, count(*)::BIGINT AS n, sum(m)::BIGINT AS sm,
         sum(m * m)::BIGINT AS smm
  FROM comps GROUP BY 1
)
SELECT dim, n, (sm // n)::BIGINT AS mean_milli,
       (smm // n - (sm // n) * (sm // n))::BIGINT AS var_milli2
FROM agg
"""


# ---------------------------------------------------------------- centroid-distance outliers
def q_centroid_outliers(spark, sf_dir):
    """Global-centroid outlier screen: the 20 vectors farthest (squared
    L2, exact BIGINT on the milli grid) from the corpus centroid — the
    cheap first-pass embedding-space prune (mislabeled scrapes, encoder
    failures, empty-input vectors all land in the far tail) that runs
    before any cluster-relative screen (x_cluster_stats) is affordable.

    The centroid is the per-dimension MEAN on the milli grid (integer
    DIV — the same deterministic truncation both engines share), attached
    as a broadcast 64-row table; distance is one exact integer fold per
    vector. Top-20 via rank-free TakeOrdered (sort pushed to a
    TakeOrderedAndProject, never a global sort).

    Scale shape: one posexplode + 64-key hash agg for the centroid, one
    broadcast join back, one top-k. Map-reduce trivial at 100 TB."""
    e = _embs_par(spark, sf_dir)
    comps = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("val").cast("double") * 1000).cast("bigint").alias("m"),
    )
    centroid = comps.groupBy("dim").agg(
        F.expr("CAST(sum(m) DIV count(*) AS BIGINT)").alias("c")
    )
    dist = (
        comps.join(F.broadcast(centroid), "dim")
        .groupBy("vec_id")
        .agg(F.sum((F.col("m") - F.col("c")) * (F.col("m") - F.col("c"))).alias("d2"))
    )
    return (
        dist.select("vec_id", F.col("d2").cast("bigint").alias("dist2_milli2"))
        .orderBy(F.col("dist2_milli2").desc(), "vec_id")
        .limit(20)
    )


ORACLE_CENTROID_OUTLIERS = """
WITH comps AS (
  SELECT vec_id, (generate_subscripts(embedding, 1) - 1)::BIGINT AS dim,
         floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS m
  FROM embeddings
),
centroid AS (
  SELECT dim, (sum(m) // count(*))::BIGINT AS c FROM comps GROUP BY 1
),
dist AS (
  SELECT vec_id, sum((m - c) * (m - c))::BIGINT AS dist2_milli2
  FROM comps JOIN centroid USING (dim) GROUP BY 1
)
SELECT vec_id, dist2_milli2 FROM dist
ORDER BY dist2_milli2 DESC, vec_id LIMIT 20
"""


# ---------------------------------------------------------------- covariance / top-PC
_PCA_ITERS = 96


_PCA_SCALE = 1 << 20  # component scale kept through every normalization step


def q_embedding_cov(spark, sf_dir):
    """Upper-triangle covariance matrix of the embedding space on the
    exact milli^2 grid — the whitening / PCA / Mahalanobis substrate that
    x_dim_variance's diagonal-only profile can't provide (correlated
    redundant axes, anisotropy that distorts cosine ANN).

    cov = sij DIV n - (si DIV n)(sj DIV n): the same truncated-moment
    form as x_dim_variance (exact BIGINT in both engines; deterministic
    grid-unit truncation bias, identical on both sides).

    Scale shape: operators/similarity.embedding_gram computes a dim x dim
    partial gram per Arrow batch with one int64 matmul and emits a
    CONSTANT 2080 rows per batch — no 64x component explosion, no
    vec_id-keyed self-join (the naive SQL shape the ORACLE uses) — and the
    finishing hash-agg merges partials map-side: the only shuffle moves
    O(dim^2 * n_partitions) rows regardless of corpus size."""
    e = _embs_par(spark, sf_dir)
    return similarity.embedding_gram(e).select(
        F.col("i").cast("bigint").alias("i"),
        F.col("j").cast("bigint").alias("j"),
        F.col("n"),
        F.expr("CAST(sij DIV n - (si DIV n) * (sj DIV n) AS BIGINT)").alias(
            "cov_milli2"
        ),
    )


ORACLE_EMBEDDING_COV = """
WITH comps AS (
  SELECT vec_id, (generate_subscripts(embedding, 1) - 1)::BIGINT AS dim,
         floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS m
  FROM embeddings
),
gram AS (
  SELECT a.dim AS i, b.dim AS j, count(*)::BIGINT AS n,
         sum(a.m * b.m)::BIGINT AS sij,
         sum(a.m)::BIGINT AS si, sum(b.m)::BIGINT AS sj
  FROM comps a JOIN comps b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY 1, 2
)
SELECT i, j, n, (sij // n - (si // n) * (sj // n))::BIGINT AS cov_milli2
FROM gram
"""


def q_pca_power(spark, sf_dir):
    """Top principal component of the embedding corpus by power iteration
    in EXACT integer arithmetic, reported as a 16-bucket histogram of the
    per-vector PC1 projections — the one-pass anisotropy audit (a single
    dominant direction usually means an un-centered or mode-collapsed
    embedding model; a flat spectrum means healthy spread).

    Every arithmetic step — covariance on the milli^2 grid, iterate
    ``v <- (cov @ v) * 2^20 tdiv max|cov @ v|`` 96 times (the corpus is
    near-isotropic — eigengap ratio ~1.07 — so convergence needs ~90
    steps; each is a dim x dim matvec, trivial in both engines),
    sign-canonical
    flip, per-vector projection, bucket = (proj-min)*16 DIV (range+1) —
    is BIGINT mul/add plus truncate-toward-zero division, so the DuckDB
    oracle (the same iteration unrolled as 96 single-reference CTE steps)
    reproduces the histogram bit-for-bit regardless of convergence.

    Scale shape: the corpus is touched exactly twice — once by the
    Arrow-batched partial-gram pass (embedding_gram: constant 2080 rows
    out per batch), once by a shuffle-free JVM projection (zip_with
    against the broadcast-literal eigenvector; no explode, no join).
    The iteration itself runs on the collected dim x dim matrix — a
    BOUNDED aggregate constant in corpus size, the same driver-side class
    as the Lloyd centroid loop. BIGINT bound: |proj| <= dim * 4e3 * 2^20
    ~ 2.7e11, so sum(proj) per bucket is exact to ~3e7 vectors per
    bucket; past that, rescale the projection grid (proj DIV 2^10)
    before the mean — same convention as x_router_kappa's marginals."""
    e = _embs_par(spark, sf_dir)
    rows = similarity.embedding_gram(e).collect()  # dim*(dim+1)/2 rows, bounded
    if not rows:  # empty corpus: the oracle's terminal GROUP BY yields 0 rows
        return spark.createDataFrame(
            [], "bucket bigint, n_vecs bigint, mean_proj bigint"
        )
    cov = similarity.cov_matrix_from_gram(rows)
    v = similarity.power_iteration_top1(cov, iters=_PCA_ITERS, scale=_PCA_SCALE)
    varr = F.array(*[F.lit(int(x)) for x in v])
    proj_expr = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            varr,
            lambda x, w: F.floor(x.cast("double") * 1000).cast("bigint") * w,
        ),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )
    proj = e.select(proj_expr.alias("proj"))
    rng = proj.agg(F.min("proj").alias("pmin"), F.max("proj").alias("pmax"))
    return (
        proj.crossJoin(F.broadcast(rng))
        .select(
            F.expr("CAST((proj - pmin) * 16 DIV (pmax - pmin + 1) AS BIGINT)").alias(
                "bucket"
            ),
            "proj",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.expr("CAST(sum(proj) DIV count(1) AS BIGINT)").alias("mean_proj"),
        )
    )


def _pca_chain_ctes() -> str:
    """The shared CTE prefix (comps -> gram -> cov -> covfull -> v0 ->
    v96) for the power-iteration oracles: per step one matvec (join +
    group-by) with the max-|component| rescale as a whole-frame window
    aggregate, so each step references its predecessor exactly ONCE — a
    scalar-subquery normalizer would make DuckDB's CTE inlining double
    the plan per step (2^iters parquet scans; the first draft hit the
    open-file limit exactly that way). Every step is MATERIALIZED:
    inlining 96 nested join+window blocks sends DuckDB's optimizer
    super-linear (the un-materialized chain ran >2 min; materialized,
    0.7 s), and the shared frames get the same treatment."""
    steps = []
    for k in range(1, _PCA_ITERS + 1):
        steps.append(f"""
v{k} AS MATERIALIZED (
  SELECT i, (wv * {_PCA_SCALE} // greatest(max(abs(wv)) OVER (), 1))::BIGINT AS val
  FROM (
    SELECT cf.i, sum(cf.c * v.val)::BIGINT AS wv
    FROM covfull cf JOIN v{k - 1} v ON cf.j = v.i GROUP BY 1
  ) w{k}
)""")
    chain = ",".join(steps)
    return f"""comps AS MATERIALIZED (
  SELECT vec_id, (generate_subscripts(embedding, 1) - 1)::BIGINT AS dim,
         floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS m
  FROM embeddings
),
gram AS (
  SELECT a.dim AS i, b.dim AS j, count(*)::BIGINT AS n,
         sum(a.m * b.m)::BIGINT AS sij,
         sum(a.m)::BIGINT AS si, sum(b.m)::BIGINT AS sj
  FROM comps a JOIN comps b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY 1, 2
),
cov AS (
  SELECT i, j, (sij // n - (si // n) * (sj // n))::BIGINT AS c FROM gram
),
covfull AS MATERIALIZED (
  SELECT i, j, c FROM cov
  UNION ALL
  SELECT j AS i, i AS j, c FROM cov WHERE i < j
),
v0 AS (
  SELECT DISTINCT i, {_PCA_SCALE}::BIGINT AS val FROM covfull
),{chain}"""


def _oracle_pca_power() -> str:
    """PC1 projection histogram: the shared chain plus sign
    canonicalization, per-vector projection, and fixed-width buckets."""
    last = f"v{_PCA_ITERS}"
    return f"""
WITH {_pca_chain_ctes()},
lead_val AS (
  SELECT val FROM {last} ORDER BY abs(val) DESC, i ASC LIMIT 1
),
vfin AS (
  SELECT i, (CASE WHEN (SELECT val FROM lead_val) < 0 THEN -val ELSE val END)::BIGINT AS val
  FROM {last}
),
proj AS (
  SELECT c.vec_id, sum(c.m * vf.val)::BIGINT AS proj
  FROM comps c JOIN vfin vf ON c.dim = vf.i GROUP BY 1
),
rng AS (SELECT min(proj)::BIGINT AS pmin, max(proj)::BIGINT AS pmax FROM proj),
b AS (
  SELECT ((proj - pmin) * 16 // (pmax - pmin + 1))::BIGINT AS bucket, proj
  FROM proj, rng
)
SELECT bucket, count(*)::BIGINT AS n_vecs, (sum(proj) // count(*))::BIGINT AS mean_proj
FROM b GROUP BY 1
"""


def q_spectral_ratio(spark, sf_dir):
    """Spectral anisotropy index: the share of total variance carried by
    the top principal component, in ppm — the one-scalar headline the
    x_pca_power histogram expands on (a healthy embedding model spreads
    variance across dimensions: share ~ 1/dim; mode collapse or a missing
    centering step shows up as one dominant direction).

    lambda1 is estimated from the power iteration's own rescale factor:
    after a step, max|v| == 2^20 exactly, so max|cov @ v| DIV 2^20 is the
    max-norm Rayleigh quotient — one extra matvec, no new machinery, and
    |cov @ (-v)| == |cov @ v| so sign canonicalization cannot matter.
    trace is the covariance diagonal sum (>= 0 by the truncated-moment
    form's construction). share_ppm = lambda1 * 1e6 DIV max(trace, 1),
    guarded for the all-constant corpus both engines degenerate alike on.

    Scale shape: the corpus is touched ONCE (the Arrow-batched partial
    gram pass, constant 2080 rows out per batch); everything after runs
    on the collected dim x dim matrix — a bounded aggregate constant in
    corpus size, same driver-side class as x_pca_power's iteration."""
    e = _embs_par(spark, sf_dir)
    rows = similarity.embedding_gram(e).collect()  # dim*(dim+1)/2 rows, bounded
    if not rows:  # empty corpus: the oracle's bare scalar aggregates still
        # emit ONE row (NULL, NULL, NULL) — match it exactly
        return spark.createDataFrame(
            [(None, None, None)],
            "lambda1_milli2 bigint, trace_milli2 bigint, pc1_share_ppm bigint",
        )
    cov = similarity.cov_matrix_from_gram(rows)
    v = similarity.power_iteration_top1(cov, iters=_PCA_ITERS, scale=_PCA_SCALE)
    dim = len(cov)
    w = [sum(cov[i][j] * v[j] for j in range(dim)) for i in range(dim)]
    lam = similarity.tdiv(max(abs(x) for x in w), _PCA_SCALE)
    trace = sum(cov[i][i] for i in range(dim))
    share = similarity.tdiv(lam * 1_000_000, max(trace, 1))
    return spark.createDataFrame(
        [(int(lam), int(trace), int(share))],
        "lambda1_milli2 bigint, trace_milli2 bigint, pc1_share_ppm bigint",
    )


def _oracle_spectral_ratio() -> str:
    """The shared chain plus one extra matvec: lambda1 = max|cov@v96|
    DIV 2^20 (max|v96| == 2^20 exactly after the final rescale)."""
    last = f"v{_PCA_ITERS}"
    return f"""
WITH {_pca_chain_ctes()},
wlam AS MATERIALIZED (
  SELECT cf.i, sum(cf.c * v.val)::BIGINT AS wv
  FROM covfull cf JOIN {last} v ON cf.j = v.i GROUP BY 1
),
lam AS (SELECT (max(abs(wv)) // {_PCA_SCALE})::BIGINT AS l FROM wlam),
tr AS (SELECT sum(c)::BIGINT AS t FROM cov WHERE i = j)
SELECT l AS lambda1_milli2, t AS trace_milli2,
       (l * 1000000 // greatest(t, 1))::BIGINT AS pc1_share_ppm
FROM lam, tr
"""


# ---------------------------------------------------------------- diagonal-whitened outliers
def q_whiten_outliers(spark, sf_dir):
    """Top-20 outlier vectors under the DIAGONAL-whitened (per-dimension
    variance-standardized) distance — the Mahalanobis-diag companion to
    x_centroid_outliers' unscaled distance: a vector far out along a
    low-variance axis is anomalous even when its raw distance is modest,
    and a high-variance axis shouldn't dominate the score (the exact
    failure x_dim_variance's rogue-axis audit flags).

    Exact integer contract: per-dimension z² term =
    ((m_d - mean_d)^2 * 1000) DIV greatest(var_d, 1) with mean/var in the
    truncated-moment form shared with x_dim_variance; the per-term DIV is
    grid-coarse but identical in both engines, so the summed score and
    the (score DESC, vec_id ASC) top-20 match exactly. Dead dimensions
    (var 0) are guarded to divisor 1, which scores them harshly — the
    desired alarm, stated rather than accidental.

    Scale shape: one posexplode + 64-key hash-agg for the stats (bounded
    output), one broadcast join of those 64 rows back onto the exploded
    components, one vec_id hash-agg, TakeOrdered 20 (per-partition
    partial top-k + final merge — never a full sort)."""
    e = _embs_par(spark, sf_dir)
    comps = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("val").cast("double") * 1000).cast("bigint").alias("m"),
    )
    stats = comps.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m").alias("sm"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
    ).select(
        "dim",
        F.expr("CAST(sm DIV n AS BIGINT)").alias("mean_m"),
        F.expr(
            "CAST(greatest(smm DIV n - (sm DIV n) * (sm DIV n), 1) AS BIGINT)"
        ).alias("var_m"),
    )
    scored = (
        comps.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            F.expr(
                "CAST(((m - mean_m) * (m - mean_m) * 1000) DIV var_m AS BIGINT)"
            ).alias("t"),
        )
        .groupBy("vec_id")
        .agg(F.sum("t").alias("z2_milli"))
    )
    return scored.orderBy(F.col("z2_milli").desc(), "vec_id").limit(20)


ORACLE_WHITEN_OUTLIERS = """
WITH comps AS (
  SELECT vec_id, (generate_subscripts(embedding, 1) - 1)::BIGINT AS dim,
         floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS m
  FROM embeddings
),
stats AS (
  SELECT dim, (sum(m) // count(*))::BIGINT AS mean_m,
         greatest(sum(m * m) // count(*)
                  - (sum(m) // count(*)) * (sum(m) // count(*)), 1)::BIGINT AS var_m
  FROM comps GROUP BY 1
),
scored AS (
  SELECT c.vec_id,
         sum(((c.m - s.mean_m) * (c.m - s.mean_m) * 1000) // s.var_m)::BIGINT AS z2_milli
  FROM comps c JOIN stats s USING (dim)
  GROUP BY 1
)
SELECT vec_id, z2_milli FROM scored ORDER BY z2_milli DESC, vec_id LIMIT 20
"""


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive/retrieval training: for each
    of the 3 probe vectors, the top-5 most-similar vectors from a
    DIFFERENT class — the highest-value negatives (same-class neighbors
    would be false negatives; random negatives are too easy to teach
    anything). The exact-cosine form of the miner every embedding
    trainer runs between epochs; swap the brute scan for the IVF/LSH
    path (x_ann_ivf / x_ann_lsh) at corpus scale.

    Scale shape: broadcast the 3 probe vectors + labels, one corpus scan
    with a JVM-side cosine fold, per-probe top-k via a keyed window over
    the probe axis (3 keys). Same plan family as x_cosine_topk with the
    label-exclusion predicate pushed into the join."""
    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    scored = e.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") != F.col("qlabel")),
    ).select(
        "query_id",
        "vec_id",
        F.col("label").alias("neg_label"),
        (
            F.floor(similarity.cosine(F.col("embedding"), F.col("qvec")) * 10000)
            / 10000
        ).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 5)
        .drop("_rk")
    )


ORACLE_HARD_NEGATIVES = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
  FROM embeddings WHERE vec_id IN {_QUERY_IDS}
),
scored AS (
  SELECT q.query_id, c.vec_id, c.label AS neg_label,
         floor((list_cosine_similarity(c.embedding::DOUBLE[], q.qv)) * 10000) / 10000 AS cos_sim
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id AND c.label <> q.qlabel
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored
)
SELECT query_id, vec_id, neg_label, cos_sim FROM ranked WHERE rk <= 5
"""


# ---------------------------------------------------------------- label-retrieval MRR
def q_mrr_labels(spark, sf_dir):
    """Retrieval-quality eval against the embeddings' own class labels:
    for each query vector, rank the corpus by exact cosine and report the
    rank of the first SAME-LABEL neighbor (reciprocal rank on the 1e-6
    grid) plus precision@10 — the standard embedding-quality scorecard
    (MRR + P@k) run with labels as relevance judgments.

    Scale shape: |Q| broadcast query rows × corpus scan (the
    brute_force_topk shape — the ANN front-ends x_ann_* audit swap in
    here), ONE query-keyed ranking window, one aggregate. Nothing
    all-pairs."""
    from pyspark.sql import Window

    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "qlabel", "vec_id", "label",
        (F.floor(similarity.cosine(F.col("embedding"), F.col("qvec")) * 10000) / 10000).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    ranked = scored.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("query_id").agg(
        F.min(F.when(F.col("label") == F.col("qlabel"), F.col("rk"))).cast("bigint").alias("first_rel_rank"),
        F.coalesce(
            F.sum(F.when((F.col("label") == F.col("qlabel")) & (F.col("rk") <= 10), 1).otherwise(0)),
            F.lit(0),
        ).cast("bigint").alias("hits_at_10"),
    ).select(
        "query_id", "first_rel_rank", "hits_at_10",
        F.expr("CASE WHEN first_rel_rank IS NOT NULL THEN "
               "(1000000 div first_rel_rank) ELSE 0 END").cast("bigint").alias("rr_micro"),
    ).orderBy("query_id")


ORACLE_MRR_LABELS = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
  FROM embeddings WHERE vec_id IN {_QUERY_IDS}
),
ranked AS (
  SELECT q.query_id, q.qlabel, c.vec_id, c.label,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY floor(list_cosine_similarity(c.embedding::DOUBLE[], q.qv) * 10000) / 10000 DESC,
                    c.vec_id
         ) AS rk
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id,
       min(CASE WHEN label = qlabel THEN rk END)::BIGINT AS first_rel_rank,
       coalesce(sum(CASE WHEN label = qlabel AND rk <= 10 THEN 1 ELSE 0 END), 0)::BIGINT AS hits_at_10,
       CASE WHEN min(CASE WHEN label = qlabel THEN rk END) IS NOT NULL
            THEN 1000000 // min(CASE WHEN label = qlabel THEN rk END)
            ELSE 0 END::BIGINT AS rr_micro
FROM ranked GROUP BY query_id ORDER BY query_id
"""


# ---------------------------------------------------------------- dimension-truncation recall
def q_dim_trunc_recall(spark, sf_dir):
    """Matryoshka-style dimension-truncation audit: recall@10 of cosine
    top-10 computed on the FIRST 32 of 64 embedding dims against the
    full-dim truth — the measurement behind "can we halve the vector
    store?" decisions (truncated prefixes are how MRL-trained embeddings
    are deployed at reduced cost).

    Scale shape: two broadcast brute-force top-k passes (full + sliced —
    the slice is a pure narrow projection) and one k-bounded join; at
    production scale the truncated side is the cheap ANN index and this
    query is its acceptance test, exactly like x_ann_recall."""
    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS))
    full = similarity.brute_force_topk(e, q, k=10).select("query_id", "vec_id")
    et = e.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    qt = q.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    tr = similarity.brute_force_topk(et, qt, k=10).select(
        "query_id", F.col("vec_id").alias("t_vec")
    )
    hits = full.join(
        tr, (full["query_id"] == tr["query_id"]) & (full["vec_id"] == tr["t_vec"])
    ).groupBy(full["query_id"]).agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    base = full.groupBy("query_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        "n_truth",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        (F.expr("(coalesce(n_hits, 0) * 10000) div greatest(n_truth, 1)") / F.lit(10000.0)).alias("recall_at_10"),
    ).orderBy("query_id")


ORACLE_DIM_TRUNC_RECALL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN {_QUERY_IDS}
),
fullr AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY floor(list_cosine_similarity(c.embedding::DOUBLE[], q.qv) * 10000) / 10000 DESC, c.vec_id
           ) AS rk
    FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id
  ) WHERE rk <= 10
),
truncr AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY floor(list_cosine_similarity((c.embedding::DOUBLE[])[1:32], (q.qv)[1:32]) * 10000) / 10000 DESC, c.vec_id
           ) AS rk
    FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id
  ) WHERE rk <= 10
),
base AS (SELECT query_id, count(*)::BIGINT AS n_truth FROM fullr GROUP BY 1),
hits AS (
  SELECT f.query_id, count(*)::BIGINT AS n_hits
  FROM fullr f JOIN truncr t ON f.query_id = t.query_id AND f.vec_id = t.vec_id
  GROUP BY 1
)
SELECT b.query_id, b.n_truth,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       ((coalesce(h.n_hits, 0) * 10000) // greatest(b.n_truth, 1)) / 10000.0 AS recall_at_10
FROM base b LEFT JOIN hits h ON b.query_id = h.query_id
ORDER BY b.query_id
"""


# ---------------------------------------------------------------- filtered (pre-filter) ANN
def q_ann_prefilter(spark, sf_dir):
    """Filtered vector search audit: top-10 cosine UNDER a label predicate
    (pre-filtering — the index scans only qualifying vectors) vs the
    post-filter strategy (take unfiltered top-50, then apply the
    predicate). Post-filtering under-fills exactly when qualifying
    vectors are rare in the global top — post_coverage < 1 quantifies the
    classic filtered-search failure and sizes the over-fetch factor.

    Scale shape: both arms are the broadcast |Q|×corpus scoring pass with
    query-keyed ranking windows; the predicate pushes into the scan on
    the pre-filter arm (at production scale: a partition/bucket prune on
    the label column)."""
    from pyspark.sql import Window

    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "qlabel", "vec_id", "label",
        (F.floor(similarity.cosine(F.col("embedding"), F.col("qvec")) * 10000) / 10000).alias("cos_sim"),
    ).cache()
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    pre = (
        scored.filter(F.col("label") == F.col("qlabel"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "vec_id")
    )
    post = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= 50) & (F.col("label") == F.col("qlabel")))
        .select("query_id", F.col("vec_id").alias("p_vec"))
    )
    n_pre = pre.groupBy("query_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_pre"))
    hits = pre.join(
        post, (pre["query_id"] == post["query_id"]) & (pre["vec_id"] == post["p_vec"])
    ).groupBy(pre["query_id"]).agg(F.count(F.lit(1)).cast("bigint").alias("n_post_hits"))
    return n_pre.join(hits, "query_id", "left").select(
        "query_id", "n_pre",
        F.coalesce("n_post_hits", F.lit(0)).cast("bigint").alias("n_post_hits"),
        (F.expr("(coalesce(n_post_hits, 0) * 10000) div greatest(n_pre, 1)") / F.lit(10000.0)).alias("post_coverage"),
    ).orderBy("query_id")


ORACLE_ANN_PREFILTER = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
  FROM embeddings WHERE vec_id IN {_QUERY_IDS}
),
scored AS (
  SELECT q.query_id, q.qlabel, c.vec_id, c.label,
         floor(list_cosine_similarity(c.embedding::DOUBLE[], q.qv) * 10000) / 10000 AS cos_sim
  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id
),
pre AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
    FROM scored WHERE label = qlabel
  ) WHERE rk <= 10
),
post AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, label, qlabel,
           row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
    FROM scored
  ) WHERE rk <= 50 AND label = qlabel
),
np AS (SELECT query_id, count(*)::BIGINT AS n_pre FROM pre GROUP BY 1),
h AS (
  SELECT p.query_id, count(*)::BIGINT AS n_post_hits
  FROM pre p JOIN post o ON p.query_id = o.query_id AND p.vec_id = o.vec_id
  GROUP BY 1
)
SELECT np.query_id, np.n_pre,
       coalesce(h.n_post_hits, 0)::BIGINT AS n_post_hits,
       ((coalesce(h.n_post_hits, 0) * 10000) // greatest(np.n_pre, 1)) / 10000.0 AS post_coverage
FROM np LEFT JOIN h ON np.query_id = h.query_id
ORDER BY np.query_id
"""


# ---------------------------------------------------------------- hybrid rank fusion (RRF)
def q_rrf_fusion(spark, sf_dir):
    """Hybrid lexical+semantic retrieval via Reciprocal Rank Fusion
    (Cormack et al. '09): the LEXICAL arm ranks documents by exact query-
    term frequency (the 3-term x_bm25_rank query, pure integer counts),
    the SEMANTIC arm by floor-decimilli cosine to query vector 0 (doc_id
    and vec_id share the fixture's id space — the linkage a real corpus
    gets from its ingestion key), and the fused score is
    Σ 1e6 div (60 + rank) over each arm's TOP-100 list — fully integer,
    so cross-engine parity is exact with the (rrf desc, id) tiebreak.

    RRF is deployed exactly this way: fuse each retriever's bounded top-k
    list, never full-corpus rankings — which is also what keeps the plan
    scale-sane: both arms end in TakeOrdered(100) (per-partition partial
    top-k + merge, the x_coverage_curve precedent), ranks are windows
    over the BOUNDED 100-row frames, and the fusion is a full outer join
    of two 100-row frames. Items missing from one arm contribute 0 from
    it, the standard convention."""
    from pyspark.sql import Window

    d = _docs_par(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(F.expr(
            "filter(split(lower(trim(text)), '\\\\s+'), t -> t != '')"
        )).alias("tok"),
    )
    lex_score = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("lex_tf"))
    )
    lex_top = lex_score.orderBy(F.col("lex_tf").desc(), "doc_id").limit(100)
    wl = Window.orderBy(F.col("lex_tf").desc(), "doc_id")
    lex = lex_top.withColumn("lex_rank", F.row_number().over(wl)).select(
        F.col("doc_id").alias("item_id"), "lex_rank"
    )
    e = _embs_par(spark, sf_dir)
    q0 = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    sem_score = e.filter(F.col("vec_id") != 0).join(F.broadcast(q0)).select(
        F.col("vec_id").alias("item_id"),
        F.floor(similarity.cosine(F.col("embedding"), F.col("qvec")) * 10000)
        .cast("bigint").alias("cos_e4"),
    )
    sem_top = sem_score.orderBy(F.col("cos_e4").desc(), "item_id").limit(100)
    ws = Window.orderBy(F.col("cos_e4").desc(), "item_id")
    sem = sem_top.withColumn("sem_rank", F.row_number().over(ws)).select(
        "item_id", "sem_rank"
    )
    fused = lex.join(sem, "item_id", "full_outer").select(
        "item_id",
        F.col("lex_rank").cast("bigint").alias("lex_rank"),
        F.col("sem_rank").cast("bigint").alias("sem_rank"),
        (
            F.coalesce(F.expr("1000000 div (60 + lex_rank)"), F.lit(0))
            + F.coalesce(F.expr("1000000 div (60 + sem_rank)"), F.lit(0))
        ).cast("bigint").alias("rrf_micro"),
    )
    return fused.orderBy(F.col("rrf_micro").desc(), "item_id").limit(20)


ORACLE_RRF_FUSION = f"""
WITH lex_score AS (
  SELECT doc_id AS item_id,
         len(list_filter({_TOKS}, t -> t IN ('spark', 'join', 'window')))::BIGINT AS lex_tf
  FROM documents
  WHERE len(list_filter({_TOKS}, t -> t IN ('spark', 'join', 'window'))) > 0
),
lex AS (
  SELECT item_id, row_number() OVER (ORDER BY lex_tf DESC, item_id) AS lex_rank
  FROM lex_score ORDER BY lex_tf DESC, item_id LIMIT 100
),
q0 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
sem_score AS (
  SELECT c.vec_id AS item_id,
         floor(list_cosine_similarity(c.embedding::DOUBLE[], q0.qv) * 10000)::BIGINT AS cos_e4
  FROM embeddings c CROSS JOIN q0 WHERE c.vec_id <> 0
),
sem AS (
  SELECT item_id, row_number() OVER (ORDER BY cos_e4 DESC, item_id) AS sem_rank
  FROM sem_score ORDER BY cos_e4 DESC, item_id LIMIT 100
),
fused AS (
  SELECT coalesce(l.item_id, s.item_id) AS item_id,
         l.lex_rank::BIGINT AS lex_rank, s.sem_rank::BIGINT AS sem_rank,
         (coalesce(1000000 // (60 + l.lex_rank), 0)
          + coalesce(1000000 // (60 + s.sem_rank), 0))::BIGINT AS rrf_micro
  FROM lex l FULL OUTER JOIN sem s ON l.item_id = s.item_id
)
SELECT * FROM fused ORDER BY rrf_micro DESC, item_id LIMIT 20
"""


# ------------------------------------------------------------- IVF balance
def q_ivf_balance(spark, sf_dir):
    """IVF inverted-list balance: per-list vector counts and each list's
    share (milli) of the corpus — the partition-skew gauge for the
    list_id-partitioned ANN layout. A list holding ≫ 1/n_lists of the
    corpus means its probe scans don't prune (the hot-partition failure
    mode); production re-trains centroids (Lloyd) or splits hot lists when
    this report skews. Zero-shuffle assignment (broadcast centroid array,
    per-row argmax), one hash aggregate, one broadcast total."""
    e = _embs_par(spark, sf_dir)
    cents = similarity.ivf_centroids(e, n_centroids=16)
    assigned = similarity.ivf_assign(e, cents)
    sizes = assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("n_vecs")).cache()
    tot = sizes.agg(F.sum("n_vecs").alias("_t"))
    return (
        sizes.join(F.broadcast(tot))
        .select(
            F.col("list_id").cast("bigint").alias("list_id"),
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            F.expr("n_vecs * 1000 div _t").cast("bigint").alias("share_milli"),
        )
        .orderBy("list_id")
    )


ORACLE_IVF_BALANCE = """
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
assigned AS (
  SELECT vec_id, cid AS list_id FROM (
    SELECT c.vec_id, cents.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY floor((list_cosine_similarity(c.embedding::DOUBLE[], cents.cvec)) * 1000000) / 1000000 DESC,
                      cents.cid) AS rk
    FROM embeddings c CROSS JOIN cents
  ) WHERE rk = 1
),
sizes AS (SELECT list_id, count(*) AS n_vecs FROM assigned GROUP BY 1)
SELECT list_id::BIGINT AS list_id, n_vecs::BIGINT AS n_vecs,
       (n_vecs * 1000 // (SELECT sum(n_vecs) FROM sizes))::BIGINT AS share_milli
FROM sizes ORDER BY list_id
"""


# ------------------------------------------------------------- int8 quantization error
def q_sq8_error(spark, sf_dir):
    """Scalar (int8) quantization error audit per dimension: min/max per
    dim over the corpus (milli grid), quantize q = (v−mn)·255 div (mx−mn),
    dequantize, report each dimension's max and total absolute
    reconstruction error — the go/no-go table before shipping an int8
    compressed ANN index (dimensions with outlier-stretched ranges show
    large errors and want clipping or PQ instead). Entirely integer: one
    posexplode + per-dim min/max aggregate, a 64-row broadcast back onto
    the component stream, one final per-dim aggregate."""
    e = _embs_par(spark, sf_dir)
    comps = e.select(
        F.posexplode(F.col("embedding")).alias("dim", "val")
    ).select("dim", F.floor(F.col("val").cast("double") * 1000).cast("bigint").alias("vm"))
    rng = comps.groupBy("dim").agg(F.min("vm").alias("mn"), F.max("vm").alias("mx"))
    q = (
        comps.join(F.broadcast(rng), "dim")
        .select(
            "dim",
            "vm",
            "mn",
            "mx",
            F.expr(
                "CASE WHEN mx > mn THEN mn + (((vm - mn) * 255 div (mx - mn)) * (mx - mn)) div 255 ELSE vm END"
            ).alias("vq"),
        )
    )
    return (
        q.groupBy("dim")
        .agg(
            F.max("mn").cast("bigint").alias("mn_milli"),
            F.max("mx").cast("bigint").alias("mx_milli"),
            F.max(F.abs(F.col("vm") - F.col("vq"))).cast("bigint").alias("max_abs_err_milli"),
            F.sum(F.abs(F.col("vm") - F.col("vq"))).cast("bigint").alias("sum_abs_err_milli"),
        )
        .orderBy("dim")
    )


ORACLE_SQ8_ERROR = """
WITH comps AS (
  SELECT (generate_subscripts(embedding, 1) - 1)::INT AS dim,
         floor(unnest(embedding)::DOUBLE * 1000)::BIGINT AS vm
  FROM embeddings
),
rng AS (SELECT dim, min(vm) AS mn, max(vm) AS mx FROM comps GROUP BY 1),
q AS (
  SELECT c.dim, c.vm,
         CASE WHEN r.mx > r.mn
              THEN r.mn + (((c.vm - r.mn) * 255 // (r.mx - r.mn)) * (r.mx - r.mn)) // 255
              ELSE c.vm END AS vq,
         r.mn, r.mx
  FROM comps c JOIN rng r USING (dim)
)
SELECT dim, max(mn)::BIGINT AS mn_milli, max(mx)::BIGINT AS mx_milli,
       max(abs(vm - vq))::BIGINT AS max_abs_err_milli,
       sum(abs(vm - vq))::BIGINT AS sum_abs_err_milli
FROM q GROUP BY dim ORDER BY dim
"""


# ------------------------------------------------------------- IVF n_probe sweep
def q_ivf_nprobe_sweep(spark, sf_dir):
    """The IVF operating-point table: recall@10 vs brute-force truth at
    n_probe ∈ {1, 2, 4} — the knob every vector-search deployment tunes
    (each probe step trades one more list scan for recall). All three
    operating points come from ONE assignment pass and ONE scored frame
    (probe rank ≤ 4 computed once; each sweep point is a filter + keyed
    top-k window over it), so the sweep costs barely more than the single
    x_ann_recall probe instead of 3 full re-assignments."""
    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(0, 1, 2))
    cents = similarity.ivf_centroids(e, n_centroids=16)
    assigned = similarity.ivf_assign(e, cents)
    # probe ranks 1..4 per query, once
    cent_rows = cents.select(F.col("cid"), F.col("cvec"))
    qp = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    from pyspark.sql import Window

    pw = Window.partitionBy("query_id").orderBy(
        F.col("_cs").desc(), F.col("cid")
    )
    probes = (
        qp.join(F.broadcast(cent_rows))
        .select(
            "query_id",
            "qv",
            "cid",
            (F.floor(similarity.cosine(F.col("qv"), F.col("cvec")) * 1000000) / 1000000).alias("_cs"),
        )
        .withColumn("prk", F.row_number().over(pw))
        .filter(F.col("prk") <= 4)
        .select("query_id", "qv", F.col("cid").alias("list_id"), "prk")
    )
    scored = (
        assigned.join(probes, "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "prk",
            (F.floor(similarity.cosine(F.col("embedding"), F.col("qv")) * 10000) / 10000).alias("cos_sim"),
        )
        .cache()
    )
    truth = similarity.brute_force_topk(e, q, k=10).select(
        "query_id", "vec_id"
    ).withColumn("_t", F.lit(1))
    sweeps = spark.createDataFrame([(1,), (2,), (4,)], ["n_probe"])
    rw = Window.partitionBy("n_probe", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    topk = (
        scored.join(F.broadcast(sweeps), F.col("prk") <= F.col("n_probe"))
        .withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") <= 10)
    )
    return (
        topk.join(truth, ["query_id", "vec_id"], "left")
        .groupBy("n_probe", "query_id")
        .agg(
            F.count("_t").cast("bigint").alias("n_hits"),
            (F.count("_t") * 100).cast("bigint").alias("recall_milli"),
        )
        .orderBy("n_probe", "query_id")
    )


ORACLE_IVF_NPROBE_SWEEP = """
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
assigned AS (
  SELECT vec_id, embedding, cid AS list_id FROM (
    SELECT c.vec_id, c.embedding, cents.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY floor((list_cosine_similarity(c.embedding::DOUBLE[], cents.cvec)) * 1000000) / 1000000 DESC,
                      cents.cid) AS rk
    FROM embeddings c CROSS JOIN cents
  ) WHERE rk = 1
),
probes AS (
  SELECT query_id, qv, cid AS list_id, rk AS prk FROM (
    SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qv, cents.cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY floor((list_cosine_similarity(q.embedding::DOUBLE[], cents.cvec)) * 1000000) / 1000000 DESC,
                      cents.cid) AS rk
    FROM embeddings q CROSS JOIN cents
    WHERE q.vec_id IN (0, 1, 2)
  ) WHERE rk <= 4
),
scored AS (
  SELECT p.query_id, a.vec_id, p.prk,
         floor((list_cosine_similarity(a.embedding::DOUBLE[], p.qv)) * 10000) / 10000 AS cos_sim
  FROM assigned a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_id
),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY floor((list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[])) * 10000) / 10000 DESC,
                      c.vec_id) AS rk
    FROM embeddings c CROSS JOIN embeddings q
    WHERE q.vec_id IN (0, 1, 2) AND c.vec_id <> q.vec_id
  ) WHERE rk <= 10
),
topk AS (
  SELECT query_id, vec_id, n_probe FROM (
    SELECT *, row_number() OVER (
      PARTITION BY n_probe, query_id ORDER BY cos_sim DESC, vec_id) AS rk
    FROM scored CROSS JOIN (SELECT unnest([1, 2, 4]) AS n_probe) p
    WHERE prk <= n_probe
  ) WHERE rk <= 10
)
SELECT t.n_probe::INT AS n_probe, t.query_id,
       sum((tr.vec_id IS NOT NULL)::INT)::BIGINT AS n_hits,
       (sum((tr.vec_id IS NOT NULL)::INT) * 100)::BIGINT AS recall_milli
FROM topk t LEFT JOIN truth tr
  ON t.query_id = tr.query_id AND t.vec_id = tr.vec_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ------------------------------------------------------------- NDCG@10 vs labels
# floor(1e6 / log2(rank+1)) for rank 1..10 — the classic DCG discount on a
# micro-integer grid, inlined identically on both engines so no runtime
# float log is evaluated anywhere.
_NDCG_DISC = (1000000, 630929, 500000, 430676, 386852, 356207, 333333, 315464, 301029, 289064)


# prefix sums: _NDCG_PS[r] = sum of the first r discounts (ideal DCG with r
# relevant docs in the top 10); index 0 = 0 relevant ⇒ IDCG undefined/0.
_NDCG_PS = (0, 1000000, 1630929, 2130929, 2561605, 2948457, 3304664, 3637997, 3953461, 4254490, 4543554)


def q_ndcg_labels(spark, sf_dir):
    """NDCG@10 of exact-cosine retrieval against the embeddings' class
    labels (binary relevance = same label as the query) — the graded
    companion to x_mrr_labels: MRR scores the FIRST hit, NDCG@10 scores
    the whole ranked page with the standard 1/log2(rank+1) discount.
    Together they are the retrieval scorecard a curation team watches
    when swapping embedding models or ANN index settings.

    The discount table is 10 pre-computed micro-integers (no runtime
    float log), the ideal DCG is a prefix-sum lookup at min(#relevant,
    10), and ndcg_milli is one integer division — every value BIGINT
    end-to-end, so the oracle hash-matches exactly.

    Scale shape: identical to x_mrr_labels (broadcast |Q| query rows ×
    corpus scan, ONE query-keyed ranking window, one aggregate) — rank
    discounting adds zero new shuffles. Reference parity: retrieval eval
    extends the reference's top-N ranking pattern
    (R/app/dws/*ProvinceOrderWindow*.java keyed top-N)."""
    from pyspark.sql import Window


    e = _embs_par(spark, sf_dir)
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "qlabel",
        (F.col("label") == F.col("qlabel")).cast("bigint").alias("rel"),
        (F.floor(similarity.cosine(F.col("embedding"), F.col("qvec")) * 10000) / 10000).alias("cos_sim"),
        "vec_id",
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    disc_arr = F.array(*[F.lit(d).cast("bigint") for d in _NDCG_DISC])
    ps_arr = F.array(*[F.lit(p).cast("bigint") for p in _NDCG_PS])
    ranked = scored.withColumn("rk", F.row_number().over(w)).withColumn(
        "gain",
        F.when(F.col("rk") <= 10, F.col("rel") * F.element_at(disc_arr, F.col("rk")))
        .otherwise(F.lit(0).cast("bigint")),
    )
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum("rel").cast("bigint").alias("n_rel"),
            F.sum("gain").cast("bigint").alias("dcg_micro"),
        )
        .withColumn(
            "idcg_micro",
            F.element_at(ps_arr, F.least(F.col("n_rel"), F.lit(10)).cast("int") + 1),
        )
        .select(
            "query_id", "n_rel", "dcg_micro", "idcg_micro",
            F.expr(
                "CASE WHEN idcg_micro > 0 THEN (1000 * dcg_micro) div idcg_micro "
                "ELSE NULL END"
            ).cast("bigint").alias("ndcg_milli"),
        )
        .orderBy("query_id")
    )


def _ndcg_oracle() -> str:
    disc = ", ".join(str(d) for d in _NDCG_DISC)
    ps = ", ".join(str(p) for p in _NDCG_PS)
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
  FROM embeddings WHERE vec_id IN {_QUERY_IDS}
),
ranked AS (
  SELECT q.query_id,
         (c.label = q.qlabel)::BIGINT AS rel,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY floor(list_cosine_similarity(c.embedding::DOUBLE[], q.qv) * 10000) / 10000 DESC,
                    c.vec_id
         ) AS rk
  FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id
),
agg AS (
  SELECT query_id, sum(rel)::BIGINT AS n_rel,
         sum(CASE WHEN rk <= 10 THEN rel * ([{disc}])[rk] ELSE 0 END)::BIGINT AS dcg_micro
  FROM ranked GROUP BY query_id
)
SELECT query_id, n_rel, dcg_micro,
       ([{ps}])[least(n_rel, 10) + 1]::BIGINT AS idcg_micro,
       CASE WHEN ([{ps}])[least(n_rel, 10) + 1] > 0
            THEN (1000 * dcg_micro) // ([{ps}])[least(n_rel, 10) + 1]
            ELSE NULL END::BIGINT AS ndcg_milli
FROM agg ORDER BY query_id
"""


# ------------------------------------------------------------- k-center coreset
_KC_ROUNDS = 4


def q_kcenter_coreset(spark, sf_dir):
    """Greedy k-center (farthest-point) coreset selection over the
    embedding corpus (operators/similarity.kcenter_greedy — the Gonzalez
    2-approximation, property-tested against brute-force optimal centers
    in tests/test_round8_properties.py): the per-round cover-radius curve
    is the "how many exemplars until the corpus is covered" diagnostic
    behind diversity-aware data selection. Plan shape documented on the
    operator: fully lazy unrolled rounds, no driver loop, no collect,
    O(k·N) total."""
    return similarity.kcenter_greedy(_embs_par(spark, sf_dir), k=_KC_ROUNDS)


def _kcenter_oracle() -> str:
    dist = "floor(list_distance({a}, {b}) * 10000)::BIGINT"
    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "c1 AS (SELECT vec_id AS c_id, v AS cv FROM e ORDER BY vec_id LIMIT 1)",
        f"md1 AS (SELECT e.vec_id, e.v, {dist.format(a='e.v', b='c1.cv')} AS mind FROM e, c1)",
    ]
    sel = ["SELECT 1 AS sel_round, c1.c_id AS center_id, (SELECT max(mind) FROM md1) AS radius_fp FROM c1"]
    for r in range(2, _KC_ROUNDS + 1):
        p = r - 1
        parts.append(
            f"c{r} AS (SELECT vec_id AS c_id, v AS cv FROM md{p} ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        parts.append(
            f"md{r} AS (SELECT m.vec_id, m.v, least(m.mind, {dist.format(a='m.v', b=f'c{r}.cv')}) AS mind "
            f"FROM md{p} m, c{r})"
        )
        sel.append(
            f"SELECT {r} AS sel_round, c{r}.c_id AS center_id, (SELECT max(mind) FROM md{r}) AS radius_fp FROM c{r}"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sel) + "\nORDER BY sel_round"


# ------------------------------------------------------------- label propagation
_LP_ROUNDS = 2


def q_label_prop_seeds(spark, sf_dir):
    """Semi-supervised label propagation: 10% of vectors (vec_id % 10 = 0)
    keep their true class label as SEEDS; everyone else takes the majority
    label of their top-3 in-bucket kNN neighbors (tie → smallest label),
    for 2 synchronized rounds — the cheap way a curation team spreads a
    small set of human quality/topic labels over the whole corpus. Output
    is the (true label × propagated label) confusion matrix with -1 for
    still-unlabeled, i.e. the accuracy audit of the propagation itself.

    Determinism contract: majority by (count DESC, label ASC); a node
    with NO labeled neighbor keeps its current label (NULL in round 1);
    seeds never change. Rounds are a FIXED constant — plan depth bounded.

    Scale shape: the kNN edge frame is built once and CACHED (both rounds
    join it); per-round shape documented on operators/similarity.
    label_propagate (keyed joins + hash agg + keyed top-1 window, nothing
    global). The bucketed kNN substrate (similarity.knn_graph) bounds
    candidate generation exactly as x_knn_graph documents."""
    e = _embs_par(spark, sf_dir)
    edges = similarity.knn_graph(e, k=3, dims=6).select("src", "dst").cache()
    seeds = e.select(
        "vec_id",
        (F.pmod(F.col("vec_id"), F.lit(10)) == 0).alias("seed"),
        F.when(F.pmod(F.col("vec_id"), F.lit(10)) == 0, F.col("label").cast("bigint")).alias("lab"),
    )
    final = similarity.label_propagate(edges, seeds, rounds=_LP_ROUNDS)
    truth = e.select("vec_id", F.col("label").cast("bigint").alias("true_label"))
    return (
        truth.join(final, "vec_id")
        .groupBy(
            "true_label", F.coalesce(F.col("lab"), F.lit(-1)).cast("bigint").alias("pred_label")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .orderBy("true_label", "pred_label")
    )


def _label_prop_oracle() -> str:
    from .common import _KNN_CTES

    rounds = []
    prev = "lab0"
    for r in range(1, _LP_ROUNDS + 1):
        rounds.append(f"""
n{r} AS (
  SELECT t.src, l.lab AS nlab, count(*) AS c
  FROM top t JOIN {prev} l ON t.dst = l.vec_id
  WHERE l.lab IS NOT NULL GROUP BY t.src, l.lab
),
m{r} AS (
  SELECT src, nlab FROM (
    SELECT src, nlab, row_number() OVER (PARTITION BY src ORDER BY c DESC, nlab) AS rk FROM n{r}
  ) WHERE rk = 1
),
lab{r} AS (
  SELECT l.vec_id, l.true_label,
         CASE WHEN l.vec_id % 10 = 0 THEN l.lab ELSE coalesce(m{r}.nlab, l.lab) END AS lab
  FROM {prev} l LEFT JOIN m{r} ON l.vec_id = m{r}.src
)""")
        prev = f"lab{r}"
    return f"""
WITH {_KNN_CTES},
lab0 AS (
  SELECT vec_id, label::BIGINT AS true_label,
         CASE WHEN vec_id % 10 = 0 THEN label::BIGINT END AS lab
  FROM embeddings
),{",".join(rounds)}
SELECT true_label, coalesce(lab, -1)::BIGINT AS pred_label, count(*)::BIGINT AS n_vecs
FROM {prev} GROUP BY true_label, coalesce(lab, -1) ORDER BY true_label, pred_label
"""


SPECS = [
    QuerySpec("x_embedding_stats", q_embedding_stats, ORACLE_EMBEDDING_STATS,
              doc="embedding-column health screen: per-label L2-norm stats, grid-exact",
              tags=("llm", "similarity", "stats")),
    QuerySpec("x_cosine_topk", q_cosine_topk, ORACLE_COSINE_TOPK, tags=("llm", "similarity")),
    QuerySpec("x_ann_ivf", q_ann_ivf, ORACLE_ANN_IVF, tags=("llm", "similarity")),
    QuerySpec("x_ann_ivf_lloyd", q_ann_ivf_lloyd, ORACLE_ANN_IVF_LLOYD, tags=("llm", "similarity")),
    QuerySpec("x_ann_recall", q_ann_recall, ORACLE_ANN_RECALL,
              doc="recall@10 of the IVF probe vs exact brute-force top-10",
              tags=("llm", "similarity")),
    QuerySpec("x_ann_lsh", q_ann_lsh, ORACLE_ANN_LSH, tags=("llm", "similarity")),
    QuerySpec("x_embedding_near_dup", q_embedding_near_dup, ORACLE_EMB_NEAR_DUP, tags=("llm", "similarity")),
    QuerySpec("x_semdedup", q_semdedup, ORACLE_SEMDEDUP,
              doc="SemDeDup: embedding-cosine clusters, keep one per cluster",
              tags=("llm", "similarity", "dedup")),
    QuerySpec("x_pq_ann", q_pq_ann, ORACLE_PQ_ANN,
              doc="product-quantization ADC top-10: 8x16 codebook, 32x-compressed scoring",
              tags=("llm", "similarity", "ann")),
    QuerySpec("x_rp_project", q_rp_project, ORACLE_RP_PROJECT,
              doc="sign random projection 64->16 (JL): exact bigint sums over milli components",
              tags=("llm", "similarity")),
    QuerySpec("x_pq_recall", q_pq_recall, ORACLE_PQ_RECALL,
              doc="PQ recall@10 vs exact L2 on the micro grid: index-quality acceptance",
              tags=("llm", "similarity", "ann")),
    QuerySpec("x_inverted_index", q_inverted_index, ORACLE_INVERTED_INDEX,
              doc="inverted-index build: top-df terms with capped, bounded-before-collect postings",
              tags=("llm", "retrieval")),
    QuerySpec("x_index_intersect", q_index_intersect, ORACLE_INDEX_INTERSECT,
              doc="conjunctive AND retrieval via posting intersection, data-picked query terms",
              tags=("llm", "retrieval")),
    QuerySpec("x_embedding_drift", q_embedding_drift, ORACLE_EMBEDDING_DRIFT,
              doc="per-dimension embedding drift between snapshot cohorts (integer cross-multiplied means)",
              tags=("llm", "similarity")),
    QuerySpec("x_mmr_rerank", q_mmr_rerank, ORACLE_MMR_RERANK,
              doc="MMR diversity rerank of ANN candidates (greedy λ=0.5, decimilli-exact)",
              tags=("llm", "similarity")),
    QuerySpec("x_ann_multiprobe", q_ann_multiprobe, ORACLE_ANN_MULTIPROBE,
              doc="multi-probe sign-LSH ANN: hamming-1 bucket fan-out recall repair",
              tags=("llm", "similarity")),
    QuerySpec("x_multiprobe_recall", q_multiprobe_recall, ORACLE_MULTIPROBE_RECALL,
              doc="recall@10 of hamming-1 multi-probe LSH vs brute force, per query",
              tags=("llm", "similarity", "audit")),
    QuerySpec("x_dbscan", q_dbscan, ORACLE_DBSCAN,
              doc="grid-cell DBSCAN with noise over the 2-D projected embedding plane; brute-force + recursive-closure oracle",
              tags=("llm", "similarity", "clustering")),
    QuerySpec("x_dim_variance", q_dim_variance, ORACLE_DIM_VARIANCE,
              doc="per-dimension embedding variance profile on the milli grid (dead/rogue dim audit)",
              tags=("llm", "similarity", "stats")),
    QuerySpec("x_centroid_outliers", q_centroid_outliers, ORACLE_CENTROID_OUTLIERS,
              doc="top-20 farthest-from-centroid vectors, exact BIGINT milli-grid distance, TakeOrdered top-k",
              tags=("llm", "similarity", "audit")),
    QuerySpec("x_embedding_cov", q_embedding_cov, ORACLE_EMBEDDING_COV,
              doc="exact milli-grid embedding covariance matrix via Arrow-batched partial grams (whitening/PCA substrate)",
              tags=("llm", "similarity", "stats")),
    QuerySpec("x_pca_power", q_pca_power, _oracle_pca_power(),
              doc="top principal component by exact integer power iteration; PC1 projection histogram (anisotropy audit)",
              tags=("llm", "similarity", "stats")),
    QuerySpec("x_spectral_ratio", q_spectral_ratio, _oracle_spectral_ratio(),
              doc="PC1 variance-explained share in ppm (spectral anisotropy index; max-norm Rayleigh quotient)",
              tags=("llm", "similarity", "stats")),
    QuerySpec("x_whiten_outliers", q_whiten_outliers, ORACLE_WHITEN_OUTLIERS,
              doc="top-20 outliers under diagonal-whitened (variance-standardized) distance on the exact milli grid",
              tags=("llm", "similarity", "stats")),
    QuerySpec("x_hard_negatives", q_hard_negatives, ORACLE_HARD_NEGATIVES,
              doc="cross-class hard-negative mining: exact-cosine top-5 per probe with the label-exclusion predicate",
              tags=("llm", "similarity", "training")),
    QuerySpec("x_mrr_labels", q_mrr_labels, ORACLE_MRR_LABELS,
              doc="embedding retrieval MRR + precision@10 against class labels as relevance judgments",
              tags=("llm", "similarity", "eval")),
    QuerySpec("x_dim_trunc_recall", q_dim_trunc_recall, ORACLE_DIM_TRUNC_RECALL,
              doc="recall@10 of half-dimension (matryoshka-truncated) cosine vs full-dim truth",
              tags=("llm", "similarity", "eval")),
    QuerySpec("x_ann_prefilter", q_ann_prefilter, ORACLE_ANN_PREFILTER,
              doc="filtered vector search: pre-filter top-10 vs post-filter-from-top-50 coverage per query",
              tags=("llm", "similarity")),
    QuerySpec("x_rrf_fusion", q_rrf_fusion, ORACLE_RRF_FUSION,
              doc="hybrid retrieval: RRF fusion of exact-tf lexical and decimilli-cosine semantic top-100 lists",
              tags=("llm", "similarity", "retrieval")),
    QuerySpec("x_ivf_balance", q_ivf_balance, ORACLE_IVF_BALANCE,
              doc="IVF inverted-list size balance — ANN partition-skew gauge",
              tags=("llm", "similarity", "stats")),
    QuerySpec("x_sq8_error", q_sq8_error, ORACLE_SQ8_ERROR,
              doc="int8 scalar-quantization reconstruction error per embedding dimension",
              tags=("llm", "similarity", "eval")),
    QuerySpec("x_ivf_nprobe_sweep", q_ivf_nprobe_sweep, ORACLE_IVF_NPROBE_SWEEP,
              doc="IVF recall@10 at n_probe 1/2/4 from one shared assignment + scored frame",
              tags=("llm", "similarity", "eval")),
    QuerySpec("x_ndcg_labels", q_ndcg_labels, _ndcg_oracle(),
              doc="NDCG@10 of cosine retrieval vs class labels on a micro-integer discount grid",
              tags=("llm", "eval", "similarity")),
    QuerySpec("x_kcenter_coreset", q_kcenter_coreset, _kcenter_oracle(),
              doc="greedy k-center coreset: 4 farthest-point rounds with per-round cover radius, fully lazy unrolled plan",
              tags=("llm", "similarity", "sampling")),
    QuerySpec("x_label_prop_seeds", q_label_prop_seeds, _label_prop_oracle(),
              doc="2-round majority label propagation from 10% seeds over the bucketed kNN graph, confusion-matrix output",
              tags=("llm", "similarity", "eval")),
]

"""Near-duplicate and contamination queries over the ``documents`` table:
exact and fuzzy dedup (n-gram Jaccard, MinHash/LSH, SimHash, winnowing),
duplicate clusters and their audits, LSH tuning and health, and
train/benchmark contamination probes.

Each Spark pipeline has a semantically identical DuckDB oracle built on
the same portable md5-derived hash (functions.hashing) and the same
integer/floor grids, so even MinHash/SimHash signatures hash-match.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import tokenize
from ..functions.hashing import portable_hash64
from ..io import load_table
from ..operators import dedup, text
from . import QuerySpec
from .common import (
    _docs_par, _EN_STOP_SQL, _GRAM13, _minhash_band_ctes, _minhash_lsh_ctes, _PAIRS_CTES,
    _PHASH, _RAW_TOKS, _shingles_cte, _SHINGLES_CTE, _side_shingles_cte, _TOKS,
)
from .textq import ORACLE_QUALITY_CLASSIFIER


def _dup_members(spark, sf_dir):
    """Near-duplicate cluster map (shingles → MinHash16 → LSH 4×4 →
    Jaccard ≥ 0.5 verify → connected components), cached: the
    (doc_id, cluster_id) map that eight cluster queries (x_dedup_clusters,
    x_dedup_keep_best, x_dedup_corpus_cc, x_cluster_stats, x_soft_dedup,
    x_quality_vs_dup, x_cluster_size_hist, x_dedup_savings) join against.
    Each query builds its own; the cache lives until the caller's
    ``io.query_scope`` exits."""
    near = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir))).near
    return dedup.connected_components(near).cache()


# ---------------------------------------------------------------- exact dedup
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: duplicate groups on normalized-text fingerprint —
    one hash aggregate (group on the 128-bit digest, not the raw text)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(d)


ORACLE_DEDUP_EXACT = """
SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS canonical_id, count(*) AS n_docs
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------- n-gram Jaccard dedup
def q_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by exact 3-gram-shingle Jaccard ≥ 0.8 (shingle
    equi-join intersection — the all-candidates baseline the LSH variant
    prunes)."""
    d = _docs_par(spark, sf_dir)
    sh = dedup.shingles(d)
    return dedup.jaccard_pairs(sh, threshold=0.8)


ORACLE_NGRAM_JACCARD = f"""
WITH {_SHINGLES_CTE},
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, floor((i * 1.0 / (x.sz + y.sz - i)) * 10000) / 10000 AS jaccard
FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE floor((i * 1.0 / (x.sz + y.sz - i)) * 10000) / 10000 >= 0.8
"""


# ---------------------------------------------------------------- MinHash + LSH dedup
def q_minhash_lsh(spark, sf_dir):
    """MinHash(16) + LSH(4 bands × 4 rows) candidate pairs, exact-verified at
    Jaccard ≥ 0.5. Candidate generation joins band-signature buckets only —
    the scale path for 100 TB dedup."""
    return dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir))).near


ORACLE_MINHASH_LSH = f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()}
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.5
"""


def q_lsh_recall(spark, sf_dir):
    """LSH dedup-candidate recall audit: exact Jaccard≥0.5 truth pairs
    (the quadratic baseline — run on a sample in production; the sample IS
    this query shape) vs the MinHash(16)/LSH(4×4) candidate set. Integer
    hit counts; recall emitted by integer division on the 1e-4 grid."""
    chain = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir)))
    truth = dedup.jaccard_pairs(chain.sh, threshold=0.5)
    cands = chain.cands
    flagged = truth.join(
        cands.withColumn("_c", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    t_agg = flagged.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum(F.coalesce("_c", F.lit(0))).cast("bigint").alias("n_caught"),
    )
    c_agg = cands.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    return t_agg.crossJoin(F.broadcast(c_agg)).select(
        "n_true_pairs",
        "n_candidate_pairs",
        "n_caught",
        (F.expr("(n_caught * 10000) div n_true_pairs") / F.lit(10000.0)).alias(
            "recall"
        ),
    )


ORACLE_LSH_RECALL = f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
truth AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
  WHERE floor((i.i * 1.0 / (x.sz + y.sz - i.i)) * 10000) / 10000 >= 0.5
),
flags AS (
  SELECT t.doc_a, CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
  FROM truth t LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT count(*)::BIGINT AS n_true_pairs,
       (SELECT count(*) FROM cand)::BIGINT AS n_candidate_pairs,
       sum(caught)::BIGINT AS n_caught,
       ((sum(caught) * 10000) // count(*)) / 10000.0 AS recall
FROM flags
"""


def q_minhash_estimate(spark, sf_dir):
    """MinHash estimator accuracy audit: for every LSH candidate pair,
    the signature-agreement Jaccard estimate (matching minima / 16)
    side-by-side with the exact shingle Jaccard — the calibration table
    that justifies trusting signatures at 100 TB where exact Jaccard is
    unaffordable. Integer agreement counts; both ratios on the 1e-4 grid."""
    chain = dedup.near_dup_chain(
        dedup.shingles(_docs_par(spark, sf_dir)), threshold=0.0
    )
    sigs, cands = chain.sigs.cache(), chain.cands
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), "seed", F.col("minhash").alias("mh_a")
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), "seed", F.col("minhash").alias("mh_b")
    )
    agree = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "seed"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum((F.col("mh_a") == F.col("mh_b")).cast("bigint")).alias("n_agree"))
        .withColumn("est_jaccard", F.expr("(n_agree * 10000) div 16") / F.lit(10000.0))
    )
    return agree.join(chain.near, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "n_agree", "est_jaccard", "jaccard"
    )


ORACLE_MINHASH_ESTIMATE = f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
agree AS (
  SELECT c.doc_a, c.doc_b,
         sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)::BIGINT AS n_agree
  FROM cand c
  JOIN seeded sa ON sa.doc_id = c.doc_a
  JOIN seeded sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
  GROUP BY 1, 2
)
SELECT a.doc_a, a.doc_b, a.n_agree,
       ((a.n_agree * 10000) // 16) / 10000.0 AS est_jaccard,
       v.jaccard
FROM agree a JOIN verified v ON a.doc_a = v.doc_a AND a.doc_b = v.doc_b
"""


def q_dedup_corpus(spark, sf_dir):
    """Capstone keep-one dedup: exact canonicals (min id per fingerprint) →
    MinHash/LSH near-dup pairs among canonicals → drop the higher id of
    each verified pair → surviving doc_ids. The full training-data dedup
    pass as one declarative pipeline."""
    d = _docs_par(spark, sf_dir)
    return dedup.dedup_corpus(d, threshold=0.5)


ORACLE_DEDUP_CORPUS = f"""
WITH canon AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents)
  GROUP BY fp
),
docs_c AS (SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM canon)),
{_shingles_cte('docs_c')},
{_minhash_lsh_ctes()}
SELECT doc_id FROM docs_c
WHERE doc_id NOT IN (SELECT doc_b FROM verified WHERE jaccard >= 0.5)
"""


# ---------------------------------------------------------------- duplicate clusters (union-find)
def q_dedup_clusters(spark, sf_dir):
    """Connected-component duplicate clustering: MinHash/LSH verified pairs
    → iterative min-label propagation → (doc_id, cluster_id = min reachable
    id). The transitively-correct grouping the single-hop keep-one rule
    approximates; oracle is a recursive reachability closure."""
    return _dup_members(spark, sf_dir)


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
"""


def q_dedup_residual(spark, sf_dir):
    """Dedup-effectiveness self-audit: how many near-dup pairs SURVIVE each
    keep-one policy. The single-hop rule (drop the higher id of each pair)
    can leave transitive residue — if A~B and B~C but A≁C, dropping B and C
    keeps the A…-chain intact yet pairs inside longer chains can persist —
    while the connected-components variant is residue-free by construction.
    One verified-pairs computation feeds both policies; residual = pairs
    whose BOTH endpoints survive. The canonical-doc + verified-pair front
    half (canonical_near_pairs) is computed ONCE and shared across the
    two policies and the residual probe, instead of each policy
    re-deriving the identical candidate chain; the pair frames differ from full-corpus pairs only on non-canonical
    endpoints, which the survivor semi-joins remove anyway (survivors ⊆
    canonicals), so the audited statistic is unchanged."""
    d = _docs_par(spark, sf_dir)
    docs_c, near = dedup.canonical_near_pairs(d, threshold=0.5)
    docs_c = docs_c.cache()
    pairs = near.cache()
    prep = (docs_c, pairs)
    surv1 = dedup.dedup_corpus(d, threshold=0.5, prepared=prep).cache()
    surv2 = dedup.dedup_corpus_cc(d, threshold=0.5, prepared=prep).cache()

    def residual(name, surv):
        a = surv.select(F.col("doc_id").alias("doc_a"))
        b = surv.select(F.col("doc_id").alias("doc_b"))
        res = pairs.join(a, "doc_a", "left_semi").join(b, "doc_b", "left_semi")
        return (
            surv.agg(F.count(F.lit(1)).alias("n_survivors"))
            .crossJoin(F.broadcast(res.agg(F.count(F.lit(1)).alias("residual_pairs"))))
            .select(F.lit(name).alias("method"), "n_survivors", "residual_pairs")
        )

    return residual("single_hop", surv1).unionByName(residual("components", surv2))


ORACLE_DEDUP_RESIDUAL = f"""
WITH RECURSIVE canon AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(lower(trim(text)) ) AS fp FROM documents)
  GROUP BY fp
),
docs_c AS (SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM canon)),
{_shingles_cte('docs_c')},
{_minhash_lsh_ctes()},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
surv1 AS (
  SELECT doc_id FROM docs_c WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
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
clusters AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
surv2 AS (
  SELECT doc_id FROM docs_c
  WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
),
res1 AS (
  SELECT count(*) AS n FROM pairs
  WHERE doc_a IN (SELECT doc_id FROM surv1) AND doc_b IN (SELECT doc_id FROM surv1)
),
res2 AS (
  SELECT count(*) AS n FROM pairs
  WHERE doc_a IN (SELECT doc_id FROM surv2) AND doc_b IN (SELECT doc_id FROM surv2)
)
SELECT 'single_hop' AS method,
       (SELECT count(*) FROM surv1) AS n_survivors,
       (SELECT n FROM res1)::BIGINT AS residual_pairs
UNION ALL
SELECT 'components',
       (SELECT count(*) FROM surv2),
       (SELECT n FROM res2)::BIGINT
"""


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware keep-one: within each near-duplicate cluster keep the
    HIGHEST-quality member (tie → lowest id) instead of the arbitrary
    min-id canonical — the curation-grade dedup policy (keep the cleanest
    copy, drop the rest). Clusters from the CC operator, scores from the
    quality operator, winner by one per-cluster rank window."""
    from pyspark.sql import Window

    d = _docs_par(spark, sf_dir)
    clusters = _dup_members(spark, sf_dir)
    quality = text.quality_features(d).select("doc_id", "quality_score")
    joined = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), "doc_id"
    )
    cw = Window.partitionBy("cluster_id")
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(cw))
        .filter(F.col("rk") == 1)
        .select("cluster_id", "doc_id", "quality_score", "cluster_size")
    )


ORACLE_DEDUP_KEEP_BEST = f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
qf AS (
  SELECT doc_id,
         {_RAW_TOKS} AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS alnum_chars
  FROM documents
), qm AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
              ELSE 0.0 END AS mean_tok_len,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> list_contains({_EN_STOP_SQL}, t))) * 1.0 / len(toks)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN alnum_chars * 1.0 / n_chars ELSE 0.0 END AS alnum_ratio
  FROM qf
), q AS (
  SELECT doc_id,
         floor((least(n_tokens / 100.0, 1.0) * 0.25
                + least(mean_tok_len / 8.0, 1.0) * 0.25
                + least(stop_ratio * 4, 1.0) * 0.25
                + alnum_ratio * 0.25) * 10000) / 10000 AS quality_score
  FROM qm
),
ranked AS (
  SELECT c.cluster_id, c.doc_id, q.quality_score,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality_score DESC, c.doc_id) AS rk,
         count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
  FROM clusters c JOIN q ON c.doc_id = q.doc_id
)
SELECT cluster_id, doc_id, quality_score, cluster_size
FROM ranked WHERE rk = 1
"""


def q_dedup_corpus_cc(spark, sf_dir):
    """Component-exact keep-one dedup capstone: exact canonicals → LSH near-
    dup pairs → connected components → keep min-id per component + all
    unpaired docs (the transitive-closure-correct variant of
    x_dedup_corpus).

    Joins the _dup_members cluster map: the full-corpus
    CC restricted to canonical ids IS the canonical-only CC the operator
    computes, because exact duplicates have identical normalized text
    (fingerprint and shingles both factor through lower∘trim), hence
    identical shingle sets → identical MinHash signatures → identical LSH
    buckets → identical verified-pair adjacency. So (a) connectivity among
    canonicals never depends on a non-canonical node (any path through a
    duplicate d has the same path through its canonical c), and (b) every
    component's min id is a canonical (the exact-group canonical is the
    group min). The snapshot-level cluster map therefore serves
    this query too — in production this is exactly "join the corpus
    against the materialized cluster assignment", not a per-query re-run
    of the LSH chain. The operator's own chain stays exercised (and
    oracle-checked) via x_dedup_residual's prepared= path. Semantics and
    oracle unchanged."""
    d = _docs_par(spark, sf_dir)
    canon = dedup.exact_dedup_groups(d).select(
        F.col("canonical_id").alias("doc_id")
    )
    drop = (
        _dup_members(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    return canon.join(drop, "doc_id", "left_anti").select("doc_id")


ORACLE_DEDUP_CORPUS_CC = f"""
WITH RECURSIVE canon AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents)
  GROUP BY fp
),
docs_c AS (SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM canon)),
{_shingles_cte('docs_c')},
{_minhash_lsh_ctes()},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clus AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
SELECT doc_id FROM docs_c
WHERE doc_id NOT IN (SELECT doc_id FROM clus WHERE doc_id != cluster_id)
"""


# ---------------------------------------------------------------- contamination
def q_contamination(spark, sf_dir):
    """Benchmark decontamination: per-training-doc fraction of 3-gram
    shingles that appear in the (synthesized, doc_id % 17 == 0) eval set —
    broadcast the eval shingle set, never shuffle the corpus side."""
    d = _docs_par(spark, sf_dir)
    train = d.filter(F.col("doc_id") % 17 != 0)
    ev = d.filter(F.col("doc_id") % 17 == 0)
    return dedup.contamination_scores(train, ev)


ORACLE_CONTAMINATION = f"""
WITH {_side_shingles_cte('tr', 'doc_id % 17 <> 0')},
{_side_shingles_cte('ev', 'doc_id % 17 = 0')}
SELECT t.doc_id,
       count(*)::BIGINT AS n_shingles,
       count(e.shingle)::BIGINT AS n_overlap,
       floor((count(e.shingle) * 1.0 / count(*)) * 10000) / 10000 AS contamination
FROM tr_sh t
LEFT JOIN (SELECT DISTINCT shingle FROM ev_sh) e ON t.shingle = e.shingle
GROUP BY t.doc_id
"""


# ---------------------------------------------------------------- SimHash
def q_simhash(spark, sf_dir):
    """SimHash(16-bit) signatures per document (bit-vote over token hashes)."""
    d = _docs_par(spark, sf_dir)
    return dedup.simhash(d, bits=16)


_SIMHASH_CTE = rf"""
toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
h AS (SELECT doc_id, {_PHASH.format(x='tok')} AS h FROM toks),
votes AS (
  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS v
  FROM h CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bits
  GROUP BY doc_id, b
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id
)
"""


ORACLE_SIMHASH = f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sig"


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, hamming ≤ 1 via half-signature banding
    (pigeonhole-exhaustive at this distance, so the all-pairs oracle agrees)."""
    d = _docs_par(spark, sf_dir)
    sig = dedup.simhash(d, bits=16)
    pairs = dedup.simhash_near_pairs(sig, bits=16, max_hamming=1)
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


ORACLE_SIMHASH_PAIRS = f"""
WITH {_SIMHASH_CTE}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
"""


def q_chunk_dedup(spark, sf_dir):
    """Passage-level exact dedup (operators/text.chunk_dedup): disjoint
    32-token chunks, first corpus-wide occurrence wins; per-doc kept/dup
    counts. One hash-keyed window shuffle + one per-doc agg, integer-only."""
    return text.chunk_dedup(_docs_par(spark, sf_dir), size=32)


ORACLE_CHUNK_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
chunks AS (
  SELECT doc_id, (pos - 1) // 32 AS chunk_id,
         string_agg(tok, ' ' ORDER BY pos) AS chunk_text
  FROM toks GROUP BY 1, 2
),
flagged AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id) AS rk
  FROM chunks
)
SELECT doc_id, count(*) AS n_chunks,
       sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)::BIGINT AS kept_chunks,
       sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_chunks
FROM flagged GROUP BY 1
"""


# ---------------------------------------------------------------- LSH band tuning sweep
def _lsh_cfg_ctes(tag: str, rpb: int) -> str:
    """Banded/cand/verified-count CTE chain for one band config, prefixed
    ``tag`` — reuses the shared hashed/seeded/sz/inter CTEs."""
    return f"""
{tag}_banded AS (
  SELECT doc_id, (seed // {rpb})::INT AS band,
         string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
  FROM seeded GROUP BY doc_id, band
),
{tag}_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {tag}_banded a JOIN {tag}_banded b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
{tag}_ver AS (
  SELECT count(*) AS n FROM inter i
  JOIN {tag}_cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
  WHERE floor((i.i * 1.0 / (x.sz + y.sz - i.i)) * 10000) / 10000 >= 0.5
)"""


def q_lsh_tune(spark, sf_dir):
    """LSH band-configuration sweep — the tuning report a dedup run
    publishes before committing a config: for the SAME 16 MinHashes,
    candidate volume and verified-pair yield per (bands × rows_per_band).
    More bands of fewer rows raises recall and candidate volume (the
    S-curve steepens left); the sweep quantifies the candidate-budget
    tradeoff. One shingle pass and one signature pass feed all three
    configs — only the banding aggregate differs per config."""
    chain = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir)))
    sigs = chain.sigs.cache()
    # The configs' candidate sets are nested for the same 16 hashes (an
    # 8-row band match implies both 4-row band matches implies all 2-row
    # band matches), so the shingle-intersection verification runs ONCE
    # over the UNION of the candidate sets, and each config's verified
    # count is a pair semi-join against that shared cached frame. jaccard
    # is a pure function of the pair, so ver ∩ cands_cfg is exactly the
    # per-config verification result.
    cands_by_cfg = {
        (bands, rpb): dedup.lsh_candidate_pairs(sigs, rows_per_band=rpb).cache()
        if (bands, rpb) != (4, 4)
        else chain.cands
        for bands, rpb in ((2, 8), (4, 4), (8, 2))
    }
    cands_union = None
    for c in cands_by_cfg.values():
        cands_union = c if cands_union is None else cands_union.unionByName(c)
    cands_union = cands_union.distinct()
    ver_all = dedup.jaccard_pairs(
        chain.sh, threshold=0.5, candidates=cands_union
    ).cache()
    outs = []
    for (bands, rpb), cands in cands_by_cfg.items():
        ver = ver_all.join(cands, ["doc_a", "doc_b"], "left_semi")
        outs.append(
            cands.agg(F.count(F.lit(1)).alias("n_candidates"))
            .crossJoin(F.broadcast(ver.agg(F.count(F.lit(1)).alias("n_verified"))))
            .select(
                F.lit(bands).alias("bands"),
                F.lit(rpb).alias("rows_per_band"),
                "n_candidates",
                "n_verified",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


ORACLE_LSH_TUNE = f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
{_lsh_cfg_ctes('b2', 8)},
{_lsh_cfg_ctes('b8', 2)}
SELECT 2 AS bands, 8 AS rows_per_band,
       (SELECT count(*) FROM b2_cand)::BIGINT AS n_candidates,
       (SELECT n FROM b2_ver)::BIGINT AS n_verified
UNION ALL
SELECT 4, 4,
       (SELECT count(*) FROM cand)::BIGINT,
       (SELECT count(*) FROM verified WHERE jaccard >= 0.5)::BIGINT
UNION ALL
SELECT 8, 2,
       (SELECT count(*) FROM b8_cand)::BIGINT,
       (SELECT n FROM b8_ver)::BIGINT
"""


# ------------------------------------------- duplicated-n-gram rate (k=8)
def q_dup_ngram_rate(spark, sf_dir):
    """Per-doc duplicated 8-gram fraction + drop verdict — the aggregate
    form of exact-substring dedup (drop boilerplate-heavy docs whole)."""
    return dedup.dup_ngram_stats(_docs_par(spark, sf_dir))


def _shingles8_cte(src: str = "documents") -> str:
    leads = " || ' ' || ".join(f"lead(tok, {j}) OVER w" for j in range(1, 8))
    return rf"""
toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM {src}
),
sh AS (
  SELECT DISTINCT doc_id, tok || ' ' || {leads} AS shingle
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 7) OVER w IS NOT NULL
)
"""


ORACLE_DUP_NGRAM = rf"""
WITH {_shingles8_cte()},
shh AS (
  SELECT doc_id,
         (('0x' || substr(md5('dng:' || shingle), 1, 15)))::BIGINT AS sh64
  FROM sh
),
cnt AS (SELECT sh64, count(*) AS ndocs FROM shh GROUP BY 1),
per AS (
  SELECT doc_id, count(*)::BIGINT AS n_shingles,
         sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
  FROM shh JOIN cnt USING (sh64)
  GROUP BY doc_id
)
SELECT doc_id, n_shingles, n_dup,
       floor(1000 * n_dup * 1.0 / n_shingles)::BIGINT AS dup_rate_milli,
       floor(1000 * n_dup * 1.0 / n_shingles)::BIGINT >= 300 AS drop_doc
FROM per
"""


# ------------------------------------------------------- cluster-size profile
def q_cluster_stats(spark, sf_dir):
    """Duplicate-cluster size histogram: how big near-dup clusters get — the
    dedup-policy sizing number (a corpus where the top cluster holds 10% of
    docs needs boilerplate handling, not pairwise dedup). Same verified-pair
    + connected-components chain as x_dedup_clusters, one extra two-level
    aggregate."""
    members = _dup_members(spark, sf_dir)
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).alias("n_docs"),
    )


ORACLE_CLUSTER_STATS = f"""
WITH members AS ({ORACLE_DEDUP_CLUSTERS}),
csize AS (
  SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM members GROUP BY 1
)
SELECT cluster_size, count(*) AS n_clusters,
       (count(*) * cluster_size)::BIGINT AS n_docs
FROM csize GROUP BY cluster_size
"""


# ------------------------------------------------- asymmetric containment
def q_containment(spark, sf_dir):
    """Shingle containment pairs |A∩B|/|A| at ≥0.8 either direction
    (operators/dedup.containment_pairs) — the subset/quote-duplication
    signal Jaccard misses. Candidates from the same MinHash/LSH banding as
    x_minhash_lsh; verification is left-semi pruned to candidate docs."""
    chain = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir)))
    return dedup.containment_pairs(chain.sh, threshold=0.8, candidates=chain.cands)


ORACLE_CONTAINMENT = f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
cont AS (
  SELECT i.doc_a, i.doc_b,
         floor((i.i * 1.0 / x.sz) * 10000) / 10000 AS cont_a,
         floor((i.i * 1.0 / y.sz) * 10000) / 10000 AS cont_b
  FROM inter i
  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
)
SELECT doc_a, doc_b, cont_a, cont_b FROM cont
WHERE cont_a >= 0.8 OR cont_b >= 0.8
"""


# ------------------------------------------- exact-substring dedup spans
def q_dup_spans(spark, sf_dir):
    """Maximal duplicated 8-gram token spans per document — the EXCISION
    form of exact-substring dedup (operators/dedup.duplicated_spans): a
    curation pass cuts these spans and keeps the remainder, instead of
    dropping whole docs past a duplication threshold (x_dup_ngram_rate is
    that aggregate form). All-integer output (1-based inclusive token
    indices), keyed windows only."""
    return dedup.duplicated_spans(_docs_par(spark, sf_dir))


def _pos_grams8_cte(src: str = "documents") -> str:
    leads = " || ' ' || ".join(f"lead(tok, {j}) OVER w" for j in range(1, 8))
    return rf"""
toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM {src}
),
grams AS (
  SELECT doc_id, pos AS p, tok || ' ' || {leads} AS g
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 7) OVER w IS NOT NULL
)
"""


ORACLE_DUP_SPANS = rf"""
WITH {_pos_grams8_cte()},
h AS (
  SELECT doc_id, p,
         (('0x' || substr(md5('ds:' || g), 1, 15)))::BIGINT AS g64
  FROM grams
),
dup AS (
  SELECT doc_id, p FROM (
    SELECT doc_id, p, count(*) OVER (PARTITION BY g64) AS n FROM h
  ) WHERE n >= 2
),
isl AS (
  SELECT doc_id, p,
         CASE WHEN max(p + 7) OVER prev IS NULL
                OR p > max(p + 7) OVER prev + 1
              THEN 1 ELSE 0 END AS newf
  FROM dup
  WINDOW prev AS (PARTITION BY doc_id ORDER BY p
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl2 AS (
  SELECT doc_id, p,
         sum(newf) OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM isl
)
SELECT doc_id, min(p)::BIGINT AS span_start, (max(p) + 7)::BIGINT AS span_end,
       count(*)::BIGINT AS n_dup_grams
FROM isl2 GROUP BY doc_id, island
"""


# --------------------------------------------- incremental (delta) dedup
def q_dedup_incremental(spark, sf_dir):
    """Incremental-ingest dedup: each INCOMING doc (doc_id % 5 == 0, the
    new snapshot) is checked against the BASE corpus (% 5 != 0) — 'exact'
    on a fingerprint match, else 'near' on an LSH-candidate pair that
    verifies at Jaccard >= 0.5 against a base doc, else 'new'. The
    production shape for continuous corpus ingestion: in a deployment the
    base side's band signatures are a PRECOMPUTED persisted index and
    only the incoming delta is shingled/hashed per batch; candidates come
    from the (band, band_sig) bucket join — never incoming x base
    all-pairs — and the quadratic verify sees candidate docs only.
    max_jaccard is 4dp floor-truncated (grid-exact both engines), null
    unless the verdict is 'near'."""
    d = _docs_par(spark, sf_dir)
    inc_pred = F.col("doc_id") % 5 == 0
    incoming = d.filter(inc_pred)
    base_fp = (
        d.filter(~inc_pred)
        .select(dedup.fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    exact = (
        incoming.select("doc_id", dedup.fingerprint(F.col("text")).alias("fp"))
        .join(base_fp, "fp", "left_semi")
        .select("doc_id")
        .withColumn("_e", F.lit(1))
    )
    sh = dedup.shingles(d).cache()
    # the band rows feed both sides of the bucket join and the candidate
    # pairs feed jaccard_pairs' two side prunes and its pair semi-join;
    # both are narrow, and uncached each would be recomputed per reader
    bands = dedup.doc_bands(sh).cache()
    bi = bands.filter(inc_pred).select("band", "band_sig", F.col("doc_id").alias("_i"))
    bb = bands.filter(~inc_pred).select("band", "band_sig", F.col("doc_id").alias("_b"))
    candidates = (
        bi.join(bb, ["band", "band_sig"])
        .select(
            F.least("_i", "_b").alias("doc_a"),
            F.greatest("_i", "_b").alias("doc_b"),
        )
        .distinct()
        .cache()
    )
    jac = dedup.jaccard_pairs(sh, threshold=0.5, candidates=candidates)
    near = (
        jac.select(
            F.when(F.col("doc_a") % 5 == 0, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id"),
            "jaccard",
        )
        .groupBy("doc_id")
        .agg(F.max("jaccard").alias("_mj"))
    )
    return (
        incoming.select("doc_id")
        .join(F.broadcast(exact), "doc_id", "left")
        .join(F.broadcast(near), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_e") == 1, F.lit("exact"))
            .when(F.col("_mj").isNotNull(), F.lit("near"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.when(F.col("_e").isNull(), F.col("_mj")).alias("max_jaccard"),
        )
    )


ORACLE_DEDUP_INCREMENTAL = rf"""
WITH {_SHINGLES_CTE},{_minhash_band_ctes()},
cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                  greatest(a.doc_id, b.doc_id) AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_sig = b.band_sig
   AND a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
verified AS (
  SELECT i.doc_a, i.doc_b,
         floor((i.i * 1.0 / (x.sz + y.sz - i.i)) * 10000) / 10000 AS jaccard
  FROM inter i
  JOIN cand c ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
),
exact AS (
  SELECT DISTINCT i.doc_id
  FROM documents i
  JOIN documents b
    ON md5(lower(trim(i.text))) = md5(lower(trim(b.text)))
   AND b.doc_id % 5 != 0
  WHERE i.doc_id % 5 = 0
),
near AS (
  SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS doc_id,
         max(jaccard) AS mj
  FROM verified WHERE jaccard >= 0.5
  GROUP BY 1
)
SELECT i.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
            WHEN n.doc_id IS NOT NULL THEN 'near'
            ELSE 'new' END AS verdict,
       CASE WHEN e.doc_id IS NULL THEN n.mj END AS max_jaccard
FROM documents i
LEFT JOIN exact e ON i.doc_id = e.doc_id
LEFT JOIN near n ON i.doc_id = n.doc_id
WHERE i.doc_id % 5 = 0
"""


# ---------------------------------------------------------------- soft dedup (reweight, not drop)
def q_soft_dedup(spark, sf_dir):
    """SoftDeDup: keep every doc, downweight by near-dup cluster size
    (operators/dedup.soft_dedup_weights) — the reweighting alternative to
    the keep-one policies (x_dedup_corpus*). Same MinHash/LSH → verified
    pairs → connected-components chain as x_dedup_clusters, then one tiny
    size agg + a doc_id-keyed left join back to the corpus; weights on an
    integer 1e-6 grid."""
    d = _docs_par(spark, sf_dir)
    members = _dup_members(spark, sf_dir)
    return dedup.soft_dedup_weights(d, members)


ORACLE_SOFT_DEDUP = f"""
WITH members AS ({ORACLE_DEDUP_CLUSTERS}),
sizes AS (SELECT cluster_id, count(*) AS n FROM members GROUP BY 1),
m AS (SELECT doc_id, n FROM members JOIN sizes USING (cluster_id))
SELECT d.doc_id,
       coalesce(m.n, 1)::BIGINT AS cluster_size,
       (1000000 // coalesce(m.n, 1))::BIGINT AS weight_micro
FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
"""


# ---------------------------------------------------------------- source-overlap matrix
def q_source_overlap(spark, sf_dir):
    """Source×source near-duplicate overlap matrix: LSH-verified pairs
    (jaccard ≥ 0.5 — the x_dedup_clusters edge set) joined to each
    endpoint's source, counted per UNORDERED source pair — the corpus
    governance view that localizes duplication (mirror sites show up as
    hot off-diagonal cells; boilerplate as a hot diagonal). The pair frame
    is the tiny LSH-verified set, so the source joins are trivially
    broadcast-able; no new corpus scan beyond the shared shingle frame."""
    d = _docs_par(spark, sf_dir)
    near = dedup.near_dup_chain(dedup.shingles(d)).near
    src = d.select("doc_id", "source")
    pairs = (
        near.join(src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa")), "doc_a")
        .join(src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb")), "doc_b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


ORACLE_SOURCE_OVERLAP = f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
near AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5)
SELECT least(x.source, y.source) AS source_a,
       greatest(x.source, y.source) AS source_b,
       count(*)::BIGINT AS n_pairs
FROM near n
JOIN documents x ON n.doc_a = x.doc_id
JOIN documents y ON n.doc_b = y.doc_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------- quality vs duplication interaction
def q_quality_vs_dup(spark, sf_dir):
    """Does duplication correlate with quality? Mean classifier logit and
    keep-rate per near-dup CLUSTER-SIZE BAND (unique / pair / small 3-9 /
    large 10+) — the empirical check behind dedup-before-filter vs
    filter-before-dedup pipeline ordering debates (if big dup families
    score systematically lower, dedup first and save classifier compute).

    Reuses the verified components end-to-end: exact+LSH cluster sizes
    from the same banded pipeline x_cluster_stats audits, quality logits
    from the frozen classifier — joined on doc_id, docs in no cluster
    counted as band 'unique'. Integer milli means via exact BIGINT sums.

    Scale shape: the dedup side is the bucketed LSH chain (never
    all-pairs); the interaction itself is one broadcast-scale join of the
    tiny cluster-size table onto the classifier projection plus a 4-row
    aggregate."""
    d = _docs_par(spark, sf_dir)
    clusters = _dup_members(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cl_size")
    )
    doc_size = clusters.join(sizes, "cluster_id").select("doc_id", "cl_size")
    clf = text.quality_classifier(d).select(
        "doc_id", "logit_milli", F.col("keep").cast("long").alias("k")
    )
    joined = clf.join(doc_size, "doc_id", "left").select(
        "logit_milli",
        "k",
        F.when(F.col("cl_size").isNull(), F.lit("1_unique"))
        .when(F.col("cl_size") == 2, F.lit("2_pair"))
        .when(F.col("cl_size") <= 9, F.lit("3_small"))
        .otherwise(F.lit("4_large"))
        .alias("band"),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("CAST(sum(logit_milli) DIV count(*) AS BIGINT)").alias(
            "mean_logit_milli"
        ),
        F.expr("CAST(sum(k) * 1000 DIV count(*) AS BIGINT)").alias("keep_milli"),
    )


def _oracle_quality_vs_dup() -> str:
    # hoist ORACLE_DEDUP_CLUSTERS' recursive CTE chain to this query's top
    # level (CTE definitions cannot nest inside a subquery) and re-express
    # its final SELECT as the `clusters` CTE
    inner = ORACLE_DEDUP_CLUSTERS.replace("WITH RECURSIVE", "", 1).strip()
    ctes, _final = inner.rsplit("SELECT src AS doc_id", 1)
    return f"""
WITH RECURSIVE cls AS ({ORACLE_QUALITY_CLASSIFIER}),
{ctes.rstrip().rstrip(',')},
clusters AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src
),
sizes AS (
  SELECT cluster_id, count(*)::BIGINT AS cl_size FROM clusters GROUP BY 1
),
doc_size AS (
  SELECT c.doc_id, s.cl_size FROM clusters c JOIN sizes s USING (cluster_id)
),
j AS (
  SELECT cls.logit_milli, (CASE WHEN cls.keep THEN 1 ELSE 0 END)::BIGINT AS k,
         CASE WHEN d.cl_size IS NULL THEN '1_unique'
              WHEN d.cl_size = 2 THEN '2_pair'
              WHEN d.cl_size <= 9 THEN '3_small'
              ELSE '4_large' END AS band
  FROM cls LEFT JOIN doc_size d USING (doc_id)
)
SELECT band, count(*)::BIGINT AS n_docs,
       (sum(logit_milli) // count(*))::BIGINT AS mean_logit_milli,
       (sum(k) * 1000 // count(*))::BIGINT AS keep_milli
FROM j GROUP BY 1
"""


def q_winnowing(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): slide a w=4 window over the k=3-gram
    hash sequence and keep each window's minimum hash, rightmost on ties.
    Guarantees at least one shared fingerprint for any match of length
    >= w + k - 1 while storing only ~2/(w+1) of the grams — the
    position-robust local fingerprint that doc-level md5 (x_fingerprint)
    and bag-of-shingles MinHash (x_minhash_lsh) both miss.

    The rightmost-tie rule is encoded arithmetically so ONE keyed window
    min does the whole selection: enc = h * 2^20 + (2^20 - 1 - pos) —
    smaller hash wins first, larger position wins ties — over the
    portable 40-bit md5-derived gram hash. Positions are bounded 2^20
    per doc (a 1M-gram document; longer docs should be chunked by
    x_rag_chunks first, documented cap).

    Output per doc: gram count, selected-fingerprint count, and the
    selection density on the milli grid (the winnowing bound predicts
    ~2000/(w+1) = 400).

    Scale shape: tokenize/gram/hash are pure map-side column expressions;
    the window min and the dedup aggregate are both KEYED by doc_id — no
    global sort, no single-partition exchange, one shuffle end-to-end."""
    d = _docs_par(spark, sf_dir)
    sel = winnow_selected(d)
    return (
        sel.groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_selected"))
        .select(
            "doc_id",
            "n_grams",
            "n_selected",
            F.expr("CAST(n_selected * 1000 DIV n_grams AS BIGINT)").alias(
                "density_milli"
            ),
        )
    )


def winnow_selected(d):
    """The winnowing selection frame (doc_id, n_grams, enc_sel) — shared by
    q_winnowing (density stats) and q_winnow_pairs (cross-doc matching;
    it strips the position field to compare raw fingerprints)."""

    POS_M = 1 << 20
    toks = tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
    parts = ", ".join(f"element_at(_toks, i + {j})" for j in range(3))
    gram_arr = F.expr(
        "CASE WHEN size(_toks) >= 3 THEN "
        f"transform(sequence(1, size(_toks) - 2), i -> concat_ws(' ', {parts})) "
        "ELSE array() END"
    )
    grams = (
        d.select("doc_id", toks.alias("_toks"))
        .select(
            "doc_id",
            (F.size("_toks") - 2).cast("bigint").alias("n_grams"),
            F.posexplode(gram_arr).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            "n_grams",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            F.pmod(
                portable_hash64(F.concat(F.lit("win:"), F.col("gram"))),
                F.lit(1 << 40),
            ).alias("h"),
        )
        .withColumn(
            "enc", F.col("h") * F.lit(POS_M) + (F.lit(POS_M - 1) - F.col("pos"))
        )
    )
    from pyspark.sql import Window

    wv = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    return (
        grams.withColumn("enc_sel", F.min("enc").over(wv))
        .filter(F.col("pos") >= F.least(F.lit(4), F.col("n_grams")))
        .select("doc_id", "n_grams", "enc_sel")
        .distinct()
    )


ORACLE_WINNOWING = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, (len(t) - 2)::BIGINT AS n_grams, i::BIGINT AS pos,
         t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
  FROM toks CROSS JOIN LATERAL (SELECT unnest(range(1, greatest(len(t) - 1, 1))) AS i) r
  WHERE len(t) >= 3
),
enc AS (
  SELECT doc_id, n_grams, pos,
         (('0x' || substr(md5('win:' || gram), 1, 15))::BIGINT % 1099511627776)
           * 1048576 + (1048575 - pos) AS enc
  FROM grams
),
win AS (
  SELECT doc_id, n_grams, pos,
         min(enc) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS enc_sel
  FROM enc
),
sel AS (
  SELECT DISTINCT doc_id, n_grams, enc_sel
  FROM win WHERE pos >= least(4, n_grams)
)
SELECT doc_id, n_grams, count(*)::BIGINT AS n_selected,
       (count(*) * 1000 // n_grams)::BIGINT AS density_milli
FROM sel GROUP BY 1, 2
"""


def q_winnow_pairs(spark, sf_dir):
    """MOSS match stage over the winnowing fingerprints: documents sharing
    selected fingerprints are near-dup candidates, scored by how many
    fingerprints they share and by overlap relative to the smaller
    selection (the containment analog on the winnowed sketch). This is
    the local-order-robust complement to MinHash: bag-of-shingles LSH
    scores global set overlap, winnowing match scores CONTIGUOUS shared
    runs (any match of length >= w + k - 1 shares a fingerprint by the
    winnowing guarantee).

    Scale shape: the per-doc selection is ~2/(w+1) of grams; matching is
    a fingerprint-bucket self-join with a hub cap (fingerprints in > 50
    docs are dropped — the LSH band-cap pattern; a fingerprint that
    common is boilerplate, not a pair signal), then one (a, b) hash agg.
    Top-50 by shared count via TakeOrderedAndProject."""
    d = _docs_par(spark, sf_dir)
    sel = winnow_selected(d)
    # strip the position field: cross-doc matching compares raw 40-bit
    # fingerprints
    fps = sel.select(
        "doc_id", F.expr("CAST(enc_sel DIV 1048576 AS BIGINT)").alias("fp")
    ).distinct().cache()
    n_sel = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sel"))
    # hub cap as a broadcast ANTI-join against the HOT fingerprints: the
    # hot set (bn > 50) is small at any corpus size, while the ok set is
    # proportional to the corpus — broadcasting the latter would be the
    # r2 bloom-join mistake inverted
    hot = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("bn")).filter(
        F.col("bn") > 50
    )
    fb = fps.join(F.broadcast(hot.select("fp")), "fp", "left_anti")
    pairs = (
        fb.alias("x")
        .join(fb.alias("y"), "fp")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
    )
    na = n_sel.select(F.col("doc_id").alias("doc_a"), F.col("n_sel").alias("na"))
    nb = n_sel.select(F.col("doc_id").alias("doc_b"), F.col("n_sel").alias("nb"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            F.expr(
                "CAST(shared_fps * 1000 DIV least(na, nb) AS BIGINT)"
            ).alias("overlap_milli"),
        )
        .orderBy(F.col("shared_fps").desc(), "doc_a", "doc_b")
        .limit(50)
    )


ORACLE_WINNOW_PAIRS = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, (len(t) - 2)::BIGINT AS n_grams, i::BIGINT AS pos,
         t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
  FROM toks CROSS JOIN LATERAL (SELECT unnest(range(1, greatest(len(t) - 1, 1))) AS i) r
  WHERE len(t) >= 3
),
enc AS (
  SELECT doc_id, n_grams, pos,
         (('0x' || substr(md5('win:' || gram), 1, 15))::BIGINT % 1099511627776)
           * 1048576 + (1048575 - pos) AS enc
  FROM grams
),
win AS (
  SELECT doc_id, pos, n_grams,
         min(enc) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS enc_sel
  FROM enc
),
fps AS (
  SELECT DISTINCT doc_id, (enc_sel // 1048576)::BIGINT AS fp
  FROM win WHERE pos >= least(4, n_grams)
),
n_sel AS (SELECT doc_id, count(*)::BIGINT AS n_sel FROM fps GROUP BY 1),
ok AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
fb AS (SELECT f.doc_id, f.fp FROM fps f JOIN ok USING (fp)),
pairs AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*)::BIGINT AS shared_fps
  FROM fb x JOIN fb y ON x.fp = y.fp AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.shared_fps,
       (p.shared_fps * 1000 // least(a.n_sel, b.n_sel))::BIGINT AS overlap_milli
FROM pairs p
JOIN n_sel a ON a.doc_id = p.doc_a
JOIN n_sel b ON b.doc_id = p.doc_b
ORDER BY p.shared_fps DESC, p.doc_a, p.doc_b LIMIT 50
"""


def q_prefix_templates(spark, sf_dir):
    """Opening-template detection: documents sharing their first 8 tokens
    are instances of one generation/scrape template (form letters, SEO
    pages, log preambles) — the doc-level complement to x_boilerplate's
    line-level screen. Output: the top-20 templates by instance count
    (ties by prefix) with an example doc, plus a '__summary__' row with
    the templated-doc share on the milli grid.

    Scale shape: prefix extraction is a pure slice expression; ONE hash
    agg keyed by the prefix; the summary is a scalar rollup of the
    bounded template frame. Top-k via TakeOrderedAndProject."""
    d = _docs_par(spark, sf_dir)
    toks = tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
    pref = (
        d.select("doc_id", toks.alias("_toks"))
        .filter(F.size("_toks") >= 8)
        .select(
            "doc_id",
            F.expr("concat_ws(' ', slice(_toks, 1, 8))").alias("prefix"),
        )
    )
    groups = pref.groupBy("prefix").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("example_doc"),
    ).cache()
    top = (
        groups.filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "prefix")
        .limit(20)
        .withColumn("templated_milli", F.lit(None).cast("bigint"))
    )
    summary = (
        groups.agg(
            F.sum("n_docs").alias("_total"),
            F.coalesce(
                F.sum(F.when(F.col("n_docs") >= 2, F.col("n_docs"))), F.lit(0)
            ).alias("_templated"),
        )
        .select(
            F.lit("__summary__").alias("prefix"),
            F.col("_templated").cast("bigint").alias("n_docs"),
            F.lit(None).cast("bigint").alias("example_doc"),
            F.expr("CAST(_templated * 1000 DIV _total AS BIGINT)").alias(
                "templated_milli"
            ),
        )
    )
    return top.unionByName(summary)


ORACLE_PREFIX_TEMPLATES = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
pref AS (
  SELECT doc_id, array_to_string(t[1:8], ' ') AS prefix
  FROM toks WHERE len(t) >= 8
),
groups AS (
  SELECT prefix, count(*)::BIGINT AS n_docs, min(doc_id)::BIGINT AS example_doc
  FROM pref GROUP BY 1
),
top AS (
  SELECT prefix, n_docs, example_doc, NULL::BIGINT AS templated_milli
  FROM groups
  WHERE n_docs >= 2 ORDER BY n_docs DESC, prefix LIMIT 20
),
summary AS (
  SELECT '__summary__' AS prefix,
         coalesce(sum(CASE WHEN n_docs >= 2 THEN n_docs END), 0)::BIGINT AS n_docs,
         NULL::BIGINT AS example_doc,
         (coalesce(sum(CASE WHEN n_docs >= 2 THEN n_docs END), 0) * 1000
          // sum(n_docs))::BIGINT AS templated_milli
  FROM groups
)
SELECT * FROM top UNION ALL SELECT * FROM summary
"""


def q_dedup_f1(spark, sf_dir):
    """Full precision/recall/F1 audit of the MinHash(16)/LSH(4x4) dedup
    candidate generator against exact Jaccard >= 0.5 truth — closing the
    evaluation loop x_lsh_recall leaves half-open (recall alone rewards
    flooding; precision tells you how much exact-verification work each
    candidate costs; F1 is the tuning scalar for x_lsh_tune's band
    sweep). With P = TP/C and R = TP/T, F1 reduces to 2*TP/(T + C) — so
    all three emit as integer divisions on the 1e-4 grid, no float
    arithmetic anywhere.

    Scale shape: identical to x_lsh_recall — the truth side is the
    bucketed shared-shingle join (never all-pairs; run on a sample in
    production, this query IS the sample shape), the candidate side the
    banded LSH self-join; one scalar aggregate each."""
    chain = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir)))
    truth = dedup.jaccard_pairs(chain.sh, threshold=0.5)
    cands = chain.cands
    flagged = truth.join(
        cands.withColumn("_c", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    t_agg = flagged.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum(F.coalesce("_c", F.lit(0))).cast("bigint").alias("n_tp"),
    )
    c_agg = cands.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    return t_agg.crossJoin(F.broadcast(c_agg)).select(
        "n_true_pairs",
        "n_candidate_pairs",
        "n_tp",
        # greatest(...,1): an empty candidate or truth set must yield 0.0,
        # not a NULL-vs-error engine split (Spark DIV -> NULL, DuckDB //
        # -> raise) — same guard as x_dup_inflation's tokens_unique.
        (F.expr("(n_tp * 10000) div greatest(n_candidate_pairs, 1)") / F.lit(10000.0)).alias(
            "precision"
        ),
        (F.expr("(n_tp * 10000) div greatest(n_true_pairs, 1)") / F.lit(10000.0)).alias(
            "recall"
        ),
        (
            F.expr("(2 * n_tp * 10000) div greatest(n_true_pairs + n_candidate_pairs, 1)")
            / F.lit(10000.0)
        ).alias("f1"),
    )


ORACLE_DEDUP_F1 = f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
truth AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
  WHERE floor((i.i * 1.0 / (x.sz + y.sz - i.i)) * 10000) / 10000 >= 0.5
),
flags AS (
  SELECT t.doc_a, CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
  FROM truth t LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT count(*)::BIGINT AS n_true_pairs,
       (SELECT count(*) FROM cand)::BIGINT AS n_candidate_pairs,
       sum(caught)::BIGINT AS n_tp,
       ((sum(caught) * 10000) // greatest((SELECT count(*) FROM cand), 1)) / 10000.0 AS precision,
       ((sum(caught) * 10000) // greatest(count(*), 1)) / 10000.0 AS recall,
       ((2 * sum(caught) * 10000) // greatest(count(*) + (SELECT count(*) FROM cand), 1)) / 10000.0 AS f1
FROM flags
"""


def q_dup_inflation(spark, sf_dir):
    """Duplicate token-inflation factor per source — the storage/compute
    waste metric a dedup pass is justified by: tokens in ALL docs vs
    tokens in exact-canonical docs only (min doc id per normalized-text
    fingerprint, corpus-wide — a cross-source duplicate counts only for
    the source holding its canonical copy). inflation_milli >= 1000;
    1420 reads "this source pays 1.42x its unique token volume". Plus a
    '__total__' corpus row.

    Scale shape: one fingerprint hash agg (map-side combined), a
    doc-keyed semi-join to keep canonicals, two per-source aggregates.
    Nothing beyond |docs| state; the reused fingerprint/canonical pieces
    are the ones x_dedup_exact verifies."""
    d = _docs_par(spark, sf_dir)
    toks = F.size(tokenize.whitespace_tokens(dedup.normalize_text(F.col("text"))))
    base = d.select(
        "doc_id", "source", toks.cast("bigint").alias("n_toks"),
        dedup.fingerprint(F.col("text")).alias("fp"),
    ).cache()
    canon = base.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    per_all = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").alias("tokens_all"),
    )
    per_u = (
        base.join(canon.select("doc_id"), "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.sum("n_toks").alias("tokens_unique"))
    )
    per = per_all.join(per_u, "source").select(
        "source", "n_docs", "tokens_all", "tokens_unique",
        # greatest(...,1): a source whose every doc is a cross-source dup
        # holds zero canonical tokens — Spark DIV would NULL, DuckDB //
        # would raise (the Benford-class engine split); 1 keeps the row
        # with an honest huge factor instead
        F.expr(
            "CAST(tokens_all * 1000 DIV greatest(tokens_unique, 1) AS BIGINT)"
        ).alias("inflation_milli"),
    )
    tot = per.agg(
        F.lit("__total__").alias("source"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("tokens_all").cast("bigint").alias("tokens_all"),
        F.sum("tokens_unique").cast("bigint").alias("tokens_unique"),
        F.expr(
            "CAST(sum(tokens_all) * 1000 DIV greatest(sum(tokens_unique), 1) AS BIGINT)"
        ).alias("inflation_milli"),
    )
    return per.unionByName(tot)


ORACLE_DUP_INFLATION = f"""
WITH base AS (
  SELECT doc_id, source, len({_TOKS})::BIGINT AS n_toks,
         md5(lower(trim(text))) AS fp
  FROM documents
),
canon AS (SELECT fp, min(doc_id) AS doc_id FROM base GROUP BY 1),
per_all AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(n_toks)::BIGINT AS tokens_all
  FROM base GROUP BY 1
),
per_u AS (
  SELECT b.source, sum(b.n_toks)::BIGINT AS tokens_unique
  FROM base b JOIN canon c ON b.doc_id = c.doc_id
  GROUP BY 1
),
per AS (
  SELECT a.source, a.n_docs, a.tokens_all, u.tokens_unique,
         (a.tokens_all * 1000 // greatest(u.tokens_unique, 1))::BIGINT AS inflation_milli
  FROM per_all a JOIN per_u u USING (source)
)
SELECT * FROM per
UNION ALL
SELECT '__total__', sum(n_docs)::BIGINT, sum(tokens_all)::BIGINT,
       sum(tokens_unique)::BIGINT,
       (sum(tokens_all) * 1000 // greatest(sum(tokens_unique), 1))::BIGINT
FROM per
"""


def q_cluster_size_hist(spark, sf_dir):
    """Near-duplicate cluster-size spectrum: how duplication mass is
    distributed — many small pairs (benign) vs a few huge template blobs
    (one bad scrape) — the shape that picks between keep-one dedup and
    soft-dedup reweighting (x_soft_dedup). Histogram of LSH-verified
    connected-component sizes, with docs in no near-dup pair entering as
    size-1 clusters.

    Scale shape: the cluster assignment is the verified x_dedup_clusters
    component pipeline; everything after is aggregates over |clusters|
    rows and two scalars."""
    d = _docs_par(spark, sf_dir)
    members = _dup_members(spark, sf_dir)
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("_nd"))
    n_mem = members.agg(F.count(F.lit(1)).alias("_nm"))
    singles = (
        n_docs.crossJoin(F.broadcast(n_mem))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("_nd") - F.col("_nm")).cast("bigint").alias("n_clusters"),
        )
    )
    return hist.unionByName(singles).orderBy("cluster_size")


ORACLE_CLUSTER_SIZE_HIST = f"""
WITH members AS ({ORACLE_DEDUP_CLUSTERS}),
sizes AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM members GROUP BY 1),
hist AS (SELECT cluster_size, count(*)::BIGINT AS n_clusters FROM sizes GROUP BY 1),
singles AS (
  SELECT 1::BIGINT AS cluster_size,
         ((SELECT count(*) FROM documents) - (SELECT count(*) FROM members))::BIGINT AS n_clusters
)
SELECT * FROM hist UNION ALL SELECT * FROM singles ORDER BY cluster_size
"""


def q_dedup_threshold_curve(spark, sf_dir):
    """Precision/recall curve of the MinHash(16)/LSH(4x4) candidate set
    across Jaccard truth thresholds {0.3, 0.5, 0.7} — x_dedup_f1's
    scalar swept into the curve that actually picks an operating point
    (raising the threshold shrinks the truth set: recall rises, the
    exact-verification cost per kept pair falls). One candidate set,
    three truth sets, all from ONE shared shingle frame and ONE verified
    pair frame filtered at each threshold; integer 1e-4 grid throughout.

    Scale shape: the all-pairs-free shapes of x_lsh_recall — one shared
    cached shingle frame feeds the candidate set and all three truth
    evaluations; the truth side stays the bucketed shared-shingle join,
    never all-pairs."""
    chain = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir)))
    cands = chain.cands
    # The three truth sets differ ONLY in the final threshold filter over
    # the same floored-1e-4 jaccard column, and thresholds are nested
    # (jac >= 0.5 ⊆ jac >= 0.3) — so the shingle-intersection verification
    # runs ONCE at the lowest threshold and the cached verified-pair frame
    # is filtered per curve point (one shingle self-join, not three).
    truth_all = dedup.jaccard_pairs(chain.sh, threshold=0.3).cache()
    out = None
    for thr_e1 in (3, 5, 7):
        truth = truth_all.filter(F.col("jaccard") >= thr_e1 / 10.0)
        flagged = truth.join(
            cands.withColumn("_c", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        t_agg = flagged.agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum(F.coalesce("_c", F.lit(0))).cast("bigint").alias("n_tp"),
        )
        c_agg = cands.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
        row = t_agg.crossJoin(F.broadcast(c_agg)).select(
            F.lit(thr_e1).cast("bigint").alias("threshold_e1"),
            "n_true_pairs",
            "n_candidate_pairs",
            "n_tp",
            (F.expr("(n_tp * 10000) div greatest(n_candidate_pairs, 1)") / F.lit(10000.0)).alias("precision"),
            (F.expr("(n_tp * 10000) div greatest(n_true_pairs, 1)") / F.lit(10000.0)).alias("recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("threshold_e1")


def _oracle_dedup_threshold_curve() -> str:
    rows = []
    for thr_e1 in (3, 5, 7):
        rows.append(f"""
SELECT {thr_e1}::BIGINT AS threshold_e1,
       count(*)::BIGINT AS n_true_pairs,
       (SELECT count(*) FROM cand)::BIGINT AS n_candidate_pairs,
       sum(caught)::BIGINT AS n_tp,
       ((sum(caught) * 10000) // greatest((SELECT count(*) FROM cand), 1)) / 10000.0 AS precision,
       ((sum(caught) * 10000) // greatest(count(*), 1)) / 10000.0 AS recall
FROM (
  SELECT CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
  FROM (
    SELECT i.doc_a, i.doc_b
    FROM inter i JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
    WHERE floor((i.i * 1.0 / (x.sz + y.sz - i.i)) * 10000) / 10000 >= 0.{thr_e1}
  ) t LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
) f""")
    body = "\nUNION ALL\n".join(rows)
    return f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
curve AS ({body})
SELECT * FROM curve ORDER BY threshold_e1
"""


# ---------------------------------------------------------------- train/held split leakage
def q_split_leakage(spark, sf_dir):
    """Train/held-out near-duplicate LEAKAGE audit: how many verified
    near-dup pairs (Jaccard >= 0.5) cross the doc_id % 17 holdout boundary
    (the same split x_dsir_resample / x_ngram_novelty use), and what share
    of held-out docs have a near-dup in train — the eval-integrity number
    exact-match decontamination (x_contamination) misses, because a
    PARAPHRASED eval doc still inflates the benchmark.

    Scale shape: one banded LSH candidate chain (never all-pairs), then a
    flag projection and two scalar aggregates; the contaminated-held-doc
    count is a distinct over the cross-pair endpoints, bounded by the
    pair count."""
    d = _docs_par(spark, sf_dir)
    pairs = dedup.near_dup_chain(dedup.shingles(d)).near
    t = pairs.select(
        "doc_a",
        "doc_b",
        (F.col("doc_a") % 17 == 0).alias("ha"),
        (F.col("doc_b") % 17 == 0).alias("hb"),
    ).cache()
    base = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum(F.when(F.col("ha") != F.col("hb"), 1).otherwise(0)), F.lit(0))
        .cast("bigint").alias("n_cross_pairs"),
        F.coalesce(F.sum(F.when(~F.col("ha") & ~F.col("hb"), 1).otherwise(0)), F.lit(0))
        .cast("bigint").alias("n_train_pairs"),
        F.coalesce(F.sum(F.when(F.col("ha") & F.col("hb"), 1).otherwise(0)), F.lit(0))
        .cast("bigint").alias("n_held_pairs"),
    )
    contam = (
        t.filter(F.col("ha") != F.col("hb"))
        .select(F.when(F.col("ha"), F.col("doc_a")).otherwise(F.col("doc_b")).alias("h"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_held_contaminated"))
    )
    held = d.filter(F.col("doc_id") % 17 == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_held_docs")
    )
    return (
        base.crossJoin(F.broadcast(contam))
        .crossJoin(F.broadcast(held))
        .select(
            "n_pairs", "n_cross_pairs", "n_train_pairs", "n_held_pairs",
            "n_held_docs", "n_held_contaminated",
            (F.expr("(n_held_contaminated * 10000) div greatest(n_held_docs, 1)")
             / F.lit(10000.0)).alias("leak_rate"),
        )
    )


ORACLE_SPLIT_LEAKAGE = f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
t AS (
  SELECT doc_a, doc_b, (doc_a % 17 = 0) AS ha, (doc_b % 17 = 0) AS hb
  FROM verified WHERE jaccard >= 0.5
),
base AS (
  SELECT count(*)::BIGINT AS n_pairs,
         coalesce(sum(CASE WHEN ha <> hb THEN 1 ELSE 0 END), 0)::BIGINT AS n_cross_pairs,
         coalesce(sum(CASE WHEN NOT ha AND NOT hb THEN 1 ELSE 0 END), 0)::BIGINT AS n_train_pairs,
         coalesce(sum(CASE WHEN ha AND hb THEN 1 ELSE 0 END), 0)::BIGINT AS n_held_pairs
  FROM t
),
contam AS (
  SELECT count(DISTINCT CASE WHEN ha THEN doc_a ELSE doc_b END)::BIGINT AS n_held_contaminated
  FROM t WHERE ha <> hb
),
held AS (SELECT count(*)::BIGINT AS n_held_docs FROM documents WHERE doc_id % 17 = 0)
SELECT n_pairs, n_cross_pairs, n_train_pairs, n_held_pairs,
       n_held_docs, n_held_contaminated,
       ((n_held_contaminated * 10000) // greatest(n_held_docs, 1)) / 10000.0 AS leak_rate
FROM base, contam, held
"""


# ---------------------------------------------------------------- cross-source mirror detection
def q_source_mirror(spark, sf_dir):
    """Which sources copy each other: verified near-dup pairs (Jaccard ≥
    0.5) rolled up to ORDERED source pairs — a heavy same-source diagonal
    means template boilerplate inside one crawl; heavy off-diagonal cells
    are mirror/scraper relationships, the signal for source-level dedup
    before doc-level dedup even runs.

    Scale shape: the banded LSH chain, two broadcast-sized joins onto the
    (doc_id, source) projection, one |sources|²-bounded aggregate."""
    d = _docs_par(spark, sf_dir)
    pairs = dedup.near_dup_chain(dedup.shingles(d)).near
    src = d.select("doc_id", "source")
    j = (
        pairs.join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "src_a"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "src_b"), "doc_b")
        .select(
            F.least(F.col("src_a"), F.col("src_b")).alias("source_a"),
            F.greatest(F.col("src_a"), F.col("src_b")).alias("source_b"),
        )
    )
    return (
        j.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .withColumn("is_cross", (F.col("source_a") != F.col("source_b")).cast("int"))
        .orderBy(F.col("n_pairs").desc(), "source_a", "source_b")
    )


ORACLE_SOURCE_MIRROR = f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
p AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM verified v
  JOIN documents da ON v.doc_a = da.doc_id
  JOIN documents db ON v.doc_b = db.doc_id
  WHERE v.jaccard >= 0.5
)
SELECT source_a, source_b, count(*)::BIGINT AS n_pairs,
       CASE WHEN source_a <> source_b THEN 1 ELSE 0 END::INT AS is_cross
FROM p GROUP BY 1, 2
ORDER BY n_pairs DESC, source_a, source_b
"""


# ---------------------------------------------------------------- detector agreement
def q_detector_agreement(spark, sf_dir):
    """Do the two near-dup detectors agree? MinHash/LSH verified pairs
    (Jaccard ≥ 0.5) vs SimHash pairs (16-bit, hamming ≤ 1): pair-set
    sizes, intersection, and set-Jaccard + each-way containment on the
    1e-4 grid — the calibration table for choosing (or stacking) detector
    families, since SimHash catches short-text near-dups that shingle
    Jaccard dilutes and vice versa.

    Scale shape: both detectors are their banded/pigeonhole-bucketed
    production shapes (never all-pairs); the comparison is one full outer
    join on the (doc_a, doc_b) key plus a scalar aggregate."""
    d = _docs_par(spark, sf_dir)
    mh = dedup.near_dup_chain(dedup.shingles(d)).near.select(
        "doc_a", "doc_b", F.lit(1).alias("_m")
    )
    sim = dedup.simhash_near_pairs(dedup.simhash(d, bits=16), bits=16, max_hamming=1).select(
        "doc_a", "doc_b", F.lit(1).alias("_s")
    )
    both = mh.join(sim, ["doc_a", "doc_b"], "full_outer")
    return both.agg(
        F.coalesce(F.sum("_m"), F.lit(0)).cast("bigint").alias("n_minhash"),
        F.coalesce(F.sum("_s"), F.lit(0)).cast("bigint").alias("n_simhash"),
        F.coalesce(F.sum(F.col("_m") * F.col("_s")), F.lit(0)).cast("bigint").alias("n_both"),
        F.count(F.lit(1)).cast("bigint").alias("n_union"),
    ).select(
        "n_minhash", "n_simhash", "n_both", "n_union",
        (F.expr("(n_both * 10000) div greatest(n_union, 1)") / F.lit(10000.0)).alias("set_jaccard"),
        (F.expr("(n_both * 10000) div greatest(n_minhash, 1)") / F.lit(10000.0)).alias("containment_in_minhash"),
        (F.expr("(n_both * 10000) div greatest(n_simhash, 1)") / F.lit(10000.0)).alias("containment_in_simhash"),
    )


ORACLE_DETECTOR_AGREEMENT = f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
mh AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
toks2 AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
h2 AS (SELECT doc_id, {_PHASH.format(x='tok')} AS h FROM toks2),
votes2 AS (
  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS v
  FROM h2 CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bits
  GROUP BY doc_id, b
),
sig2 AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
  FROM votes2 GROUP BY doc_id
),
sp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig2 a JOIN sig2 b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
),
u AS (
  SELECT coalesce(m.doc_a, s.doc_a) AS doc_a,
         coalesce(m.doc_b, s.doc_b) AS doc_b,
         CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS _m,
         CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS _s
  FROM mh m FULL OUTER JOIN sp s ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b
)
SELECT coalesce(sum(_m), 0)::BIGINT AS n_minhash,
       coalesce(sum(_s), 0)::BIGINT AS n_simhash,
       coalesce(sum(_m * _s), 0)::BIGINT AS n_both,
       count(*)::BIGINT AS n_union,
       ((coalesce(sum(_m * _s), 0) * 10000) // greatest(count(*), 1)) / 10000.0 AS set_jaccard,
       ((coalesce(sum(_m * _s), 0) * 10000) // greatest(coalesce(sum(_m), 0), 1)) / 10000.0 AS containment_in_minhash,
       ((coalesce(sum(_m * _s), 0) * 10000) // greatest(coalesce(sum(_s), 0), 1)) / 10000.0 AS containment_in_simhash
FROM u
"""


# ---------------------------------------------------------------- LSH quality by length stratum
def q_length_strata_lsh(spark, sf_dir):
    """LSH candidate quality STRATIFIED BY DOCUMENT LENGTH: recall and
    precision of the MinHash(16)/LSH(4×4) generator against exact
    Jaccard ≥ 0.5 truth, per length stratum (short < 400 chars, mid <
    1600, long ≥ 1600, plus 'cross' for pairs spanning strata). Shingle
    Jaccard is length-sensitive — short docs have few shingles, so one
    banding miss kills recall — and this is the table that says WHERE the
    x_dedup_f1 scalar hides weakness (the standard reason production
    dedup runs a separate short-text pass, cf. x_detector_agreement).

    Scale shape: ONE shared shingle frame feeds truth and candidates
    (x_dedup_threshold_curve's shape); length labels attach by two
    id-keyed joins of the (doc_id, n_chars) projection; two 4-row
    aggregates full-outer-joined on the stratum key."""
    d = _docs_par(spark, sf_dir)
    chain = dedup.near_dup_chain(dedup.shingles(d))
    cands = chain.cands
    truth = dedup.jaccard_pairs(chain.sh, threshold=0.5)
    lens = d.select(
        "doc_id",
        F.when(F.col("n_chars") < 400, "1_short")
        .when(F.col("n_chars") < 1600, "2_mid")
        .otherwise("3_long")
        .alias("lb"),
    )

    def labeled(pairs):
        return (
            pairs.join(lens.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("lb", "la"), "doc_a")
            .join(lens.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("lb", "lb2"), "doc_b")
            .withColumn(
                "stratum",
                F.when(F.col("la") == F.col("lb2"), F.col("la")).otherwise(F.lit("4_cross")),
            )
        )

    t = labeled(
        truth.join(cands.withColumn("_c", F.lit(1)), ["doc_a", "doc_b"], "left")
    ).groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.coalesce(F.sum(F.coalesce("_c", F.lit(0))), F.lit(0)).cast("bigint").alias("n_tp"),
    )
    c = labeled(cands).groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand")
    )
    return t.join(c, "stratum", "full_outer").select(
        "stratum",
        F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
        F.coalesce("n_cand", F.lit(0)).cast("bigint").alias("n_cand"),
        F.coalesce("n_tp", F.lit(0)).cast("bigint").alias("n_tp"),
        (F.expr("(coalesce(n_tp, 0) * 10000) div greatest(coalesce(n_true, 0), 1)") / F.lit(10000.0)).alias("recall"),
        (F.expr("(coalesce(n_tp, 0) * 10000) div greatest(coalesce(n_cand, 0), 1)") / F.lit(10000.0)).alias("precision"),
    ).orderBy("stratum")


ORACLE_LENGTH_STRATA_LSH = f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
lens AS (
  SELECT doc_id, CASE WHEN n_chars < 400 THEN '1_short'
                      WHEN n_chars < 1600 THEN '2_mid'
                      ELSE '3_long' END AS lb
  FROM documents
),
truth AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
  WHERE floor((i.i * 1.0 / (x.sz + y.sz - i.i)) * 10000) / 10000 >= 0.5
),
tl AS (
  SELECT CASE WHEN a.lb = b.lb THEN a.lb ELSE '4_cross' END AS stratum,
         CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
  FROM truth t
  JOIN lens a ON t.doc_a = a.doc_id JOIN lens b ON t.doc_b = b.doc_id
  LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
),
ta AS (
  SELECT stratum, count(*)::BIGINT AS n_true, coalesce(sum(caught), 0)::BIGINT AS n_tp
  FROM tl GROUP BY 1
),
cl AS (
  SELECT CASE WHEN a.lb = b.lb THEN a.lb ELSE '4_cross' END AS stratum,
         count(*)::BIGINT AS n_cand
  FROM cand c JOIN lens a ON c.doc_a = a.doc_id JOIN lens b ON c.doc_b = b.doc_id
  GROUP BY 1
)
SELECT coalesce(ta.stratum, cl.stratum) AS stratum,
       coalesce(ta.n_true, 0)::BIGINT AS n_true,
       coalesce(cl.n_cand, 0)::BIGINT AS n_cand,
       coalesce(ta.n_tp, 0)::BIGINT AS n_tp,
       ((coalesce(ta.n_tp, 0) * 10000) // greatest(coalesce(ta.n_true, 0), 1)) / 10000.0 AS recall,
       ((coalesce(ta.n_tp, 0) * 10000) // greatest(coalesce(cl.n_cand, 0), 1)) / 10000.0 AS precision
FROM ta FULL OUTER JOIN cl ON ta.stratum = cl.stratum
ORDER BY stratum
"""


# ------------------------------------------------------------- LSH band health
def q_lsh_band_health(spark, sf_dir):
    """Per-band LSH index health: for each of the 4 bands, how many
    colliding buckets exist, how many docs sit in them, the candidate-pair
    volume they imply (Σ sz·(sz−1)/2), and the largest bucket — the
    dashboard that catches a degenerate band (boilerplate hub melting one
    band into a giant bucket) BEFORE the pair-generation stage quadratically
    blows up. At 100 TB this reads the band-signature table (a write-time
    artifact) with two hash aggregates; the quadratic term is computed
    arithmetically from bucket sizes, never by expanding pairs."""
    banded = dedup.doc_bands(dedup.shingles(_docs_par(spark, sf_dir)))
    buckets = banded.groupBy("band", "band_sig").agg(
        F.count(F.lit(1)).alias("sz")
    ).filter(F.col("sz") > 1)
    return (
        buckets.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.sum(F.expr("sz * (sz - 1) div 2")).cast("bigint").alias("n_cand_pairs"),
            F.max("sz").cast("bigint").alias("max_bucket"),
        )
        .orderBy("band")
    )


ORACLE_LSH_BAND_HEALTH = f"""
WITH {_shingles_cte()},
{_minhash_lsh_ctes()},
buckets AS (
  SELECT band, band_sig, count(*) AS sz
  FROM banded GROUP BY 1, 2 HAVING count(*) > 1
)
SELECT band, count(*)::BIGINT AS n_buckets, sum(sz)::BIGINT AS n_docs,
       sum(sz * (sz - 1) // 2)::BIGINT AS n_cand_pairs,
       max(sz)::BIGINT AS max_bucket
FROM buckets GROUP BY band ORDER BY band
"""


# ------------------------------------------------------------- continuation pairs
def q_suffix_dup(spark, sf_dir):
    """Continuation-pair detection: doc A's LAST 3 normalized tokens equal
    doc B's FIRST 3 — the signature of one source document split across
    crawl records (pagination, shard boundaries, truncated re-fetches).
    Re-joining such fragments (or at least not treating them as distinct
    documents) is a standard pre-dedup repair pass.

    Scale shape: head/tail 3-grams are pure array expressions (slice of
    the token array — no explode), joined on the gram string: an equi-join
    keyed by a 3-token text key (shingle-grade selectivity; raise k for
    noisier corpora — k=5 yields zero candidates on this fixture).
    Self-pairs and A==B text (identical head=tail both ways) are excluded
    by doc_a != doc_b."""
    d = _docs_par(spark, sf_dir)
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    base = d.select(
        "doc_id",
        F.when(F.size(toks) >= 3, F.array_join(F.slice(toks, 1, 3), " ")).alias("head3"),
        F.when(F.size(toks) >= 3, F.array_join(F.slice(toks, -3, 3), " ")).alias("tail3"),
    )
    a = base.filter(F.col("tail3").isNotNull()).select(
        F.col("doc_id").alias("doc_a"), F.col("tail3").alias("gram")
    )
    b = base.filter(F.col("head3").isNotNull()).select(
        F.col("doc_id").alias("doc_b"), F.col("head3").alias("gram")
    )
    return (
        a.join(b, "gram")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    )


ORACLE_SUFFIX_DUP = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN len({_TOKS}) >= 3
              THEN array_to_string({_TOKS}[1:3], ' ') END AS head3,
         CASE WHEN len({_TOKS}) >= 3
              THEN array_to_string({_TOKS}[-3:], ' ') END AS tail3
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM base a JOIN base b ON a.tail3 = b.head3
WHERE a.tail3 IS NOT NULL AND a.doc_id <> b.doc_id
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------------- cross-shard dups
def q_cross_shard_dup(spark, sf_dir):
    """Cross-shard duplicate leakage: of the verified near-dup pairs, how
    many land in the SAME hash shard (doc_id md5-hash mod 8 — the
    x_hash_split scheme) vs across shards. Shard-local dedup (the cheap
    per-worker pass) only removes same-shard pairs; this query measures
    exactly the residue a shard-parallel pipeline would leave, the number
    that justifies (or waives) the global dedup stage. Expected cross
    share for an unclustered hash is 7/8 — a LOWER value means dup
    clusters correlate with the sharding key (a red flag for id-derived
    shards). One pair frame, two broadcast-free column derivations, one
    grand-total aggregate (benign single-partition)."""

    pairs = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir))).near
    sh_a = F.pmod(portable_hash64(F.col("doc_a").cast("string")), F.lit(8))
    sh_b = F.pmod(portable_hash64(F.col("doc_b").cast("string")), F.lit(8))
    return pairs.select((sh_a != sh_b).alias("x")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("x").cast("bigint")).cast("bigint").alias("n_cross_shard"),
        F.expr("sum(cast(x as bigint)) * 1000 div count(1)")
        .cast("bigint")
        .alias("cross_milli"),
    )


ORACLE_CROSS_SHARD_DUP = f"""
WITH {_PAIRS_CTES},
tagged AS (
  SELECT (('0x' || substr(md5(doc_a::VARCHAR), 1, 15))::BIGINT % 8
          <> ('0x' || substr(md5(doc_b::VARCHAR), 1, 15))::BIGINT % 8) AS x
  FROM pairs
)
SELECT count(*)::BIGINT AS n_pairs,
       sum(x::BIGINT)::BIGINT AS n_cross_shard,
       (sum(x::BIGINT) * 1000 // count(*))::BIGINT AS cross_milli
FROM tagged
"""


# ------------------------------------------------------------- weighted jaccard
def q_weighted_jaccard(spark, sf_dir):
    """Rarity-weighted near-dup verify: candidate pairs re-scored by
    IDF-ish shingle weights (w = N div df, integer) so boilerplate
    shingles shared by half the corpus barely count while rare shingles
    dominate — the standard fix for boilerplate-inflated plain Jaccard.
    Reported next to the unweighted score for the same LSH candidates so
    a threshold migration can be A/B'd from one table.

    Scale shape: one shingle-keyed aggregate builds the weight table
    (bounded by vocabulary, Heaps-law small), per-doc weight sums are one
    hash agg, pair intersections ride the SAME banded candidate set as
    every LSH consumer (never all-pairs); the corpus-size scalar attaches
    via one benign broadcast. All integer sums; milli ratios by truncating
    division in both engines."""
    chain = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir)))
    sh, cands = chain.sh, chain.cands
    n_docs = sh.select("doc_id").distinct().agg(F.count(F.lit(1)).alias("_n"))
    w = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(n_docs))
        .select("shingle", F.expr("_n div df").cast("bigint").alias("w"))
    )
    shw = sh.join(w, "shingle").cache()
    docw = shw.groupBy("doc_id").agg(F.sum("w").alias("wsum"))
    inter = (
        shw.select(F.col("doc_id").alias("doc_a"), "shingle", "w")
        .join(
            shw.select(F.col("doc_id").alias("doc_b"), "shingle"),
            "shingle",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(cands, ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("w").alias("winter"), F.count(F.lit(1)).alias("ninter"))
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        inter.join(docw.select(F.col("doc_id").alias("doc_a"), F.col("wsum").alias("wa")), "doc_a")
        .join(docw.select(F.col("doc_id").alias("doc_b"), F.col("wsum").alias("wb")), "doc_b")
        .join(sz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("ninter * 1000 div (sza + szb - ninter)").cast("bigint").alias("jaccard_milli"),
            F.expr("winter * 1000 div (wa + wb - winter)").cast("bigint").alias("wjaccard_milli"),
        )
        .orderBy("doc_a", "doc_b")
    )


ORACLE_WEIGHTED_JACCARD = f"""
WITH {_shingles_cte()},
{_minhash_lsh_ctes()},
nd AS (SELECT count(DISTINCT doc_id) AS n FROM sh),
w AS (
  SELECT shingle, (nd.n // count(*))::BIGINT AS w
  FROM sh CROSS JOIN nd GROUP BY shingle, nd.n
),
shw AS (SELECT s.doc_id, s.shingle, w.w FROM sh s JOIN w USING (shingle)),
docw AS (SELECT doc_id, sum(w)::BIGINT AS wsum FROM shw GROUP BY 1),
szs AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
wint AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         sum(a.w)::BIGINT AS winter, count(*)::BIGINT AS ninter
  FROM shw a JOIN shw b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN cand c ON a.doc_id = c.doc_a AND b.doc_id = c.doc_b
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       (i.ninter * 1000 // (xa.sz + xb.sz - i.ninter))::BIGINT AS jaccard_milli,
       (i.winter * 1000 // (wa.wsum + wb.wsum - i.winter))::BIGINT AS wjaccard_milli
FROM wint i
JOIN docw wa ON i.doc_a = wa.doc_id JOIN docw wb ON i.doc_b = wb.doc_id
JOIN szs xa ON i.doc_a = xa.doc_id JOIN szs xb ON i.doc_b = xb.doc_id
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------------- simhash radius 2
def q_simhash_radius2(spark, sf_dir):
    """SimHash near-dup pairs at hamming radius 2 via the pigeonhole block
    split: 16 bits → 3 blocks (6/5/5); any pair within hamming ≤ 2 differs
    in at most 2 blocks, so it matches EXACTLY in at least one — candidate
    generation is 3 block-keyed equi-joins (no recall loss at this radius),
    then an exact bit_count verify. The standard scale recipe for wider
    hamming search: candidate volume is Σ per-block bucket collisions,
    never all-pairs, and each block join hash-partitions on a 5-6 bit key
    extended by the block id."""
    d = _docs_par(spark, sf_dir)
    sig = dedup.simhash(d, bits=16).cache()
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("blk"), F.expr("simhash & 63").alias("key")),
                F.struct(F.lit(1).alias("blk"), F.expr("shiftright(simhash, 6) & 31").alias("key")),
                F.struct(F.lit(2).alias("blk"), F.expr("shiftright(simhash, 11) & 31").alias("key")),
            )
        ).alias("_b"),
    ).select("doc_id", "simhash", F.col("_b.blk").alias("blk"), F.col("_b.key").alias("key"))
    a = blocks.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "blk", "key")
    b = blocks.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "blk", "key")
    return (
        a.join(b, ["blk", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.expr("bit_count(ha ^ hb)").cast("int").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= 2)
        .orderBy("doc_a", "doc_b")
    )


ORACLE_SIMHASH_RADIUS2 = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS tok
  FROM documents
),
h AS (SELECT doc_id, (('0x' || substr(md5(tok), 1, 15)))::BIGINT AS h FROM toks),
votes AS (
  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS v
  FROM h CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bits
  GROUP BY doc_id, b
),
sig AS (
  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------------- 13-gram contamination
def q_contam_13gram(spark, sf_dir):
    """Benchmark decontamination at the canonical 13-token gram (the
    GPT-3/PaLM recipe): an eval doc (doc_id % 17 == 0, the repo's standard
    held-out stand-in) is contaminated if any of its distinct 13-grams
    occurs anywhere in the training split. Longer grams than the
    3-shingle x_contamination probe ⇒ near-zero false positives, the
    setting actually shipped for eval-suite scrubbing.

    Scale shape: grams are a pure array expression (slice window over the
    token array, distinct per doc), the train side reduces to DISTINCT
    grams (Heaps-law small relative to the stream), and the probe is one
    gram-keyed left-semi-shaped join — at 100 TB the train gram set is the
    bloom/shuffle side, eval is tiny by construction. Output: contaminated
    eval docs with hit counts, integer milli rate."""
    d = _docs_par(spark, sf_dir)
    g = dedup.shingles(d, k=13)
    train = g.filter(F.col("doc_id") % 17 != 0).select("shingle").distinct()
    ev = g.filter(F.col("doc_id") % 17 == 0)
    hits = ev.join(train, "shingle").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    per_doc = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        per_doc.join(hits, "doc_id")
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.expr("n_hit * 1000 div n_grams").cast("bigint").alias("contam_milli"),
        )
        .orderBy("doc_id")
    )


ORACLE_CONTAM_13GRAM = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT DISTINCT doc_id, {_GRAM13} AS gram
  FROM t, unnest(range(1, len(toks) - 11)) AS u(i)
  WHERE len(toks) >= 13
),
train AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 != 0),
ev AS (SELECT doc_id, gram FROM g WHERE doc_id % 17 = 0),
hits AS (
  SELECT doc_id, count(*)::BIGINT AS n_hit FROM ev JOIN train USING (gram) GROUP BY 1
),
per_doc AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM ev GROUP BY 1)
SELECT p.doc_id, p.n_grams, h.n_hit,
       (h.n_hit * 1000 // p.n_grams)::BIGINT AS contam_milli
FROM per_doc p JOIN hits h USING (doc_id)
ORDER BY doc_id
"""


# ------------------------------------------------------------- dedup savings
def q_dedup_savings(spark, sf_dir):
    """The curation deliverable behind every dedup run: per source, docs
    and token mass BEFORE vs AFTER component-exact keep-one dedup, with
    integer milli retention — the table a data lead reads to see which
    feeds are mostly duplicates. Survivors join the _dup_members
    cluster map exactly like x_dedup_corpus_cc; token counts are one narrow map
    over the corpus."""

    d = _docs_par(spark, sf_dir)
    canon = dedup.exact_dedup_groups(d).select(F.col("canonical_id").alias("doc_id"))
    drop = (
        _dup_members(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    surv = canon.join(drop, "doc_id", "left_anti").withColumn("kept", F.lit(1))
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    base = d.select("doc_id", "source", F.size(toks).cast("bigint").alias("n_toks"))
    return (
        base.join(surv, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("kept"), F.lit(0))).cast("bigint").alias("n_docs_kept"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("kept").isNotNull(), F.col("n_toks")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_tokens_kept"),
            F.expr(
                "sum(CASE WHEN kept IS NOT NULL THEN n_toks ELSE 0 END) * 1000 div sum(n_toks)"
            )
            .cast("bigint")
            .alias("tokens_kept_milli"),
        )
        .orderBy("source")
    )


def _dedup_savings_oracle() -> str:
    return f"""
WITH surv AS ({ORACLE_DEDUP_CORPUS_CC}),
base AS (
  SELECT doc_id, source, len({_TOKS})::BIGINT AS n_toks FROM documents
)
SELECT b.source, count(*)::BIGINT AS n_docs,
       sum((s.doc_id IS NOT NULL)::INT)::BIGINT AS n_docs_kept,
       sum(b.n_toks)::BIGINT AS n_tokens,
       sum(CASE WHEN s.doc_id IS NOT NULL THEN b.n_toks ELSE 0 END)::BIGINT AS n_tokens_kept,
       (sum(CASE WHEN s.doc_id IS NOT NULL THEN b.n_toks ELSE 0 END) * 1000
        // sum(b.n_toks))::BIGINT AS tokens_kept_milli
FROM base b LEFT JOIN surv s USING (doc_id)
GROUP BY b.source ORDER BY b.source
"""


# ------------------------------------------------------------- jaccard histogram
def q_jaccard_hist(spark, sf_dir):
    """Similarity-mass histogram of the verified near-dup pairs: pair
    counts per Jaccard decile (floor(j·10)) — the distribution that tells
    you whether a 0.5 threshold sits in a valley (robust) or on a cliff
    (threshold-sensitive, re-tune before trusting the dedup). One extra
    ≤6-row aggregate on top of the standard verified-pair chain."""
    near = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir))).near
    return (
        near.groupBy(F.floor(F.col("jaccard") * 10).cast("int").alias("decile"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("decile")
    )


ORACLE_JACCARD_HIST = f"""
WITH {_PAIRS_CTES.replace("pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5)",
                          "pairs AS (SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.5)")}
SELECT floor(jaccard * 10)::INT AS decile, count(*)::BIGINT AS n_pairs
FROM pairs GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------------------------- stop shingles
def q_stop_shingles(spark, sf_dir):
    """Hub-shingle report: the 20 highest-document-frequency shingles with
    their corpus share and the pair volume each would route through ONE
    reducer in a shingle-keyed join (df·(df−1)/2) — the table that picks
    the stop_shingles max_doc_freq cut (operators/dedup.py skew guard)
    before a boilerplate hub melts the intersection join. One shingle
    aggregate + TakeOrdered top-20; the quadratic term is arithmetic on
    bucket sizes, never expanded."""
    d = _docs_par(spark, sf_dir)
    sh = dedup.shingles(d)
    n_docs = sh.select("doc_id").distinct().agg(F.count(F.lit(1)).alias("_n"))
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(n_docs))
        .select(
            "shingle",
            F.col("df").cast("bigint").alias("df"),
            F.expr("df * 1000 div _n").cast("bigint").alias("doc_share_milli"),
            F.expr("df * (df - 1) div 2").cast("bigint").alias("induced_pairs"),
        )
        .orderBy(F.col("df").desc(), "shingle")
        .limit(20)
    )


ORACLE_STOP_SHINGLES = f"""
WITH {_shingles_cte()},
nd AS (SELECT count(DISTINCT doc_id) AS n FROM sh),
freq AS (SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY 1)
SELECT shingle, df,
       (df * 1000 // nd.n)::BIGINT AS doc_share_milli,
       (df * (df - 1) // 2)::BIGINT AS induced_pairs
FROM freq CROSS JOIN nd
ORDER BY df DESC, shingle LIMIT 20
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


ORACLE_CONTAM_RUNS = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, i AS pos, {_GRAM13} AS gram
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


SPECS = [
    QuerySpec("x_dedup_exact", q_dedup_exact, ORACLE_DEDUP_EXACT, tags=("llm", "dedup")),
    QuerySpec("x_ngram_jaccard", q_ngram_jaccard, ORACLE_NGRAM_JACCARD, tags=("llm", "dedup")),
    QuerySpec("x_minhash_lsh", q_minhash_lsh, ORACLE_MINHASH_LSH, tags=("llm", "dedup")),
    QuerySpec("x_minhash_estimate", q_minhash_estimate, ORACLE_MINHASH_ESTIMATE,
              doc="MinHash estimate vs exact Jaccard per candidate pair — estimator calibration",
              tags=("llm", "dedup")),
    QuerySpec("x_lsh_recall", q_lsh_recall, ORACLE_LSH_RECALL,
              doc="LSH candidate recall vs exact Jaccard truth — dedup quality audit",
              tags=("llm", "dedup")),
    QuerySpec("x_dedup_corpus", q_dedup_corpus, ORACLE_DEDUP_CORPUS, tags=("llm", "dedup")),
    QuerySpec("x_dedup_residual", q_dedup_residual, ORACLE_DEDUP_RESIDUAL,
              doc="residual near-dup pairs after single-hop vs connected-components keep-one",
              tags=("llm", "dedup")),
    QuerySpec("x_dedup_keep_best", q_dedup_keep_best, ORACLE_DEDUP_KEEP_BEST,
              doc="quality-aware keep-one: highest-quality member per near-dup cluster",
              tags=("llm", "dedup")),
    QuerySpec("x_dedup_clusters", q_dedup_clusters, ORACLE_DEDUP_CLUSTERS,
              doc="connected-component duplicate clustering (min-label propagation)",
              tags=("llm", "dedup")),
    QuerySpec("x_dedup_corpus_cc", q_dedup_corpus_cc, ORACLE_DEDUP_CORPUS_CC,
              doc="component-exact keep-one dedup (transitive closure)",
              tags=("llm", "dedup")),
    QuerySpec("x_contamination", q_contamination, ORACLE_CONTAMINATION, tags=("llm", "dedup")),
    QuerySpec("x_simhash", q_simhash, ORACLE_SIMHASH, tags=("llm", "dedup")),
    QuerySpec("x_simhash_pairs", q_simhash_pairs, ORACLE_SIMHASH_PAIRS, tags=("llm", "dedup")),
    QuerySpec("x_chunk_dedup", q_chunk_dedup, ORACLE_CHUNK_DEDUP,
              doc="passage-level exact dedup: disjoint 32-token chunks, first occurrence wins",
              tags=("llm", "dedup")),
    QuerySpec("x_lsh_tune", q_lsh_tune, ORACLE_LSH_TUNE,
              doc="LSH band-config sweep: candidate volume + verified yield per (bands x rows)",
              tags=("llm", "dedup")),
    QuerySpec("x_dup_ngram_rate", q_dup_ngram_rate, ORACLE_DUP_NGRAM,
              doc="per-doc duplicated 8-gram rate: aggregate exact-substring-dedup signal",
              tags=("llm", "dedup")),
    QuerySpec("x_cluster_stats", q_cluster_stats, ORACLE_CLUSTER_STATS,
              doc="near-dup cluster-size histogram: the dedup-policy sizing profile",
              tags=("llm", "dedup")),
    QuerySpec("x_containment", q_containment, ORACLE_CONTAINMENT,
              doc="asymmetric shingle containment ≥0.8 — subset/quote dup signal beyond Jaccard",
              tags=("llm", "dedup")),
    QuerySpec("x_dup_spans", q_dup_spans, ORACLE_DUP_SPANS,
              doc="exact-substring dedup spans: maximal duplicated 8-gram token ranges per doc",
              tags=("llm", "dedup")),
    QuerySpec("x_dedup_incremental", q_dedup_incremental, ORACLE_DEDUP_INCREMENTAL,
              doc="incremental-ingest dedup: incoming delta vs base corpus (exact/near/new verdicts)",
              tags=("llm", "dedup")),
    QuerySpec("x_soft_dedup", q_soft_dedup, ORACLE_SOFT_DEDUP,
              doc="soft dedup: per-doc 1/cluster-size sampling weights instead of dropping near-dups",
              tags=("llm", "dedup")),
    QuerySpec("x_source_overlap", q_source_overlap, ORACLE_SOURCE_OVERLAP,
              doc="source x source near-dup overlap matrix from LSH-verified pairs",
              tags=("llm", "dedup")),
    QuerySpec("x_quality_vs_dup", q_quality_vs_dup, _oracle_quality_vs_dup(),
              doc="mean quality logit + keep rate per near-dup cluster-size band (dedup-vs-filter ordering evidence)",
              tags=("llm", "dedup", "eval")),
    QuerySpec("x_winnowing", q_winnowing, ORACLE_WINNOWING,
              doc="winnowing (MOSS) fingerprint selection per doc: keyed window-min over encoded gram hashes, rightmost-tie rule",
              tags=("llm", "dedup", "fingerprint")),
    QuerySpec("x_winnow_pairs", q_winnow_pairs, ORACLE_WINNOW_PAIRS,
              doc="MOSS match stage: fingerprint-bucket self-join with hub cap, shared-fp count + containment overlap",
              tags=("llm", "dedup", "fingerprint")),
    QuerySpec("x_prefix_templates", q_prefix_templates, ORACLE_PREFIX_TEMPLATES,
              doc="opening-template detection: first-8-token prefix groups, top-20 + templated share summary",
              tags=("llm", "dedup", "quality")),
    QuerySpec("x_dedup_f1", q_dedup_f1, ORACLE_DEDUP_F1,
              doc="LSH candidate precision/recall/F1 vs exact-Jaccard truth, all on the integer 1e-4 grid",
              tags=("llm", "dedup", "eval")),
    QuerySpec("x_dup_inflation", q_dup_inflation, ORACLE_DUP_INFLATION,
              doc="per-source duplicate token-inflation factor vs exact-canonical docs + corpus total",
              tags=("llm", "dedup", "stats")),
    QuerySpec("x_cluster_size_hist", q_cluster_size_hist, ORACLE_CLUSTER_SIZE_HIST,
              doc="near-dup cluster-size spectrum incl. size-1 singletons; reuses the verified component pipeline",
              tags=("llm", "dedup", "stats")),
    QuerySpec("x_dedup_threshold_curve", q_dedup_threshold_curve,
              _oracle_dedup_threshold_curve(),
              doc="LSH precision/recall across Jaccard thresholds 0.3/0.5/0.7 from one shared shingle + candidate frame",
              tags=("llm", "dedup", "eval")),
    QuerySpec("x_split_leakage", q_split_leakage, ORACLE_SPLIT_LEAKAGE,
              doc="near-dup pairs crossing the train/held split + share of contaminated held docs (paraphrase leakage audit)",
              tags=("llm", "dedup", "eval")),
    QuerySpec("x_source_mirror", q_source_mirror, ORACLE_SOURCE_MIRROR,
              doc="near-dup pair rollup to source pairs: boilerplate diagonal vs mirror off-diagonal",
              tags=("llm", "dedup")),
    QuerySpec("x_detector_agreement", q_detector_agreement, ORACLE_DETECTOR_AGREEMENT,
              doc="MinHash/LSH vs SimHash pair-set agreement: intersection, set-Jaccard, containments",
              tags=("llm", "dedup", "eval")),
    QuerySpec("x_length_strata_lsh", q_length_strata_lsh, ORACLE_LENGTH_STRATA_LSH,
              doc="LSH recall/precision stratified by document length (+ cross-stratum bucket) from one shared shingle frame",
              tags=("llm", "dedup", "eval")),
    QuerySpec("x_lsh_band_health", q_lsh_band_health, ORACLE_LSH_BAND_HEALTH,
              doc="per-band LSH bucket stats: colliding buckets, implied candidate pairs, max bucket",
              tags=("llm", "dedup", "stats")),
    QuerySpec("x_suffix_dup", q_suffix_dup, ORACLE_SUFFIX_DUP,
              doc="continuation pairs: tail-3-gram of A == head-3-gram of B (split-document detector)",
              tags=("llm", "dedup")),
    QuerySpec("x_cross_shard_dup", q_cross_shard_dup, ORACLE_CROSS_SHARD_DUP,
              doc="near-dup pairs crossing hash-shard boundaries — shard-local dedup residue",
              tags=("llm", "dedup", "eval")),
    QuerySpec("x_weighted_jaccard", q_weighted_jaccard, ORACLE_WEIGHTED_JACCARD,
              doc="IDF-weighted Jaccard re-score of LSH candidates next to the plain score",
              tags=("llm", "dedup")),
    QuerySpec("x_simhash_radius2", q_simhash_radius2, ORACLE_SIMHASH_RADIUS2,
              doc="SimHash hamming<=2 pairs via pigeonhole 3-block candidate joins (recall-exact)",
              tags=("llm", "dedup", "scale")),
    QuerySpec("x_contam_13gram", q_contam_13gram, ORACLE_CONTAM_13GRAM,
              doc="canonical 13-token-gram eval decontamination probe (GPT-3 recipe)",
              tags=("llm", "eval", "dedup")),
    QuerySpec("x_dedup_savings", q_dedup_savings, _dedup_savings_oracle(),
              doc="per-source docs/token mass before vs after CC keep-one dedup (rides the cluster map)",
              tags=("llm", "dedup", "eval")),
    QuerySpec("x_jaccard_hist", q_jaccard_hist, ORACLE_JACCARD_HIST,
              doc="verified near-dup pair counts per Jaccard decile — threshold-sensitivity gauge",
              tags=("llm", "dedup", "stats")),
    QuerySpec("x_stop_shingles", q_stop_shingles, ORACLE_STOP_SHINGLES,
              doc="top-20 hub shingles: doc frequency, corpus share, induced join pair volume",
              tags=("llm", "dedup", "stats")),
    QuerySpec("x_contam_runs", q_contam_runs, ORACLE_CONTAM_RUNS,
              doc="longest consecutive contaminated-13-gram run per eval doc (islands over hit positions)",
              tags=("llm", "decontamination")),
    QuerySpec("x_bloom_fpr", q_bloom_fpr, _oracle_bloom_fpr(),
              doc="measured Bloom false-positive rate + fill ratio over the portable-hash bitset, collect-free broadcast probe",
              tags=("llm", "sketch")),
    QuerySpec("x_minhash_accuracy", q_minhash_accuracy, _oracle_minhash_accuracy(),
              doc="MinHash estimated-vs-exact Jaccard error distribution over LSH candidates (is 16 hashes enough?)",
              tags=("llm", "dedup")),
    QuerySpec("x_dedup_audit_sample", q_dedup_audit_sample, _oracle_dedup_audit_sample(),
              doc="deterministic one-pair-per-Jaccard-decile review queue (min portable pair-hash per decile)",
              tags=("llm", "dedup", "eval")),
]

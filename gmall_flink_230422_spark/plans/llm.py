"""LLM-data-pipeline extension queries (BASELINE.json north star): dedup,
similarity search, text analysis, multimodal plumbing — on the `documents`
and `embeddings` tables. Each Spark pipeline has a semantically identical
DuckDB oracle built on the same portable md5-derived hash
(functions.hashing), so even MinHash/SimHash signatures hash-match.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import tokenize
from ..io import ensure_parallelism, load_table
from ..operators import dedup, similarity, text
from ..operators.windows import distributed_cumsum
from . import QuerySpec


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


def _bpe_trained(spark, sf_dir, n_merges: int = 3):
    """BPE training (text._bpe_train) over the corpus: x_bpe_train
    publishes the merge table and x_bpe_apply encodes the corpus with it.
    Returns (merges list, encoded-vocab frame); the vocab frame is cached
    so the merge folds run once per query."""
    merges, vocab = text._bpe_train(_docs_par(spark, sf_dir), n_merges)
    return merges, vocab.cache()


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


# shared SQL fragments --------------------------------------------------------
_TOKS = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')"
_RAW_TOKS = r"list_filter(string_split_regex(text, '\s+'), t -> t <> '')"
_PHASH = "(('0x' || substr(md5({x}), 1, 15)))::BIGINT"

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


# ---------------------------------------------------------------- fingerprint
def q_fingerprint(spark, sf_dir):
    """Document fingerprinting: per-doc digest of normalized content."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", text.rolling_fingerprint(F.col("text")).alias("fp"))


ORACLE_FINGERPRINT = "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents"


# ---------------------------------------------------------------- token stats
def q_token_stats(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish (chars/4-per-token) estimate."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        text.approx_bpe_token_count(F.col("text")).alias("bpe_est"),
    )


ORACLE_TOKEN_STATS = rf"""
SELECT doc_id,
       len({_RAW_TOKS})::BIGINT AS n_tokens,
       coalesce(list_sum(list_transform({_RAW_TOKS}, t -> ceil(length(t) / 4.0)::BIGINT)), 0)::BIGINT AS bpe_est
FROM documents
"""


# ---------------------------------------------------------------- quality score
def q_quality(spark, sf_dir):
    """Quality scoring: length/stopword/alnum features + composite score."""
    d = load_table(spark, sf_dir, "documents")
    return text.quality_features(d)


_EN_STOP_SQL = "['the', 'and', 'of', 'to', 'in', 'is', 'a', 'that']"
ORACLE_QUALITY = rf"""
WITH f AS (
  SELECT doc_id,
         {_RAW_TOKS} AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS alnum_chars
  FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN coalesce(list_sum(list_transform(toks, t -> length(t))), 0) * 1.0 / len(toks)
              ELSE 0.0 END AS mean_tok_len,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> list_contains({_EN_STOP_SQL}, t))) * 1.0 / len(toks)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN alnum_chars * 1.0 / n_chars ELSE 0.0 END AS alnum_ratio
  FROM f
)
SELECT doc_id,
       n_tokens::BIGINT AS n_tokens,
       floor(mean_tok_len * 10000) / 10000 AS mean_tok_len,
       floor(stop_ratio * 10000) / 10000 AS stopword_ratio,
       floor(alnum_ratio * 10000) / 10000 AS alnum_ratio,
       floor((least(n_tokens / 100.0, 1.0) * 0.25
              + least(mean_tok_len / 8.0, 1.0) * 0.25
              + least(stop_ratio * 4, 1.0) * 0.25
              + alnum_ratio * 0.25) * 10000) / 10000 AS quality_score
FROM m
"""


# ---------------------------------------------------------------- language ID
def q_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split by portable id-hash
    bucket — stable under corpus growth, shuffle-free projection."""
    d = load_table(spark, sf_dir, "documents")
    return text.hash_split(d)


ORACLE_HASH_SPLIT = f"""
WITH b AS (
  SELECT doc_id,
         ({{h}}) % 1000 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 800 THEN 'train'
            WHEN bucket < 900 THEN 'val'
            ELSE 'test' END AS split
FROM b
""".format(h="(('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15)))::BIGINT")


def q_lang_id(spark, sf_dir):
    """Language ID: stopword-vote heuristic; deterministic argmax."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", text.detect_language(F.col("text")).alias("pred_lang")
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text.LANG_STOPWORDS[lang])
    return f"len(list_filter({_TOKS}, t -> list_contains([{words}], t)))"


_LANGS = sorted(text.LANG_STOPWORDS)  # de, en, es, fr, zh — the Spark loop order
ORACLE_LANG_ID = f"""
WITH s AS (
  SELECT doc_id, lang,
         {', '.join(f'{_lang_score_sql(lg)} AS s_{lg}' for lg in _LANGS)}
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN greatest({', '.join('s_' + lg for lg in _LANGS)}) <= 0 THEN 'und'
            {' '.join(f"WHEN s_{lg} = greatest({', '.join('s_' + l2 for l2 in _LANGS)}) THEN '{lg}'" for lg in _LANGS)}
       END AS pred_lang
FROM s
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


# ---------------------------------------------------------------- vocabulary / n-gram stats
def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary build (BPE-prep stats): top-500 tokens by document
    frequency with term frequency alongside — one explode + one aggregate
    (partial/final map-side combine), distributed top-k via
    TakeOrderedAndProject, deterministic tie-break on the unique token.
    Integer-only: no float to diverge between engines."""
    d = _docs_par(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
        )
        .orderBy(F.col("df").desc(), F.col("token"))
        .limit(500)
    )


ORACLE_VOCAB_TOPK = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
SELECT token, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS tf
FROM toks GROUP BY 1
ORDER BY df DESC, token LIMIT 500
"""


def q_ngram_counts(spark, sf_dir):
    """Corpus bigram frequency table (LM/dedup corpus stats): distinct
    bigrams per doc (the shingle array expression — zero shuffle until the
    aggregate) counted across docs; top-300 by document frequency."""
    d = _docs_par(spark, sf_dir)
    sh = dedup.shingles(d, k=2)
    return (
        sh.groupBy(F.col("shingle").alias("bigram"))
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("bigram"))
        .limit(300)
    )


ORACLE_NGRAM_COUNTS = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
grams AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok AS bigram
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
)
SELECT bigram, count(*)::BIGINT AS df
FROM grams GROUP BY 1
ORDER BY df DESC, bigram LIMIT 300
"""


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch term-frequency estimation (corpus monitoring at
    100 TB: the 4×1024-cell grid is fixed-size mergeable state, so token
    frequencies stream into KBs of memory instead of a full vocab table).
    Top-20 exact tokens are probed against the sketch; cms_est >= exact_tf
    always (collision overcount only). Deterministic: same portable-hash
    universal family as MinHash, so DuckDB rebuilds the identical grid."""
    from ..operators import sketches

    d = _docs_par(spark, sf_dir)
    toks = d.select(
        F.explode(
            tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
        ).alias("token")
    )
    sketch = sketches.cms_table(toks, F.col("token"))
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_tf"))
        .orderBy(F.col("exact_tf").desc(), "token")
        .limit(20)
    )
    return sketches.cms_lookup(sketch, top, "token")


def _oracle_cms() -> str:
    from ..operators import sketches

    phash_tok = f"({_PHASH.format(x='token')} % 2147483647)"
    return f"""
WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
hb AS (SELECT {phash_tok} AS _hb FROM toks),
rows AS (SELECT unnest([0, 1, 2, 3]) AS cms_row),
cells AS (
  SELECT cms_row, {sketches.cms_col_sql("cms_row", "_hb")} AS cms_col,
         count(*)::BIGINT AS cms_count
  FROM hb CROSS JOIN rows GROUP BY 1, 2
),
top AS (
  SELECT token, count(*)::BIGINT AS exact_tf FROM toks
  GROUP BY 1 ORDER BY exact_tf DESC, token LIMIT 20
),
probes AS (
  SELECT token, exact_tf, cms_row,
         {sketches.cms_col_sql("cms_row", phash_tok)} AS cms_col
  FROM top CROSS JOIN rows
)
SELECT p.token, p.exact_tf, min(c.cms_count) AS cms_est
FROM probes p JOIN cells c ON p.cms_row = c.cms_row AND p.cms_col = c.cms_col
GROUP BY 1, 2
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


# ---------------------------------------------------------------- curation capstone
def q_curate_corpus(spark, sf_dir):
    """The full training-data curation pass as ONE declarative plan:
    repetition-quality filter → benchmark decontamination (vs the
    doc_id % 17 eval split) → exact+near dedup (keep-one) → per-language
    domain-mix sampling with inverse-rate weights. Every stage is one of
    the first-class operators above, composed via left-semi prunes so the
    corpus text is tokenized/shingled exactly ONCE: the corpus-wide shingle
    frame is computed up front, cached, and shared by the contamination
    probe and the dedup chain (each consumer prunes it by id — at 100 TB
    this is the shingle table you checkpoint to parquet between stages,
    not a per-stage re-tokenize of the corpus)."""
    d = _docs_par(spark, sf_dir)
    # r11: the two multi-consumer frames materialize behind local
    # checkpoints instead of .cache() — downstream plans see O(1) RDD
    # leaves, so Catalyst stops re-analyzing the wide curation tree per
    # action (the x_curate_funnel finding; interleaved A/B min-of-12 at
    # sf0.1: warm 1.83 -> 1.06 s, bit-identical). r12 re-measured the
    # cold side controlled (see q_curate_funnel / _materialize): the
    # checkpoint form is cold-equal to the cache form on the same
    # machine (33.7 vs 38.0 s fresh-session min-of-3) and faster warm,
    # so the shape stays; construction-time materialization is charged
    # visibly as plan_actions_s.
    sh_all = _materialize(dedup.shingles(d))
    rep_keep = text.repetition_features(d).filter("keep").select("doc_id")
    train = d.filter(F.col("doc_id") % 17 != 0)
    ev = d.filter(F.col("doc_id") % 17 == 0)
    cont_keep = (
        dedup.contamination_scores(
            train,
            ev,
            train_shingles=sh_all.filter(F.col("doc_id") % 17 != 0),
            eval_shingles=sh_all.filter(F.col("doc_id") % 17 == 0),
        )
        .filter(F.col("contamination") < 0.5)
        .select("doc_id")
    )
    # the filtered corpus feeds five consumers inside the dedup stage;
    # materialize it (local stand-in for the parquet checkpoint a
    # production pipeline writes between curation stages — at 100 TB you
    # persist, not recompute the quality+contamination subplans per
    # consumer)
    docs_f = _materialize(
        train.join(rep_keep, "doc_id", "left_semi")
        .join(cont_keep, "doc_id", "left_semi")
    )
    surv = dedup.dedup_corpus(docs_f, threshold=0.5, shingle_df=sh_all)
    surv_docs = docs_f.join(surv, "doc_id", "left_semi")
    return text.stratified_sample(surv_docs, _MIX_RATES)


ORACLE_CURATE = f"""
WITH rtoks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
rwc AS (SELECT doc_id, tok, count(*) AS c FROM rtoks GROUP BY 1, 2),
rws AS (
  SELECT doc_id, sum(c) AS n_words, max(c) AS top_word, count(*) AS n_distinct,
         sum(length(tok) * c) AS chars
  FROM rwc GROUP BY 1
),
rbt AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
rbg AS (
  SELECT doc_id, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
  FROM rbt QUALIFY b IS NOT NULL
),
rbgc AS (SELECT doc_id, b, count(*) AS c FROM rbg GROUP BY 1, 2),
rbgs AS (SELECT doc_id, sum(c) AS n_bg, max(c) AS top_bg FROM rbgc GROUP BY 1),
rep_keep AS (
  SELECT w.doc_id
  FROM rws w LEFT JOIN rbgs g ON w.doc_id = g.doc_id
  WHERE floor(((w.n_words - w.n_distinct) * 1.0 / w.n_words) * 10000) / 10000 <= 0.8
    AND floor((w.top_word * 1.0 / w.n_words) * 10000) / 10000 <= 0.12
    AND coalesce(floor((g.top_bg * 1.0 / g.n_bg) * 10000) / 10000, 0.0) <= 0.08
    AND floor((w.chars * 1.0 / w.n_words) * 10000) / 10000 BETWEEN 3.0 AND 10.0
),
{_side_shingles_cte('tr', 'doc_id % 17 <> 0')},
{_side_shingles_cte('ev', 'doc_id % 17 = 0')},
cont_keep AS (
  SELECT t.doc_id
  FROM tr_sh t
  LEFT JOIN (SELECT DISTINCT shingle FROM ev_sh) e ON t.shingle = e.shingle
  GROUP BY t.doc_id
  HAVING floor((count(e.shingle) * 1.0 / count(*)) * 10000) / 10000 < 0.5
),
docs_f AS (
  SELECT * FROM documents
  WHERE doc_id % 17 <> 0
    AND doc_id IN (SELECT doc_id FROM rep_keep)
    AND doc_id IN (SELECT doc_id FROM cont_keep)
),
canon AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(lower(trim(text))) AS fp FROM docs_f)
  GROUP BY fp
),
docs_c AS (SELECT * FROM docs_f WHERE doc_id IN (SELECT doc_id FROM canon)),
{_shingles_cte('docs_c')},
{_minhash_lsh_ctes()},
survivors AS (
  SELECT doc_id, lang FROM docs_c
  WHERE doc_id NOT IN (SELECT doc_b FROM verified WHERE jaccard >= 0.5)
),
s AS (
  SELECT doc_id, lang,
         (('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 15)))::BIGINT % 10000
           AS bucket,
         CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000 WHEN 'es' THEN 5000
                   WHEN 'fr' THEN 2500 WHEN 'zh' THEN 7500 ELSE 10000 END AS thr
  FROM survivors
)
SELECT doc_id, lang, bucket::BIGINT AS bucket,
       floor((10000.0 / thr) * 10000) / 10000 AS weight
FROM s WHERE bucket < thr
"""


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffling: the training-order permutation as a
    salted-hash sort key (`md5(epoch:seed:id)`) — reproducible across
    re-runs and cluster layouts, unlike rand()-ordered shuffles, and a new
    epoch salt yields an independent permutation. Emitted as the first 100
    (position, doc_id) pairs; at scale this is a sort-merge write, and the
    per-epoch order never touches the driver."""
    from ..functions.hashing import portable_hash64
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    key = portable_hash64(
        F.concat(F.lit("epoch:1:"), F.col("doc_id").cast("string"))
    )
    w = Window.orderBy(key, "doc_id")
    return (
        d.select("doc_id", key.alias("shuffle_key"))
        .withColumn("position", F.row_number().over(w))
        .filter(F.col("position") <= 100)
    )


ORACLE_EPOCH_SHUFFLE = """
WITH keyed AS (
  SELECT doc_id,
         (('0x' || substr(md5('epoch:1:' || doc_id), 1, 15)))::BIGINT AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_key,
       row_number() OVER (ORDER BY shuffle_key, doc_id) AS position
FROM keyed QUALIFY position <= 100
"""


LM_MAX_SURPRISAL = 3.5


def q_curate_funnel(spark, sf_dir):
    """Curation FUNNEL audit: the per-stage survivor counts of the full
    pipeline — corpus → train split → repetition filter → bigram-LM
    perplexity filter (< {thr} mean surprisal) → decontamination → exact+
    near dedup — the acceptance report a data-curation run publishes.
    Every stage is a first-class operator from this module. Two shared-
    computation rules keep the plan one-pass: the corpus is shingled
    exactly once (the cached corpus-wide shingle frame feeds both the
    contamination probe and the dedup chain), and every per-stage keep
    list is a cached id column so the acceptance counts come from ONE
    flag-join + single aggregate instead of a 6-branch union that would
    re-evaluate the filter subplans per branch. At 100 TB the cached id
    lists are the between-stage manifest files a curation run checkpoints;
    the single flag pass is one co-partitioned join cascade over them."""
    d = _docs_par(spark, sf_dir)
    # r11: the five multi-consumer keep-list/corpus frames are
    # materialized behind local checkpoints instead of .cache()
    # (guide §3.3 truncate very wide plans, §5 localCheckpoint as the
    # cheaper lineage cut) — downstream plans see O(1) RDD leaves, so
    # Catalyst stops re-analyzing the widest tree in the registry on
    # every action (interleaved A/B min-of-10 at sf0.1: warm
    # 2.71 -> 0.99 s, bit-identical). r12 re-examined the r11 verdict's
    # cold-regression claim with a controlled fresh-session interleaved
    # A/B (3 modes × 3 reps, checksum-identical; numbers in
    # _materialize's docstring): on the same machine the checkpoint form
    # is cold-EQUAL to the pre-r11 cache form (38.6 vs 37.3 s) and 2.5×
    # faster warm, so it stays. Two restructures measured WORSE and were
    # rejected (OPTIMIZATION_r12.md: truly-lazy checkpoint; single
    # combined keep-flags frame). The one-shot cost is dominated by
    # Catalyst analysis + first execution of the wide tree, paid once in
    # every form; bench.py charges it visibly as plan_actions_s.
    sh_all = _materialize(dedup.shingles(d))
    train = d.filter(F.col("doc_id") % 17 != 0)
    ev = d.filter(F.col("doc_id") % 17 == 0)
    rep_keep = _materialize(
        text.repetition_features(d).filter("keep").select("doc_id")
    )
    lm_keep = _materialize(
        text.lm_surprisal_score(d)
        .filter(F.col("avg_surprisal") < LM_MAX_SURPRISAL)
        .select("doc_id")
    )
    cont_keep = _materialize(
        dedup.contamination_scores(
            train,
            ev,
            train_shingles=sh_all.filter(F.col("doc_id") % 17 != 0),
            eval_shingles=sh_all.filter(F.col("doc_id") % 17 == 0),
        )
        .filter(F.col("contamination") < 0.5)
        .select("doc_id")
    )
    s4 = _materialize(
        train.join(rep_keep, "doc_id", "left_semi")
        .join(lm_keep, "doc_id", "left_semi")
        .join(cont_keep, "doc_id", "left_semi")
    )
    surv = dedup.dedup_corpus(s4, threshold=0.5, shingle_df=sh_all)

    def flag(df, name):
        return df.select("doc_id").withColumn(name, F.lit(True))

    flags = (
        d.select("doc_id")
        .withColumn("_t", F.col("doc_id") % 17 != 0)
        .join(flag(rep_keep, "_r"), "doc_id", "left")
        .join(flag(lm_keep, "_l"), "doc_id", "left")
        .join(flag(cont_keep, "_c"), "doc_id", "left")
        .join(flag(surv, "_s"), "doc_id", "left")
    )

    def nsum(*cols):
        cond = F.lit(True)
        for c in cols:
            cond = cond & F.coalesce(F.col(c), F.lit(False))
        return F.sum(cond.cast("long"))

    one = flags.agg(
        F.count(F.lit(1)).alias("n1"),
        nsum("_t").alias("n2"),
        nsum("_t", "_r").alias("n3"),
        nsum("_t", "_r", "_l").alias("n4"),
        nsum("_t", "_r", "_l", "_c").alias("n5"),
        nsum("_t", "_r", "_l", "_c", "_s").alias("n6"),
    )
    stages = F.array(
        *[
            F.struct(F.lit(i).alias("stage"), F.col(f"n{i}").alias("n_docs"))
            for i in range(1, 7)
        ]
    )
    return one.select(F.explode(stages).alias("_st")).select(
        F.col("_st.stage").alias("stage"), F.col("_st.n_docs").alias("n_docs")
    )


q_curate_funnel.__doc__ = q_curate_funnel.__doc__.format(thr=LM_MAX_SURPRISAL)


def _lm_keep_ctes() -> str:
    """lm_-prefixed bigram-LM CTE chain ending in lm_keep (docs under the
    surprisal cap), collision-free next to the shingle CTEs."""
    return f"""
lm_toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
lm_pairs AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM lm_toks a JOIN lm_toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
lm_uni AS (SELECT tok, count(*) AS c1 FROM lm_toks GROUP BY 1),
lm_bg AS (SELECT w1, w2, count(*) AS c2 FROM lm_pairs GROUP BY 1, 2),
lm_v AS (SELECT count(*) AS vsz FROM lm_uni),
lm_scored AS (
  SELECT p.doc_id,
         floor(-ln((g.c2 + 1.0) / (u.c1 + v.vsz)) * 1000)::BIGINT AS s
  FROM lm_pairs p
  JOIN lm_bg g ON p.w1 = g.w1 AND p.w2 = g.w2
  JOIN lm_uni u ON p.w1 = u.tok
  CROSS JOIN lm_v v
),
lm_keep AS (
  SELECT doc_id FROM (
    SELECT doc_id, count(*) AS nb, sum(s) AS ss FROM lm_scored GROUP BY 1
  ) WHERE ((ss * 10) // nb) / 10000.0 < {LM_MAX_SURPRISAL}
)"""


ORACLE_CURATE_FUNNEL = f"""
WITH rtoks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
rwc AS (SELECT doc_id, tok, count(*) AS c FROM rtoks GROUP BY 1, 2),
rws AS (
  SELECT doc_id, sum(c) AS n_words, max(c) AS top_word, count(*) AS n_distinct,
         sum(length(tok) * c) AS chars
  FROM rwc GROUP BY 1
),
rbt AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
rbg AS (
  SELECT doc_id, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
  FROM rbt QUALIFY b IS NOT NULL
),
rbgc AS (SELECT doc_id, b, count(*) AS c FROM rbg GROUP BY 1, 2),
rbgs AS (SELECT doc_id, sum(c) AS n_bg, max(c) AS top_bg FROM rbgc GROUP BY 1),
rep_keep AS (
  SELECT w.doc_id
  FROM rws w LEFT JOIN rbgs g ON w.doc_id = g.doc_id
  WHERE floor(((w.n_words - w.n_distinct) * 1.0 / w.n_words) * 10000) / 10000 <= 0.8
    AND floor((w.top_word * 1.0 / w.n_words) * 10000) / 10000 <= 0.12
    AND coalesce(floor((g.top_bg * 1.0 / g.n_bg) * 10000) / 10000, 0.0) <= 0.08
    AND floor((w.chars * 1.0 / w.n_words) * 10000) / 10000 BETWEEN 3.0 AND 10.0
),
{_lm_keep_ctes()},
{_side_shingles_cte('tr', 'doc_id % 17 <> 0')},
{_side_shingles_cte('ev', 'doc_id % 17 = 0')},
cont_keep AS (
  SELECT t.doc_id
  FROM tr_sh t
  LEFT JOIN (SELECT DISTINCT shingle FROM ev_sh) e ON t.shingle = e.shingle
  GROUP BY t.doc_id
  HAVING floor((count(e.shingle) * 1.0 / count(*)) * 10000) / 10000 < 0.5
),
s2d AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 17 <> 0 AND doc_id IN (SELECT doc_id FROM rep_keep)
),
s3d AS (SELECT doc_id FROM s2d WHERE doc_id IN (SELECT doc_id FROM lm_keep)),
docs_f AS (
  SELECT * FROM documents
  WHERE doc_id IN (SELECT doc_id FROM s3d)
    AND doc_id IN (SELECT doc_id FROM cont_keep)
),
canon AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(lower(trim(text))) AS fp FROM docs_f)
  GROUP BY fp
),
docs_c AS (SELECT * FROM docs_f WHERE doc_id IN (SELECT doc_id FROM canon)),
{_shingles_cte('docs_c')},
{_minhash_lsh_ctes()},
survivors AS (
  SELECT doc_id FROM docs_c
  WHERE doc_id NOT IN (SELECT doc_b FROM verified WHERE jaccard >= 0.5)
)
SELECT 1 AS stage, (SELECT count(*) FROM documents) AS n_docs
UNION ALL SELECT 2, (SELECT count(*) FROM documents WHERE doc_id % 17 <> 0)
UNION ALL SELECT 3, (SELECT count(*) FROM s2d)
UNION ALL SELECT 4, (SELECT count(*) FROM s3d)
UNION ALL SELECT 5, (SELECT count(*) FROM docs_f)
UNION ALL SELECT 6, (SELECT count(*) FROM survivors)
"""


# ---------------------------------------------------------------- stratified sampling
_MIX_RATES = {"en": 1.0, "de": 0.5, "es": 0.5, "fr": 0.25, "zh": 0.75}


def q_stratified_sample(spark, sf_dir):
    """Domain-mix sampling: per-language keep rates via deterministic salted
    id-hash buckets, with inverse-rate weights — map-side only."""
    d = load_table(spark, sf_dir, "documents")
    return text.stratified_sample(d, _MIX_RATES)


ORACLE_STRATIFIED = """
WITH s AS (
  SELECT doc_id, lang,
         (('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 15)))::BIGINT % 10000
           AS bucket,
         CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000 WHEN 'es' THEN 5000
                   WHEN 'fr' THEN 2500 WHEN 'zh' THEN 7500 ELSE 10000 END AS thr
  FROM documents
)
SELECT doc_id, lang, bucket::BIGINT AS bucket,
       floor((10000.0 / thr) * 10000) / 10000 AS weight
FROM s WHERE bucket < thr
"""


# ---------------------------------------------------------------- sequence packing
def q_seq_pack(spark, sf_dir):
    """Token bin-packing into 2048-token training sequences: hash-grouped,
    per-group running-sum packing (partitioned window — parallel groups)."""
    d = _docs_par(spark, sf_dir)
    return text.pack_sequences(d, budget=2048, n_groups=32)


ORACLE_SEQ_PACK = f"""
WITH b AS (
  SELECT doc_id,
         len({_RAW_TOKS})::BIGINT AS n_tokens,
         ((('0x' || substr(md5('pack:' || doc_id::VARCHAR), 1, 15)))::BIGINT % 32)::INT
           AS pack_group
  FROM documents
),
c AS (
  SELECT *, coalesce(sum(n_tokens) OVER (
      PARTITION BY pack_group ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM b
)
SELECT doc_id, pack_group, n_tokens,
       (cum // 2048)::BIGINT AS seq_idx,
       (cum % 2048)::BIGINT AS seq_offset
FROM c
"""


# ---------------------------------------------------------------- PII redaction
def q_pii_redact(spark, sf_dir):
    """PII scrub: deterministic synthetic PII (email/phone/IPv4 appended to
    id-keyed subsets — the fixture corpus has none) then count + redact with
    JVM-side regexes."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 5 == 0,
               F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com"))
               ).otherwise(F.lit("")),
        F.when(did % 7 == 0,
               F.concat(F.lit(" call 555-"), (did % 9000 + 1000).cast("string"))
               ).otherwise(F.lit("")),
        F.when(did % 11 == 0,
               F.concat(F.lit(" from 10."), (did % 254 + 1).cast("string"), F.lit(".0.1"))
               ).otherwise(F.lit("")),
    )
    return text.pii_redact(d.withColumn("text", aug))


ORACLE_PII = r"""
WITH aug AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' call 555-' || (doc_id % 9000 + 1000) ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.' || (doc_id % 254 + 1) || '.0.1' ELSE '' END
    AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::BIGINT AS n_email,
       len(regexp_extract_all(text, '\b555-\d{4}\b'))::BIGINT AS n_phone,
       len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
           '\b555-\d{4}\b', '<PHONE>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
       (len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
        + len(regexp_extract_all(text, '\b555-\d{4}\b'))
        + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')))::BIGINT AS n_pii
FROM aug
"""


# ---------------------------------------------------------------- repetition filter
def q_repetition_filter(spark, sf_dir):
    """Gopher-style repetition quality filter: word/bigram repetition
    fractions + mean word length + composite keep verdict."""
    d = _docs_par(spark, sf_dir)
    return text.repetition_features(d)


ORACLE_REPETITION = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
wc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
ws AS (
  SELECT doc_id, sum(c) AS n_words, max(c) AS top_word, count(*) AS n_distinct,
         sum(length(tok) * c) AS chars
  FROM wc GROUP BY 1
),
bt AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
bg AS (
  SELECT doc_id, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
  FROM bt QUALIFY b IS NOT NULL
),
bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
bgs AS (SELECT doc_id, sum(c) AS n_bg, max(c) AS top_bg FROM bgc GROUP BY 1),
m AS (
  SELECT w.doc_id,
         w.n_words::BIGINT AS n_words,
         floor(((w.n_words - w.n_distinct) * 1.0 / w.n_words) * 10000) / 10000 AS dup_word_frac,
         floor((w.top_word * 1.0 / w.n_words) * 10000) / 10000 AS top_word_frac,
         coalesce(floor((g.top_bg * 1.0 / g.n_bg) * 10000) / 10000, 0.0) AS top_bigram_frac,
         floor((w.chars * 1.0 / w.n_words) * 10000) / 10000 AS mean_word_len
  FROM ws w LEFT JOIN bgs g ON w.doc_id = g.doc_id
)
SELECT *,
       (dup_word_frac <= 0.8 AND top_word_frac <= 0.12 AND top_bigram_frac <= 0.08
        AND mean_word_len BETWEEN 3.0 AND 10.0) AS keep
FROM m
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


# ---------------------------------------------------------------- cosine top-k
_QUERY_IDS = (0, 1, 2)


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


# ---------------------------------------------------------------- multimodal decode stub
def q_multimodal_decode(spark, sf_dir):
    """Multimodal plumbing: opaque binary column + Arrow-batched mapInPandas
    decode (deterministic stub kernel — see operators.multimodal)."""
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media_table(d)
    return multimodal.decode_media(media).select("doc_id", "n_bytes", "width", "height")


ORACLE_MULTIMODAL = """
SELECT doc_id,
       octet_length(encode(text))::BIGINT AS n_bytes,
       (octet_length(encode(text)) % 64 + 1)::BIGINT AS width,
       ((octet_length(encode(text)) // 64) % 64 + 1)::BIGINT AS height
FROM documents
"""


def q_frame_explode(spark, sf_dir):
    """Video→frames fan-out analog: one row per 32-byte slice of each
    payload, aggregated per doc (frame count + byte-accounting check).
    JVM-side sequence→explode→binary substring — no Python, no shuffle
    until the final per-doc aggregate."""
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media_table(d)
    frames = multimodal.explode_frames(media, frame_bytes=32)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("frame_len").alias("total_len"),
        F.sum(F.octet_length("frame").cast("long")).alias("sliced_len"),
    )


ORACLE_FRAME_EXPLODE = """
WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents),
f AS (
  SELECT doc_id, n_bytes, unnest(range(0, ((n_bytes + 31) // 32))) AS frame_idx
  FROM m WHERE n_bytes > 0
)
SELECT doc_id, count(*)::BIGINT AS n_frames,
       sum(least(32, n_bytes - frame_idx * 32))::BIGINT AS total_len,
       sum(least(32, n_bytes - frame_idx * 32))::BIGINT AS sliced_len
FROM f GROUP BY doc_id
"""


def q_bpe_train(spark, sf_dir):
    """BPE merge learning (operators/text.bpe_train_merges, 3 merges): the
    tokenizer-training loop over the corpus word-frequency table; only the
    per-iteration argmax row touches the driver."""
    merges, _ = _bpe_trained(spark, sf_dir, n_merges=3)
    return spark.createDataFrame(
        merges, "step int, p1 string, p2 string, pair_count bigint"
    )


def _bpe_oracle(n_merges: int = 3) -> str:
    """DuckDB twin of bpe_train_merges: the greedy left-to-right merge fold
    is list_reduce with the accumulator encoded as a chr(1)-joined string —
    verified to match Spark's aggregate() fold element-for-element
    (including chained merges like 'a b a b' → 'ab ab')."""

    def _reduce(top: str) -> str:
        acc_list = "string_split(acc, chr(1))"
        return f"""string_split(list_reduce(s, (acc, x) ->
      CASE WHEN list_extract({acc_list}, len({acc_list})) = {top}.a AND x = {top}.b
           THEN CASE WHEN len({acc_list}) = 1 THEN {top}.a || {top}.b
                ELSE array_to_string(list_slice({acc_list}, 1, len({acc_list}) - 1), chr(1))
                     || chr(1) || {top}.a || {top}.b END
           ELSE acc || chr(1) || x END), chr(1))"""

    blocks = [
        f"""W AS (
  SELECT tok AS word, count(*)::BIGINT AS freq FROM (
    SELECT unnest({_TOKS}) AS tok FROM documents
  ) GROUP BY 1
),
rep0 AS (SELECT freq, string_split(word, '') AS s FROM W)"""
    ]
    selects = []
    for i in range(1, n_merges + 1):
        blocks.append(f"""pairs{i} AS (
  SELECT freq, s[i] AS a, s[i + 1] AS b
  FROM (SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i FROM rep{i - 1})
),
top{i} AS (
  SELECT a, b, sum(freq)::BIGINT AS ct FROM pairs{i} GROUP BY 1, 2
  ORDER BY ct DESC, a, b LIMIT 1
)""")
        if i < n_merges:
            blocks.append(
                f"rep{i} AS (SELECT freq, {_reduce(f'top{i}')} AS s FROM rep{i - 1}, top{i})"
            )
        selects.append(
            f"SELECT {i} AS step, a AS p1, b AS p2, ct AS pair_count FROM top{i}"
        )
    return "WITH " + ",\n".join(blocks) + "\n" + "\nUNION ALL ".join(selects)


ORACLE_BPE_TRAIN = _bpe_oracle()


def q_domain_mix(spark, sf_dir):
    """Uniform-target domain mixing at a 2/5-corpus budget
    (operators/text.mixture_sample_summary): integer-derived per-source
    keep-rates, salted-hash sampling, per-source audit summary."""
    return text.mixture_sample_summary(load_table(spark, sf_dir, "documents"))


_MIX_HASH = "(('0x' || substr(md5('mix:' || doc_id), 1, 15)))::BIGINT"

ORACLE_DOMAIN_MIX = f"""
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
stats AS (SELECT sum(n) AS total, count(*) AS k FROM counts),
thr AS (
  SELECT source, n,
         least(10000, (((total * 2) // 5) * 10000) // (k * n)) AS t
  FROM counts, stats
),
flags AS (
  SELECT d.source, t.n, t.t,
         CASE WHEN ({_MIX_HASH} % 10000) < t.t THEN 1 ELSE 0 END AS kept
  FROM documents d JOIN thr t USING (source)
)
SELECT source, max(n)::BIGINT AS n_total, sum(kept)::BIGINT AS n_kept,
       max(t) / 10000.0 AS rate
FROM flags GROUP BY 1
"""


def q_lm_score(spark, sf_dir):
    """Bigram-LM perplexity-proxy quality scoring (operators/
    text.lm_surprisal_score): add-one-smoothed corpus bigram model, per-doc
    mean surprisal in integer milli-nats (order-independent aggregate)."""
    return text.lm_surprisal_score(_docs_par(spark, sf_dir))


ORACLE_LM_SCORE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
pairs AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
uni AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY 1),
bg AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
v AS (SELECT count(DISTINCT tok) AS vsz FROM toks),
scored AS (
  SELECT p.doc_id,
         floor(-ln((bg.c2 + 1.0) / (uni.c1 + v.vsz)) * 1000)::BIGINT AS s
  FROM pairs p
  JOIN bg ON p.w1 = bg.w1 AND p.w2 = bg.w2
  JOIN uni ON p.w1 = uni.tok
  CROSS JOIN v
),
agg AS (
  SELECT doc_id, count(*) AS n_bigrams, sum(s) AS ssum FROM scored GROUP BY 1
)
SELECT doc_id, n_bigrams,
       ((ssum * 10) // n_bigrams) / 10000.0 AS avg_surprisal
FROM agg
"""


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (operators/text.tfidf_top_terms):
    salience extraction for corpus curation. Three narrow shuffles — (doc,
    token) agg, df window on token, top-k window on doc — scalar N broadcast."""
    return text.tfidf_top_terms(_docs_par(spark, sf_dir), k=3)


ORACLE_TFIDF_TOPK = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
withdf AS (SELECT *, count(*) OVER (PARTITION BY token) AS df FROM tf),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token, tf, df,
         floor(tf * ln(n_docs::DOUBLE / df) * 10000) / 10000 AS tfidf
  FROM withdf, n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
  FROM scored
)
SELECT doc_id, token, tf::BIGINT AS tf, df::BIGINT AS df, tfidf
FROM ranked WHERE rk <= 3
"""


_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_bm25_rank(spark, sf_dir):
    """BM25 top-20 documents for a fixed 3-term query
    (operators/text.bm25_rank): tf/dl from the token array (zero shuffles),
    one broadcast scalar-stats aggregate, TakeOrdered top-k."""
    return text.bm25_rank(_docs_par(spark, sf_dir), _BM25_TERMS, k=20, k1=_BM25_K1, b=_BM25_B)


def _bm25_oracle() -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter({_TOKS}, t -> t = '{t}'))::BIGINT AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    k1, b = _BM25_K1, _BM25_B
    contrib = " + ".join(
        f"(ln(1.0 + (_n - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (tf_{i} * ({k1} + 1)) / (tf_{i} + {k1} * (1 - {b} + {b} * dl / (_dl_sum::DOUBLE / _n))))"
        for i in range(len(_BM25_TERMS))
    )
    tf_sel = ", ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))
    return f"""
WITH base AS (
  SELECT doc_id, len({_TOKS})::BIGINT AS dl,
         {tf_cols}
  FROM documents
),
stats AS (SELECT count(*) AS _n, sum(dl) AS _dl_sum, {df_cols} FROM base)
SELECT doc_id, dl, {tf_sel},
       floor(({contrib}) * 10000) / 10000 AS bm25
FROM base, stats
ORDER BY bm25 DESC, doc_id LIMIT 20
"""


ORACLE_BM25 = _bm25_oracle()


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


def q_multimodal_pipeline(spark, sf_dir):
    """Full multimodal chain: wrap → resize (byte-cap 128) → decode dims +
    feature-extract (4 dims, portable-hash stub kernel) → join on doc_id.
    Every stage is Arrow-batched mapInPandas over the binary column; the
    join is id-to-id (co-partitioned after the same source scan)."""
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.resize_media(multimodal.to_media_table(d), max_bytes=128)
    dims = multimodal.decode_media(media).select("doc_id", "n_bytes", "width", "height")
    feats = multimodal.extract_features(media, dim=4)
    return dims.join(feats, "doc_id")


# the stub kernels are portable constructions: byte-cap = substring on the
# utf-8 blob; feature i = md5(payload || ':' || i) int60 mod 1000 / 1000
ORACLE_MULTIMODAL_PIPELINE = """
WITH clipped AS (
  -- document text is pure ASCII in this corpus, so char ops == byte ops;
  -- a binary-capable engine would slice the BLOB directly
  SELECT doc_id, substr(text, 1, 128) AS blob FROM documents
)
SELECT doc_id, length(blob)::BIGINT AS n_bytes,
       (length(blob) % 64 + 1)::BIGINT AS width,
       ((length(blob) // 64) % 64 + 1)::BIGINT AS height,
       (('0x' || substr(md5(blob || ':0'), 1, 15))::BIGINT % 1000) / 1000.0 AS f0,
       (('0x' || substr(md5(blob || ':1'), 1, 15))::BIGINT % 1000) / 1000.0 AS f1,
       (('0x' || substr(md5(blob || ':2'), 1, 15))::BIGINT % 1000) / 1000.0 AS f2,
       (('0x' || substr(md5(blob || ':3'), 1, 15))::BIGINT % 1000) / 1000.0 AS f3
FROM clipped
"""


# ---------------------------------------------------------------- signal windows (audio analog)
def q_signal_windows(spark, sf_dir):
    """Audio STFT-frame analog over the opaque media column: overlapped
    64-unit windows at 32-unit hop, each with its integer energy proxy
    (operators/multimodal.window_signal — JVM-side fan-out + windowed
    fold; the FFT kernel a real deployment slots in is stubbed, the
    partition-local fan-out shape is the tested part)."""
    from ..operators import multimodal

    d = _docs_par(spark, sf_dir)
    media = multimodal.to_media_table(d)
    return multimodal.window_signal(media, window_units=64, hop_units=32)


ORACLE_SIGNAL_WINDOWS = """
WITH m AS (SELECT doc_id, text, length(text) AS n_units FROM documents),
w AS (
  SELECT doc_id, text, unnest(range(0, ((n_units - 64) // 32) + 1)) AS win_idx
  FROM m WHERE n_units >= 64
)
SELECT doc_id, win_idx, win_idx * 32 + 1 AS start_unit,
       list_sum(list_transform(range(win_idx * 32 + 1, win_idx * 32 + 65),
                               i -> ord(substr(text, i::INT, 1))))::BIGINT AS energy
FROM w
"""


# ---------------------------------------------------------------- temperature mixing
def q_temperature_mix(spark, sf_dir):
    """Temperature-scaled language mixing (the multilingual-pretraining
    standard, p_l ∝ n_l^α with α = 0.5): per-language corpus counts →
    integer sqrt-weights on the 1e-4 grid → normalized target shares by
    integer division. sqrt of an exact integer is the same IEEE double in
    both engines, so the floored weight grid is bit-identical (repo float
    rule). One hash aggregate + a broadcast scalar — the language table is
    tiny at any corpus size."""
    d = _docs_par(spark, sf_dir)
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.floor(F.sqrt(F.col("n_docs")) * 10000).cast("bigint")
    weighted = counts.withColumn("w_frac", w)
    total = weighted.agg(F.sum("w_frac").alias("_tw"))
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_docs",
            "w_frac",
            (F.expr("(w_frac * 10000) div _tw") / F.lit(10000.0)).alias(
                "target_share"
            ),
        )
    )


ORACLE_TEMPERATURE_MIX = """
WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
w AS (SELECT lang, n_docs, floor(sqrt(n_docs) * 10000)::BIGINT AS w_frac FROM c),
t AS (SELECT sum(w_frac)::BIGINT AS tw FROM w)
SELECT lang, n_docs, w_frac,
       ((w_frac * 10000) // tw) / 10000.0 AS target_share
FROM w CROSS JOIN t
"""


# ---------------------------------------------------------------- DSIR importance resampling
def q_dsir_resample(spark, sf_dir):
    """DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", adapted to the repo's
    bigram-LM proxy): score every raw-pool document under (a) a model
    trained on the raw pool itself and (b) a model trained on the target
    split (doc_id % 17 == 0 — the benchmark-domain stand-in). The
    importance weight is the integer milli-nat log-likelihood-ratio
    ssum_raw − ssum_target (positive ⇒ the doc is more target-like than
    corpus-average); ``keep`` selects positive-weight docs. All-integer
    output — no float sums anywhere (repo parity rule). Scale shape: two
    model trainings (hash aggregates over the two pools), one scoring pass
    per model over the raw pool with natural-key joins; the target model
    tables are benchmark-sized and broadcastable at 100 TB. The corpus is
    TOKENIZED ONCE into a cached (doc_id, _toks) frame shared by both
    trainings and both scoring passes (r9 verdict item 5: the old shape
    re-tokenized per role — text-scan repeat 6; measured A/B in
    BENCHNOTES r10). At 100 TB the cache becomes a materialized token
    table — the same artifact, written instead of cached."""
    d = _docs_par(spark, sf_dir)
    toks = text.whitespace_tokens(text.normalize_text(F.col("text")))
    tokd = d.select("doc_id", toks.alias("_toks")).cache()
    train = tokd.filter(F.col("doc_id") % 17 != 0)
    target = tokd.filter(F.col("doc_id") % 17 == 0)
    raw = text.lm_crossentropy_components(train, train)
    tgt = text.lm_crossentropy_components(train, target).select(
        "doc_id", F.col("ssum").alias("ssum_target")
    )
    return (
        raw.select("doc_id", "n_bigrams", F.col("ssum").alias("ssum_raw"))
        .join(tgt, "doc_id")
        .withColumn("weight_milli", F.col("ssum_raw") - F.col("ssum_target"))
        .withColumn("keep", (F.col("weight_milli") > 0).cast("int"))
    )


ORACLE_DSIR = f"""
WITH d_toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents WHERE doc_id % 17 <> 0
),
d_pairs AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM d_toks a JOIN d_toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
r_uni AS (SELECT tok, count(*) AS c1 FROM d_toks GROUP BY 1),
r_bg AS (SELECT w1, w2, count(*) AS c2 FROM d_pairs GROUP BY 1, 2),
r_v AS (SELECT count(*) AS vsz FROM r_uni),
t_toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok, generate_subscripts({_TOKS}, 1) AS pos
  FROM documents WHERE doc_id % 17 = 0
),
t_pairs AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM t_toks a JOIN t_toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
t_uni AS (SELECT tok, count(*) AS c1 FROM t_toks GROUP BY 1),
t_bg AS (SELECT w1, w2, count(*) AS c2 FROM t_pairs GROUP BY 1, 2),
t_v AS (SELECT count(*) AS vsz FROM t_uni),
r_scored AS (
  SELECT p.doc_id,
         floor(-ln((coalesce(g.c2, 0) + 1.0) / (coalesce(u.c1, 0) + v.vsz)) * 1000)::BIGINT AS s
  FROM d_pairs p
  LEFT JOIN r_bg g ON p.w1 = g.w1 AND p.w2 = g.w2
  LEFT JOIN r_uni u ON p.w1 = u.tok
  CROSS JOIN r_v v
),
t_scored AS (
  SELECT p.doc_id,
         floor(-ln((coalesce(g.c2, 0) + 1.0) / (coalesce(u.c1, 0) + v.vsz)) * 1000)::BIGINT AS s
  FROM d_pairs p
  LEFT JOIN t_bg g ON p.w1 = g.w1 AND p.w2 = g.w2
  LEFT JOIN t_uni u ON p.w1 = u.tok
  CROSS JOIN t_v v
),
r_agg AS (SELECT doc_id, count(*) AS nb, sum(s) AS ss FROM r_scored GROUP BY 1),
t_agg AS (SELECT doc_id, sum(s) AS ss FROM t_scored GROUP BY 1)
SELECT r.doc_id, r.nb::BIGINT AS n_bigrams, r.ss::BIGINT AS ssum_raw,
       t.ss::BIGINT AS ssum_target,
       (r.ss - t.ss)::BIGINT AS weight_milli,
       CASE WHEN r.ss - t.ss > 0 THEN 1 ELSE 0 END AS keep
FROM r_agg r JOIN t_agg t ON r.doc_id = t.doc_id
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


# ------------------------------------------------- quality classifier (frozen)
def q_quality_classifier(spark, sf_dir):
    """Fixed-weight linear quality classifier on the integer milli-grid —
    the model-based (fasttext-style) corpus filter stage; map-only pass."""
    return text.quality_classifier(_docs_par(spark, sf_dir))


ORACLE_QUALITY_CLASSIFIER = rf"""
WITH f AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         len(list_filter(toks, t -> list_contains({_EN_STOP_SQL}, t))) AS stop_hits
  FROM f
), g AS (
  SELECT doc_id, n_tokens,
         (CASE WHEN n_tokens > 0 THEN floor(1000 * n_distinct * 1.0 / n_tokens) ELSE 0 END)::BIGINT AS ttr_milli,
         (CASE WHEN n_tokens > 0 THEN floor(1000 * stop_hits * 1.0 / n_tokens) ELSE 0 END)::BIGINT AS stop_milli
  FROM m
), l AS (
  SELECT doc_id, n_tokens::BIGINT AS n_tokens, ttr_milli, stop_milli,
         (-1100 + 10 * least(n_tokens, 100) + 2 * stop_milli + ttr_milli)::BIGINT AS logit_milli
  FROM g
)
SELECT doc_id, n_tokens, ttr_milli, stop_milli, logit_milli,
       logit_milli >= 0 AS keep,
       CASE WHEN logit_milli < 0 THEN 'reject'
            WHEN logit_milli < 100 THEN 'low'
            WHEN logit_milli < 200 THEN 'mid'
            ELSE 'high' END AS quality_band
FROM l
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



# ---------------------------------------------------------- feature hashing
def q_feature_hash(spark, sf_dir):
    """Hashing-trick doc vectors: sparse (doc_id, bucket, weight) rows from
    two independent portable hashes — vocabulary-free embedding, one explode
    + one hash aggregate."""
    return text.feature_hash_vectors(_docs_par(spark, sf_dir))


_FH_HASH = "(('0x' || substr(md5('fh:' || tok), 1, 15)))::BIGINT"
_FHS_HASH = "(('0x' || substr(md5('fhs:' || tok), 1, 15)))::BIGINT"

ORACLE_FEATURE_HASH = rf"""
WITH t AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), h AS (
  SELECT doc_id,
         ({_FH_HASH} % 16)::INT AS bucket,
         CASE WHEN {_FHS_HASH} % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM t
)
SELECT doc_id, bucket, sum(s)::BIGINT AS weight
FROM h GROUP BY doc_id, bucket
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


# ----------------------------------------------------------- shard manifest
def q_shard_manifest(spark, sf_dir):
    """Training-shard manifest: deterministic hash assignment of docs to 64
    output shards plus per-shard row/token/byte totals — the manifest a
    training loader consumes. Hash sharding is the scale answer (greedy
    bin-packing is inherently sequential): with millions of docs per shard
    the hash balance is within fractions of a percent, and assignment is a
    pure projection — no shuffle until the one manifest aggregate."""
    from ..functions.hashing import portable_hash64

    d = _docs_par(spark, sf_dir)
    shard = F.pmod(
        portable_hash64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
        F.lit(64),
    ).cast("int")
    toks = F.size(tokenize.whitespace_tokens(F.col("text")))
    return (
        d.select(
            shard.alias("shard"),
            toks.cast("bigint").alias("_t"),
            F.length("text").cast("bigint").alias("_b"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_t").alias("token_sum"),
            F.sum("_b").alias("byte_sum"),
        )
    )


ORACLE_SHARD_MANIFEST = rf"""
WITH t AS (
  SELECT (('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 15))::BIGINT % 64)::INT AS shard,
         len({_RAW_TOKS})::BIGINT AS toks,
         length(text)::BIGINT AS bytes
  FROM documents
)
SELECT shard, count(*) AS n_docs, sum(toks)::BIGINT AS token_sum,
       sum(bytes)::BIGINT AS byte_sum
FROM t GROUP BY shard
"""


SPECS = [
    QuerySpec("x_dedup_exact", q_dedup_exact, ORACLE_DEDUP_EXACT, tags=("llm", "dedup")),
    QuerySpec("x_fingerprint", q_fingerprint, ORACLE_FINGERPRINT, tags=("llm", "text")),
    QuerySpec("x_token_stats", q_token_stats, ORACLE_TOKEN_STATS, tags=("llm", "text")),
    QuerySpec("x_quality_score", q_quality, ORACLE_QUALITY, tags=("llm", "text")),
    QuerySpec("x_lang_id", q_lang_id, ORACLE_LANG_ID, tags=("llm", "text")),
    QuerySpec("x_hash_split", q_hash_split, ORACLE_HASH_SPLIT, tags=("llm", "text")),
    QuerySpec("x_ngram_jaccard", q_ngram_jaccard, ORACLE_NGRAM_JACCARD, tags=("llm", "dedup")),
    QuerySpec("x_minhash_lsh", q_minhash_lsh, ORACLE_MINHASH_LSH, tags=("llm", "dedup")),
    QuerySpec("x_epoch_shuffle", q_epoch_shuffle, ORACLE_EPOCH_SHUFFLE,
              doc="deterministic seeded training-order permutation (salted-hash sort key)",
              tags=("llm", "sampling")),
    QuerySpec("x_curate_funnel", q_curate_funnel, ORACLE_CURATE_FUNNEL,
              doc="per-stage survivor counts of the full curation pipeline incl. the LM filter",
              tags=("llm", "pipeline")),
    QuerySpec("x_embedding_stats", q_embedding_stats, ORACLE_EMBEDDING_STATS,
              doc="embedding-column health screen: per-label L2-norm stats, grid-exact",
              tags=("llm", "similarity", "stats")),
    QuerySpec("x_minhash_estimate", q_minhash_estimate, ORACLE_MINHASH_ESTIMATE,
              doc="MinHash estimate vs exact Jaccard per candidate pair — estimator calibration",
              tags=("llm", "dedup")),
    QuerySpec("x_lsh_recall", q_lsh_recall, ORACLE_LSH_RECALL,
              doc="LSH candidate recall vs exact Jaccard truth — dedup quality audit",
              tags=("llm", "dedup")),
    QuerySpec("x_dedup_corpus", q_dedup_corpus, ORACLE_DEDUP_CORPUS, tags=("llm", "dedup")),
    QuerySpec("x_vocab_topk", q_vocab_topk, ORACLE_VOCAB_TOPK,
              doc="corpus vocabulary: top-500 tokens by document frequency",
              tags=("llm", "text")),
    QuerySpec("x_ngram_counts", q_ngram_counts, ORACLE_NGRAM_COUNTS,
              doc="corpus bigram frequency table, top-300 by df",
              tags=("llm", "text")),
    QuerySpec("x_cms_heavy_hitters", q_cms_heavy_hitters, _oracle_cms(),
              doc="count-min sketch: top-20 token frequencies, estimate vs exact",
              tags=("llm", "text", "sketch")),
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
    QuerySpec("x_curate_corpus", q_curate_corpus, ORACLE_CURATE,
              doc="capstone: repetition filter → decontaminate → dedup → domain-mix sample",
              tags=("llm", "dedup", "text")),
    QuerySpec("x_stratified_sample", q_stratified_sample, ORACLE_STRATIFIED, tags=("llm", "text")),
    QuerySpec("x_seq_pack", q_seq_pack, ORACLE_SEQ_PACK, tags=("llm", "text")),
    QuerySpec("x_pii_redact", q_pii_redact, ORACLE_PII, tags=("llm", "text")),
    QuerySpec("x_repetition_filter", q_repetition_filter, ORACLE_REPETITION, tags=("llm", "text")),
    QuerySpec("x_contamination", q_contamination, ORACLE_CONTAMINATION, tags=("llm", "dedup")),
    QuerySpec("x_simhash", q_simhash, ORACLE_SIMHASH, tags=("llm", "dedup")),
    QuerySpec("x_simhash_pairs", q_simhash_pairs, ORACLE_SIMHASH_PAIRS, tags=("llm", "dedup")),
    QuerySpec("x_bpe_train", q_bpe_train, ORACLE_BPE_TRAIN,
              doc="BPE tokenizer training: 3 learned merges over the word-frequency table",
              tags=("llm", "text", "iterative")),
    QuerySpec("x_domain_mix", q_domain_mix, ORACLE_DOMAIN_MIX,
              doc="uniform-target domain mixing: integer keep-rates from corpus counts, hash sampling",
              tags=("llm", "sampling")),
    QuerySpec("x_lm_score", q_lm_score, ORACLE_LM_SCORE,
              doc="bigram-LM perplexity-proxy quality score, integer-surprisal parity",
              tags=("llm", "text")),
    QuerySpec("x_tfidf_topk", q_tfidf_topk, ORACLE_TFIDF_TOPK,
              doc="per-doc top-3 TF-IDF salience terms", tags=("llm", "text")),
    QuerySpec("x_bm25_rank", q_bm25_rank, ORACLE_BM25,
              doc="BM25 top-20 docs for a fixed query-term set", tags=("llm", "text")),
    QuerySpec("x_chunk_dedup", q_chunk_dedup, ORACLE_CHUNK_DEDUP,
              doc="passage-level exact dedup: disjoint 32-token chunks, first occurrence wins",
              tags=("llm", "dedup")),
    QuerySpec("x_cosine_topk", q_cosine_topk, ORACLE_COSINE_TOPK, tags=("llm", "similarity")),
    QuerySpec("x_ann_ivf", q_ann_ivf, ORACLE_ANN_IVF, tags=("llm", "similarity")),
    QuerySpec("x_ann_ivf_lloyd", q_ann_ivf_lloyd, ORACLE_ANN_IVF_LLOYD, tags=("llm", "similarity")),
    QuerySpec("x_ann_recall", q_ann_recall, ORACLE_ANN_RECALL,
              doc="recall@10 of the IVF probe vs exact brute-force top-10",
              tags=("llm", "similarity")),
    QuerySpec("x_ann_lsh", q_ann_lsh, ORACLE_ANN_LSH, tags=("llm", "similarity")),
    QuerySpec("x_embedding_near_dup", q_embedding_near_dup, ORACLE_EMB_NEAR_DUP, tags=("llm", "similarity")),
    QuerySpec("x_multimodal_decode", q_multimodal_decode, ORACLE_MULTIMODAL, tags=("llm", "multimodal")),
    QuerySpec("x_frame_explode", q_frame_explode, ORACLE_FRAME_EXPLODE,
              doc="video→frames fan-out: per-payload fixed-size slice explosion",
              tags=("llm", "multimodal")),
    QuerySpec("x_multimodal_pipeline", q_multimodal_pipeline, ORACLE_MULTIMODAL_PIPELINE, tags=("llm", "multimodal")),
    QuerySpec("x_dsir_resample", q_dsir_resample, ORACLE_DSIR,
              doc="DSIR importance resampling: milli-nat LLR weight under raw vs target bigram LMs",
              tags=("llm", "text", "sampling")),
    QuerySpec("x_semdedup", q_semdedup, ORACLE_SEMDEDUP,
              doc="SemDeDup: embedding-cosine clusters, keep one per cluster",
              tags=("llm", "similarity", "dedup")),
    QuerySpec("x_lsh_tune", q_lsh_tune, ORACLE_LSH_TUNE,
              doc="LSH band-config sweep: candidate volume + verified yield per (bands x rows)",
              tags=("llm", "dedup")),
    QuerySpec("x_signal_windows", q_signal_windows, ORACLE_SIGNAL_WINDOWS,
              doc="audio STFT-frame analog: overlapped windows + integer energy fold",
              tags=("llm", "multimodal")),
    QuerySpec("x_temperature_mix", q_temperature_mix, ORACLE_TEMPERATURE_MIX,
              doc="temperature-scaled (alpha=0.5) language sampling shares from corpus counts",
              tags=("llm", "sampling")),
    QuerySpec("x_quality_classifier", q_quality_classifier, ORACLE_QUALITY_CLASSIFIER,
              doc="frozen-weight linear quality classifier, integer milli-grid logit + band",
              tags=("llm", "text", "quality")),
    QuerySpec("x_dup_ngram_rate", q_dup_ngram_rate, ORACLE_DUP_NGRAM,
              doc="per-doc duplicated 8-gram rate: aggregate exact-substring-dedup signal",
              tags=("llm", "dedup")),
    QuerySpec("x_feature_hash", q_feature_hash, ORACLE_FEATURE_HASH,
              doc="hashing-trick sparse doc vectors: vocabulary-free, one explode + one agg",
              tags=("llm", "text", "similarity")),
    QuerySpec("x_pq_ann", q_pq_ann, ORACLE_PQ_ANN,
              doc="product-quantization ADC top-10: 8x16 codebook, 32x-compressed scoring",
              tags=("llm", "similarity", "ann")),
    QuerySpec("x_rp_project", q_rp_project, ORACLE_RP_PROJECT,
              doc="sign random projection 64->16 (JL): exact bigint sums over milli components",
              tags=("llm", "similarity")),
    QuerySpec("x_cluster_stats", q_cluster_stats, ORACLE_CLUSTER_STATS,
              doc="near-dup cluster-size histogram: the dedup-policy sizing profile",
              tags=("llm", "dedup")),
    QuerySpec("x_pq_recall", q_pq_recall, ORACLE_PQ_RECALL,
              doc="PQ recall@10 vs exact L2 on the micro grid: index-quality acceptance",
              tags=("llm", "similarity", "ann")),
    QuerySpec("x_shard_manifest", q_shard_manifest, ORACLE_SHARD_MANIFEST,
              doc="deterministic 64-shard training manifest: per-shard doc/token/byte totals",
              tags=("llm", "text", "sampling")),
]


# ----------------------------------------------- inverted index + retrieval
from ..functions.hashing import portable_hash64, portable_hash64_sql  # noqa: E402
from ..operators import retrieval as _retrieval  # noqa: E402


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


# ------------------------------------------------- contrastive negative mining
def q_negative_sample(spark, sf_dir):
    """Deterministic negative mining for contrastive training: for the 5
    lowest-id anchor docs, 4 pseudo-random negatives drawn from OTHER
    sources by portable-hash order — reproducible across engines and runs
    (no rand()). The anchor table is a 5-row broadcast; per-anchor top-4 is
    a WindowGroupLimit, so the shuffle carries anchors x corpus rows only
    for the broadcast-filtered frame."""
    d = load_table(spark, sf_dir, "documents")
    anchors = (
        d.orderBy("doc_id").limit(5)
        .select(F.col("doc_id").alias("anchor_id"), F.col("source").alias("anchor_source"))
    )
    cand = (
        d.select("doc_id", "source")
        .join(F.broadcast(anchors), F.col("source") != F.col("anchor_source"))
        .select(
            "anchor_id",
            F.col("doc_id").alias("neg_id"),
            portable_hash64(
                F.concat(F.lit("neg:"), F.col("anchor_id").cast("string"),
                         F.lit(":"), F.col("doc_id").cast("string"))
            ).alias("h"),
        )
    )
    from pyspark.sql import Window as _W
    w = _W.partitionBy("anchor_id").orderBy("h", "neg_id")
    return (
        cand.select("anchor_id", "neg_id", F.row_number().over(w).cast("bigint").alias("rk"))
        .filter(F.col("rk") <= 4)
    )


_NEG_HASH = portable_hash64_sql("'neg:' || a.anchor_id::VARCHAR || ':' || d.doc_id::VARCHAR")

ORACLE_NEGATIVE_SAMPLE = f"""
WITH anchors AS (
  SELECT doc_id AS anchor_id, source AS anchor_source
  FROM documents ORDER BY doc_id LIMIT 5
),
cand AS (
  SELECT a.anchor_id, d.doc_id AS neg_id, {_NEG_HASH} AS h
  FROM anchors a JOIN documents d ON d.source <> a.anchor_source
)
SELECT anchor_id, neg_id,
       row_number() OVER (PARTITION BY anchor_id ORDER BY h, neg_id) AS rk
FROM cand QUALIFY rk <= 4
"""


# ------------------------------------------------- CCNet perplexity buckets
def q_ccnet_bucket(spark, sf_dir):
    """CCNet-style perplexity bucketing: split the corpus into head/middle/
    tail terciles by bigram-LM surprisal (the published CCNet pipeline keeps
    'head', samples 'middle', drops 'tail'). Tercile thresholds come from a
    VALUE HISTOGRAM of the 1e-4-grid scores (bounded distinct values — the
    cumulative sum never sees raw rows), then broadcast back for the
    bucket tag. Per-bucket count + score range, all grid-exact. The
    cumulative sum is the r4 distributed_cumsum (range-partition + keyed
    window + broadcast prefix offsets) — no single-partition exchange,
    unlike the unpartitioned Window.orderBy the r3 audit flagged."""
    scores = text.lm_surprisal_score(_docs_par(spark, sf_dir)).select(
        "doc_id", "avg_surprisal"
    )
    hist = scores.groupBy("avg_surprisal").agg(F.count(F.lit(1)).alias("cnt"))
    cum = distributed_cumsum(hist, ["avg_surprisal"], "cnt", "cum")
    tot = cum.agg(F.sum("cnt").alias("n"))
    thr = cum.join(F.broadcast(tot)).agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("avg_surprisal"))).alias("t1"),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("avg_surprisal"))).alias("t2"),
    )
    tagged = scores.join(F.broadcast(thr)).select(
        F.when(F.col("avg_surprisal") <= F.col("t1"), F.lit("head"))
        .when(F.col("avg_surprisal") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        "avg_surprisal",
    )
    return tagged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("avg_surprisal").alias("min_surprisal"),
        F.max("avg_surprisal").alias("max_surprisal"),
    )


ORACLE_CCNET_BUCKET = f"""
WITH scores AS ({ORACLE_LM_SCORE}),
hist AS (SELECT avg_surprisal, count(*) AS cnt FROM scores GROUP BY 1),
cum AS (
  SELECT avg_surprisal, cnt, sum(cnt) OVER (ORDER BY avg_surprisal) AS cum
  FROM hist
),
tot AS (SELECT sum(cnt) AS n FROM hist),
thr AS (
  SELECT min(CASE WHEN c.cum * 3 >= t.n THEN c.avg_surprisal END) AS t1,
         min(CASE WHEN c.cum * 3 >= 2 * t.n THEN c.avg_surprisal END) AS t2
  FROM cum c CROSS JOIN tot t
)
SELECT CASE WHEN s.avg_surprisal <= thr.t1 THEN 'head'
            WHEN s.avg_surprisal <= thr.t2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       count(*)::BIGINT AS n_docs,
       min(s.avg_surprisal) AS min_surprisal,
       max(s.avg_surprisal) AS max_surprisal
FROM scores s CROSS JOIN thr
GROUP BY 1
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


SPECS += [
    QuerySpec("x_inverted_index", q_inverted_index, ORACLE_INVERTED_INDEX,
              doc="inverted-index build: top-df terms with capped, bounded-before-collect postings",
              tags=("llm", "retrieval")),
    QuerySpec("x_index_intersect", q_index_intersect, ORACLE_INDEX_INTERSECT,
              doc="conjunctive AND retrieval via posting intersection, data-picked query terms",
              tags=("llm", "retrieval")),
    QuerySpec("x_negative_sample", q_negative_sample, ORACLE_NEGATIVE_SAMPLE,
              doc="deterministic hash-ordered negative mining for contrastive pairs",
              tags=("llm", "sampling")),
    QuerySpec("x_ccnet_bucket", q_ccnet_bucket, ORACLE_CCNET_BUCKET,
              doc="CCNet head/middle/tail perplexity terciles via value-histogram thresholds",
              tags=("llm", "text", "sampling")),
    QuerySpec("x_containment", q_containment, ORACLE_CONTAINMENT,
              doc="asymmetric shingle containment ≥0.8 — subset/quote dup signal beyond Jaccard",
              tags=("llm", "dedup")),
]


# ------------------------------------------------- per-shard token budgeting
_TB_SHARDS = 8
_TB_BUDGET = 4000  # tokens per shard


def q_token_budget(spark, sf_dir):
    """Token-budgeted shard trim: deterministic hash order within each of 8
    hash shards, keep the greedy prefix of docs whose cumulative token count
    stays within the per-shard budget — how a training mix hits an exact
    token target without a driver-side pass. The cumulative window is KEYED
    by shard (embarrassingly parallel); emits a per-shard audit row, all
    integer counts."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        text.token_count(F.col("text")).cast("bigint").alias("nt"),
        (portable_hash64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))) % _TB_SHARDS).cast("int").alias("shard"),
        portable_hash64(F.concat(F.lit("tb:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    from pyspark.sql import Window as _W
    w = (
        _W.partitionBy("shard").orderBy("h", "doc_id")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    cum = t.select("shard", "nt", F.sum("nt").over(w).alias("cum"))
    kept = F.when(F.col("cum") <= _TB_BUDGET, 1).otherwise(0)
    return cum.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("tokens_total"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        F.coalesce(F.sum(F.when(F.col("cum") <= _TB_BUDGET, F.col("nt"))), F.lit(0)).alias("tokens_kept"),
    )


_TB_SHARD_H = "(('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 15)))::BIGINT"
_TB_ORDER_H = "(('0x' || substr(md5('tb:' || doc_id::VARCHAR), 1, 15)))::BIGINT"

ORACLE_TOKEN_BUDGET = rf"""
WITH t AS (
  SELECT doc_id, len({_RAW_TOKS})::BIGINT AS nt,
         ({_TB_SHARD_H} % {_TB_SHARDS})::INT AS shard,
         {_TB_ORDER_H} AS h
  FROM documents
),
cum AS (
  SELECT shard, nt,
         sum(nt) OVER (PARTITION BY shard ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT shard, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS tokens_total,
       sum(CASE WHEN cum <= {_TB_BUDGET} THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       coalesce(sum(CASE WHEN cum <= {_TB_BUDGET} THEN nt END), 0)::BIGINT AS tokens_kept
FROM cum GROUP BY 1
"""


# ------------------------------------------- deterministic weighted sampling
def q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis–Spirakis
    exponential race, derandomized): each doc draws u from its portable
    hash and races with key −ln(u)/weight (weight = n_chars); the 20
    smallest keys win. One ln per row over identical doubles in both
    engines, then pure integer floor/divide — and the top-k compiles to
    TakeOrdered, never a global sort.

    Parity note (ADVICE r3): this is the one registry query whose
    cross-engine parity is not pure integer arithmetic — it assumes JVM
    Math.log and DuckDB ln agree after floor(-ln(u)*1e8). Since u lives
    on the fixed 1e6-point grid, the assumption is PINNED by
    tests/test_properties.py::test_weighted_sample_ln_floor_parity, which
    enumerates every grid point near a floor boundary and asserts both
    engines floor identically there."""
    d = load_table(spark, sf_dir, "documents")
    h = portable_hash64(F.concat(F.lit("ws:"), F.col("doc_id").cast("string")))
    u = ((h % 1_000_000) + 1) / F.lit(1_000_001.0)
    key_num = F.floor(-F.log(u) * 1e8).cast("bigint")
    scored = d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        key_num.alias("kn"),
        F.greatest(F.col("n_chars"), F.lit(1)).cast("bigint").alias("w"),
    ).select(
        "doc_id", "n_chars", F.expr("kn div w").alias("race_key")
    )
    return scored.orderBy("race_key", "doc_id").limit(20)


_WS_H = "(('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 15)))::BIGINT"

ORACLE_WEIGHTED_SAMPLE = f"""
SELECT doc_id, n_chars::BIGINT AS n_chars,
       floor(-ln((({_WS_H} % 1000000) + 1) / 1000001.0) * 1e8)::BIGINT
         // greatest(n_chars, 1) AS race_key
FROM documents
ORDER BY race_key, doc_id LIMIT 20
"""


# ------------------------------------------------- active-signal segments
def q_energy_segments(spark, sf_dir):
    """Voice-activity-style segment extraction over the windowed signal
    frames (x_signal_windows): frames at or above their doc's mean energy
    are 'active'; consecutive active frames merge into segments via the
    gaps-and-islands pattern (win_idx − row_number — one keyed window, no
    self-join). The audio-pipeline step between framing and transcription;
    all-integer energies keep it grid-exact."""
    from ..operators import multimodal

    d = _docs_par(spark, sf_dir)
    frames = multimodal.window_signal(
        multimodal.to_media_table(d), window_units=64, hop_units=32
    ).select("doc_id", "win_idx", "energy")
    stats = frames.groupBy("doc_id").agg(
        F.sum("energy").alias("tot"), F.count(F.lit(1)).alias("nf")
    )
    act = frames.join(stats, "doc_id").filter(
        F.col("energy") * F.col("nf") >= F.col("tot")
    )
    from pyspark.sql import Window as _W
    w = _W.partitionBy("doc_id").orderBy("win_idx")
    grp = act.select(
        "doc_id", "win_idx", "energy",
        (F.col("win_idx") - F.row_number().over(w)).alias("g"),
    )
    return (
        grp.groupBy("doc_id", "g")
        .agg(
            F.min("win_idx").alias("seg_start"),
            F.max("win_idx").alias("seg_end"),
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("energy").alias("seg_energy"),
        )
        .select("doc_id", "seg_start", "seg_end", "n_frames", "seg_energy")
    )


ORACLE_ENERGY_SEGMENTS = f"""
WITH frames AS ({ORACLE_SIGNAL_WINDOWS}),
stats AS (
  SELECT doc_id, sum(energy) AS tot, count(*) AS nf FROM frames GROUP BY 1
),
act AS (
  SELECT f.doc_id, f.win_idx, f.energy
  FROM frames f JOIN stats s USING (doc_id)
  WHERE f.energy * s.nf >= s.tot
),
grp AS (
  SELECT doc_id, win_idx, energy,
         win_idx - row_number() OVER (PARTITION BY doc_id ORDER BY win_idx) AS g
  FROM act
)
SELECT doc_id, min(win_idx) AS seg_start, max(win_idx) AS seg_end,
       count(*)::BIGINT AS n_frames, sum(energy)::BIGINT AS seg_energy
FROM grp GROUP BY doc_id, g
"""


SPECS += [
    QuerySpec("x_token_budget", q_token_budget, ORACLE_TOKEN_BUDGET,
              doc="greedy per-shard token-budget trim via keyed cumulative window",
              tags=("llm", "sampling", "packing")),
    QuerySpec("x_weighted_sample", q_weighted_sample, ORACLE_WEIGHTED_SAMPLE,
              doc="derandomized Efraimidis–Spirakis weighted sampling, TakeOrdered top-k",
              tags=("llm", "sampling")),
    QuerySpec("x_energy_segments", q_energy_segments, ORACLE_ENERGY_SEGMENTS,
              doc="VAD-style active-segment merge over signal frames (gaps-and-islands)",
              tags=("llm", "multimodal")),
]


# ---------------------------------------------------- PMI collocations
def q_pmi_collocations(spark, sf_dir):
    """Top-100 collocations by PMI (operators/retrieval.pmi_bigrams) — the
    vocabulary-construction signal for multi-word tokens. Bigram arrays are
    built per-row with higher-order functions (zero shuffle until the
    counts); unigram/total stats broadcast into the scorer."""
    return _retrieval.pmi_bigrams(_docs_par(spark, sf_dir), min_count=5, k=100)


ORACLE_PMI = _retrieval.pmi_oracle_sql(min_count=5, k=100, toks_expr=_TOKS)


# ---------------------------------------------------- RAG chunking
_RC_WIN = 64
_RC_HOP = 32


def q_rag_chunks(spark, sf_dir):
    """RAG chunk extraction: overlapping 64-token windows at 32-token hop
    per document, each chunk fingerprinted (portable hash of its joined
    text) for downstream chunk-level dedup/embedding. Pure array
    expressions — sequence → explode → slice — entirely JVM-side and
    partition-local, the text analog of the x_signal_windows audio frames
    (and the overlapping counterpart of x_chunk_dedup's disjoint chunks)."""
    d = _docs_par(spark, sf_dir)
    toks = tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
    base = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).cast("long").alias("n_toks")
    ).filter(F.col("n_toks") >= _RC_WIN)
    n_chunks = (F.floor((F.col("n_toks") - _RC_WIN) / _RC_HOP) + 1).cast("long")
    chunks = base.select(
        "doc_id", "toks",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk_text = F.array_join(
        F.slice(F.col("toks"), (F.col("chunk_idx") * _RC_HOP + 1).cast("int"), _RC_WIN), " "
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * _RC_HOP + 1).alias("start_tok"),
        portable_hash64(chunk_text).alias("chunk_hash"),
    )


ORACLE_RAG_CHUNKS = rf"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks, len({_TOKS})::BIGINT AS n_toks
  FROM documents
),
c AS (
  SELECT doc_id, toks,
         unnest(range(0, ((n_toks - {_RC_WIN}) // {_RC_HOP}) + 1)) AS chunk_idx
  FROM base WHERE n_toks >= {_RC_WIN}
)
SELECT doc_id, chunk_idx, chunk_idx * {_RC_HOP} + 1 AS start_tok,
       (('0x' || substr(md5(array_to_string(
          toks[(chunk_idx * {_RC_HOP} + 1)::INT : (chunk_idx * {_RC_HOP} + {_RC_WIN})::INT], ' ')), 1, 15)))::BIGINT AS chunk_hash
FROM c
"""


SPECS += [
    QuerySpec("x_pmi_collocations", q_pmi_collocations, ORACLE_PMI,
              doc="top-100 PMI collocations: multi-word vocabulary signal, broadcast corpus stats",
              tags=("llm", "text")),
    QuerySpec("x_rag_chunks", q_rag_chunks, ORACLE_RAG_CHUNKS,
              doc="overlapping 64/32 token RAG chunks with portable fingerprints, JVM-side fan-out",
              tags=("llm", "text", "retrieval")),
]


# ---------------------------------------------------- BPE apply (encode)
def q_bpe_apply(spark, sf_dir):
    """Tokenizer apply at corpus scale (operators/text.bpe_encoded_length):
    encode every doc with the 3 learned merges — the encoded VOCABULARY
    joins back to the corpus token stream (Heaps-law small side), never a
    per-corpus-token fold. Output: per-doc raw vs encoded symbol counts."""
    _, vocab = _bpe_trained(spark, sf_dir, n_merges=3)
    return text.bpe_encoded_length_with_vocab(_docs_par(spark, sf_dir), vocab)


def _bpe_apply_oracle(n_merges: int = 3) -> str:
    """DuckDB twin of bpe_encoded_length: the training CTE chain with the
    word column carried through every fold, ending in a vocab join back to
    the per-doc token stream."""

    def _reduce(top: str) -> str:
        acc_list = "string_split(acc, chr(1))"
        return f"""string_split(list_reduce(s, (acc, x) ->
      CASE WHEN list_extract({acc_list}, len({acc_list})) = {top}.a AND x = {top}.b
           THEN CASE WHEN len({acc_list}) = 1 THEN {top}.a || {top}.b
                ELSE array_to_string(list_slice({acc_list}, 1, len({acc_list}) - 1), chr(1))
                     || chr(1) || {top}.a || {top}.b END
           ELSE acc || chr(1) || x END), chr(1))"""

    blocks = [
        f"""W AS (
  SELECT tok AS word, count(*)::BIGINT AS freq FROM (
    SELECT unnest({_TOKS}) AS tok FROM documents
  ) GROUP BY 1
),
rep0 AS (SELECT word, freq, string_split(word, '') AS s FROM W)"""
    ]
    for i in range(1, n_merges + 1):
        blocks.append(f"""pairs{i} AS (
  SELECT freq, s[i] AS a, s[i + 1] AS b
  FROM (SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i FROM rep{i - 1})
),
top{i} AS (
  SELECT a, b, sum(freq)::BIGINT AS ct FROM pairs{i} GROUP BY 1, 2
  ORDER BY ct DESC, a, b LIMIT 1
)""")
        blocks.append(
            f"rep{i} AS (SELECT word, freq, {_reduce(f'top{i}')} AS s FROM rep{i - 1}, top{i})"
        )
    blocks.append(f"""enc AS (
  SELECT word, length(word)::BIGINT AS n_raw, len(s)::BIGINT AS n_sym
  FROM rep{n_merges}
),
corpus AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents)""")
    return (
        "WITH " + ",\n".join(blocks)
        + """
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       sum(e.n_raw)::BIGINT AS n_sym_raw,
       sum(e.n_sym)::BIGINT AS n_sym_enc
FROM corpus c JOIN enc e USING (word)
GROUP BY doc_id"""
    )


ORACLE_BPE_APPLY = _bpe_apply_oracle()


SPECS += [
    QuerySpec("x_bpe_apply", q_bpe_apply, ORACLE_BPE_APPLY,
              doc="BPE encode at corpus scale: encoded-vocab join-back, per-doc raw vs merged symbol counts",
              tags=("llm", "text", "tokenizer")),
]


# ------------------------------------------------ length-bucketed batching
def q_length_buckets(spark, sf_dir):
    """Inference-serving length bucketing: docs grouped into 64-token
    buckets, per-bucket count, max length, and padding waste (what batching
    to the bucket max costs vs true lengths) — the number that justifies
    bucketed batching over naive global padding. One hash aggregate over
    per-row array lengths; waste = n·max − Σlen, all integers."""
    d = load_table(spark, sf_dir, "documents")
    nt = text.token_count(F.col("text")).cast("bigint")
    b = d.select(nt.alias("nt"), F.floor(nt / 64).cast("bigint").alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("nt").alias("max_len"),
        (F.max("nt") * F.count(F.lit(1)) - F.sum("nt")).alias("padding_waste"),
    )


ORACLE_LENGTH_BUCKETS = rf"""
WITH t AS (
  SELECT len({_RAW_TOKS})::BIGINT AS nt,
         (len({_RAW_TOKS}) // 64)::BIGINT AS bucket
  FROM documents
)
SELECT bucket, count(*)::BIGINT AS n_docs, max(nt)::BIGINT AS max_len,
       (max(nt) * count(*) - sum(nt))::BIGINT AS padding_waste
FROM t GROUP BY 1
"""


# ------------------------------------------------ n-gram diversity score
def q_ngram_diversity(spark, sf_dir):
    """Corpus diversity audit (the anti-mode-collapse gauge for synthetic
    data): per source, distinct trigrams / total trigrams on the 1e-4 grid.
    Degenerate repetitive corpora score near 0, diverse ones near 1. Two
    narrow aggregates — trigram spans stay inside the per-row array until
    the count."""
    d = _docs_par(spark, sf_dir)
    toks = tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
    tri = F.expr(
        "filter(transform(toks, (t, i) -> IF(i + 2 < size(toks),"
        " concat(t, ' ', element_at(toks, i + 2), ' ', element_at(toks, i + 3)),"
        " NULL)), x -> x IS NOT NULL)"
    )
    rows = d.select("source", toks.alias("toks")).select(
        "source", F.explode(tri).alias("tri")
    )
    agg = rows.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.countDistinct("tri").alias("n_distinct"),
    )
    return agg.select(
        "source", "n_trigrams", "n_distinct",
        (F.expr("(n_distinct * 10000) div n_trigrams") / 1e4).alias("diversity"),
    )


ORACLE_NGRAM_DIVERSITY = rf"""
WITH toks AS (
  SELECT source, doc_id, unnest({_TOKS}) AS tok,
         generate_subscripts({_TOKS}, 1) AS pos
  FROM documents
),
tri AS (
  SELECT source,
         tok || ' ' || lead(tok) OVER w || ' ' || lead(tok, 2) OVER w AS tri
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 2) OVER w IS NOT NULL
)
SELECT source, count(*)::BIGINT AS n_trigrams,
       count(DISTINCT tri)::BIGINT AS n_distinct,
       ((count(DISTINCT tri) * 10000) // count(*)) / 1e4 AS diversity
FROM tri GROUP BY 1
"""


SPECS += [
    QuerySpec("x_length_buckets", q_length_buckets, ORACLE_LENGTH_BUCKETS,
              doc="64-token length buckets with padding-waste audit for bucketed batching",
              tags=("llm", "packing")),
    QuerySpec("x_ngram_diversity", q_ngram_diversity, ORACLE_NGRAM_DIVERSITY,
              doc="per-source distinct-trigram diversity ratio — mode-collapse gauge",
              tags=("llm", "text", "stats")),
]


# -------------------------------------------- selection-pipeline capstone
def q_select_pipeline(spark, sf_dir):
    """Data-SELECTION capstone (the dedup-free complement of
    x_curate_funnel): repetition filter → frozen-weight quality classifier
    → CCNet perplexity terciles (keep head+middle, thresholds computed over
    the SURVIVORS) → per-shard token-budget trim — reported as a funnel of
    (stage, n_docs, n_tokens).

    Plan shape: every stage contributes a FLAG COLUMN to one per-doc frame
    (repetition/classifier/LM frames join once on doc_id), the budget stage
    is a conditional cumulative window over that same frame, and the funnel
    is a single aggregate unpivoted to stage rows — never a per-stage
    union that re-evaluates uncached subplans (the r2 x_curate_funnel
    lesson, BENCHNOTES.md). Caching policy, twice-measured: the RAW doc
    frame must NOT be cached (r10 A/B: 1.4× SLOWER, 2.8 s → 3.9 s warm —
    the InMemoryRelation breaks per-stage column pruning and scan
    fusion), but the NARROW tokenized projection (doc_id, nt, _toks) IS
    cached (r11 A/B: ~10 % faster, and scan repeat 5 → 1) because four
    consumers (flags fold + three LM streams) each re-paid the regex
    tokenize; at 100 TB the rule is: cache derived narrow frames with
    several consumers, never the raw corpus."""
    d = _docs_par(spark, sf_dir)
    nt = text.token_count(F.col("text")).cast("bigint")
    # r11 optimization (guide §2.4): repetition_features and
    # quality_classifier are both MAP-ONLY now, so the old
    # base ⋈ rep ⋈ clf three-scan/two-join cascade folds into ONE corpus
    # projection (the normalized token array is tokenized once and feeds
    # both keep expressions via codegen subexpression elimination); the
    # inner join on the repetition frame used to drop zero-token docs, so
    # the fold filters them explicitly — identical domain, identical
    # flags. Only the bigram-LM score still arrives by join (it needs the
    # corpus-level model aggregates).
    #
    # r11 stage 2 (guide §1.2 don't recompute, §8 lightweight proxy): the
    # bigram-LM branch used to re-tokenize the corpus three more times
    # (score pairs, model pairs, model unigrams). The narrow
    # (doc_id, nt, _toks) projection is now tokenized ONCE into a cached
    # frame with four consumers — the flags fold below plus all three LM
    # streams via the lm_* tokenize-once ``_toks`` contract. Scan repeat
    # 5 → 1; interleaved A/B min-of-8 ×2 runs: 1.99/1.91 → 1.72/1.75 s
    # (~-10 %), bit-identical output. (This is the tokens-only flip of the
    # r10 corpus-cache A/B above: caching the RAW doc frame was 1.4×
    # slower because it broke scan pruning; caching the narrow tokenized
    # proxy removes 3 regex-tokenize passes and wins.)
    ntoks = text.whitespace_tokens(text.normalize_text(F.col("text")))
    tk = d.select("doc_id", nt.alias("nt"), ntoks.alias("_toks")).cache()
    lm = text.lm_surprisal_score(tk).select("doc_id", "avg_surprisal")
    flags = (
        tk.filter(F.size("_toks") >= 1)
        .select(
            "doc_id",
            "nt",
            text.repetition_keep(F.col("_toks")).alias("k_rep"),
            (text.quality_logit_milli(F.col("_toks")) >= 0).alias("k_clf"),
        )
        .join(lm, "doc_id", "left")
        .select(
            "doc_id", "nt", "avg_surprisal",
            F.col("k_rep").alias("k1"),
            (F.col("k_rep") & F.col("k_clf")).alias("k2"),
        )
    )
    # r11 stage 3 (guide §3.3 truncate very wide plans, §5 cache vs
    # localCheckpoint): ``flags`` has two genuine consumers (the
    # threshold histogram chain and the f3 re-attach below), each of
    # which used to re-analyze and re-execute the whole LM-join
    # subtree per action. Materializing the NARROW per-doc flag frame
    # (5 scalar columns) once behind a local checkpoint leaves
    # downstream plans an O(1) RDD leaf — Catalyst stops re-walking
    # the LM lineage twice per action. plain .cache() was A/B-measured
    # WORSE than no materialization here (InMemoryRelation
    # lookup/normalization overhead on every downstream analysis);
    # the checkpoint form measured 1.77 -> 0.69 s warm min-of-10
    # interleaved, output bit-identical. Materialized through
    # _materialize (see its docstring).
    flags = _materialize(flags)
    # CCNet t2 (head+middle boundary) over stage-2 survivors with a score
    surv = flags.filter(F.col("k2") & F.col("avg_surprisal").isNotNull())
    hist = surv.groupBy("avg_surprisal").agg(F.count(F.lit(1)).alias("cnt"))
    # r4: distributed prefix sum over the (bounded) score histogram —
    # replaces the unpartitioned Window.orderBy cum-sum the r3 audit
    # flagged; the cached frame inside the helper is the tiny histogram,
    # not the corpus, so the no-corpus-cache A/B above still holds.
    from pyspark.sql import Window as _W
    cum = distributed_cumsum(hist, ["avg_surprisal"], "cnt", "cum")
    tot = cum.agg(F.sum("cnt").alias("n"))
    thr = cum.join(F.broadcast(tot)).agg(
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("avg_surprisal"))).alias("t2")
    )
    f3 = flags.join(F.broadcast(thr)).withColumn(
        "k3",
        F.col("k2") & F.col("avg_surprisal").isNotNull()
        & (F.col("avg_surprisal") <= F.col("t2")),
    )
    # per-shard token budget over stage-3 survivors (conditional cumsum)
    f3 = f3.withColumn(
        "shard",
        (portable_hash64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))) % _TB_SHARDS).cast("int"),
    ).withColumn(
        "h", portable_hash64(F.concat(F.lit("tb:"), F.col("doc_id").cast("string")))
    )
    wb = (
        _W.partitionBy("shard").orderBy("h", "doc_id")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    f4 = f3.withColumn("cum3", F.sum(F.when(F.col("k3"), F.col("nt")).otherwise(0)).over(wb)) \
        .withColumn("k4", F.col("k3") & (F.col("cum3") <= _TB_BUDGET))
    one = f4.agg(
        F.count(F.lit(1)).alias("n0"), F.sum("nt").alias("t0"),
        F.sum(F.when(F.col("k1"), 1).otherwise(0)).alias("n1"),
        F.coalesce(F.sum(F.when(F.col("k1"), F.col("nt"))), F.lit(0)).alias("t1"),
        F.sum(F.when(F.col("k2"), 1).otherwise(0)).alias("n2"),
        F.coalesce(F.sum(F.when(F.col("k2"), F.col("nt"))), F.lit(0)).alias("t2_"),
        F.sum(F.when(F.col("k3"), 1).otherwise(0)).alias("n3"),
        F.coalesce(F.sum(F.when(F.col("k3"), F.col("nt"))), F.lit(0)).alias("t3"),
        F.sum(F.when(F.col("k4"), 1).otherwise(0)).alias("n4"),
        F.coalesce(F.sum(F.when(F.col("k4"), F.col("nt"))), F.lit(0)).alias("t4"),
    )
    return one.selectExpr(
        "stack(5, '0_all', n0, t0, '1_repetition', n1, t1, '2_classifier', n2, t2_,"
        " '3_ccnet', n3, t3, '4_budget', n4, t4) AS (stage, n_docs, n_tokens)"
    )


ORACLE_SELECT_PIPELINE = rf"""
WITH rep AS ({ORACLE_REPETITION}),
clf AS ({ORACLE_QUALITY_CLASSIFIER}),
lm AS ({ORACLE_LM_SCORE}),
base AS (SELECT doc_id, len({_RAW_TOKS})::BIGINT AS nt FROM documents),
flags AS (
  SELECT b.doc_id, b.nt, lm.avg_surprisal,
         rep.keep AS k1,
         (rep.keep AND clf.keep) AS k2
  FROM base b
  JOIN rep ON b.doc_id = rep.doc_id
  JOIN clf ON b.doc_id = clf.doc_id
  LEFT JOIN lm ON b.doc_id = lm.doc_id
),
hist AS (
  SELECT avg_surprisal, count(*) AS cnt FROM flags
  WHERE k2 AND avg_surprisal IS NOT NULL GROUP BY 1
),
cum AS (SELECT avg_surprisal, cnt, sum(cnt) OVER (ORDER BY avg_surprisal) AS cum FROM hist),
tot AS (SELECT sum(cnt) AS n FROM hist),
thr AS (
  SELECT min(CASE WHEN c.cum * 3 >= 2 * t.n THEN c.avg_surprisal END) AS t2
  FROM cum c CROSS JOIN tot t
),
f3 AS (
  SELECT f.*, ({_TB_SHARD_H} % {_TB_SHARDS})::INT AS shard, {_TB_ORDER_H} AS h,
         (f.k2 AND f.avg_surprisal IS NOT NULL AND f.avg_surprisal <= thr.t2) AS k3
  FROM flags f CROSS JOIN thr
),
f4 AS (
  SELECT *,
         (k3 AND sum(CASE WHEN k3 THEN nt ELSE 0 END)
             OVER (PARTITION BY shard ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= {_TB_BUDGET}) AS k4
  FROM f3
),
one AS (
  SELECT count(*)::BIGINT AS n0, sum(nt)::BIGINT AS t0,
         sum(CASE WHEN k1 THEN 1 ELSE 0 END)::BIGINT AS n1,
         coalesce(sum(CASE WHEN k1 THEN nt END), 0)::BIGINT AS t1,
         sum(CASE WHEN k2 THEN 1 ELSE 0 END)::BIGINT AS n2,
         coalesce(sum(CASE WHEN k2 THEN nt END), 0)::BIGINT AS t2_,
         sum(CASE WHEN k3 THEN 1 ELSE 0 END)::BIGINT AS n3,
         coalesce(sum(CASE WHEN k3 THEN nt END), 0)::BIGINT AS t3,
         sum(CASE WHEN k4 THEN 1 ELSE 0 END)::BIGINT AS n4,
         coalesce(sum(CASE WHEN k4 THEN nt END), 0)::BIGINT AS t4
  FROM f4
)
SELECT '0_all' AS stage, n0 AS n_docs, t0 AS n_tokens FROM one
UNION ALL SELECT '1_repetition', n1, t1 FROM one
UNION ALL SELECT '2_classifier', n2, t2_ FROM one
UNION ALL SELECT '3_ccnet', n3, t3 FROM one
UNION ALL SELECT '4_budget', n4, t4 FROM one
"""


SPECS += [
    QuerySpec("x_select_pipeline", q_select_pipeline, ORACLE_SELECT_PIPELINE,
              doc="selection capstone funnel: repetition -> classifier -> CCNet terciles -> token budget, one flags frame",
              tags=("llm", "pipeline")),
]


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


SPECS += [
    QuerySpec("x_dup_spans", q_dup_spans, ORACLE_DUP_SPANS,
              doc="exact-substring dedup spans: maximal duplicated 8-gram token ranges per doc",
              tags=("llm", "dedup")),
]


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


SPECS += [
    QuerySpec("x_dedup_incremental", q_dedup_incremental, ORACLE_DEDUP_INCREMENTAL,
              doc="incremental-ingest dedup: incoming delta vs base corpus (exact/near/new verdicts)",
              tags=("llm", "dedup")),
]


# ---------------------------------------------------------------- r4: drift + boilerplate
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


def q_boilerplate(spark, sf_dir):
    """Boilerplate-prefix flags: docs opening with a 2-token normalized
    prefix shared by >=2 docs of the same source (per-domain header
    detection; one (source, prefix) hash agg + co-partitioned join back)."""
    d = _docs_par(spark, sf_dir)
    return text.boilerplate_prefixes(d, n_tokens=2, min_docs=2)


ORACLE_BOILERPLATE = f"""
WITH p AS (
  SELECT doc_id, source,
         array_to_string(({_TOKS})[1:2], ' ') AS prefix
  FROM documents
),
c AS (
  SELECT source, prefix, count(*) AS n_docs
  FROM p GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p.doc_id, p.source, p.prefix, c.n_docs
FROM p JOIN c ON p.source = c.source AND p.prefix = c.prefix
"""


SPECS += [
    QuerySpec("x_embedding_drift", q_embedding_drift, ORACLE_EMBEDDING_DRIFT,
              doc="per-dimension embedding drift between snapshot cohorts (integer cross-multiplied means)",
              tags=("llm", "similarity")),
    QuerySpec("x_boilerplate", q_boilerplate, ORACLE_BOILERPLATE,
              doc="per-source boilerplate-prefix detection (shared normalized n-token openings)",
              tags=("llm", "text")),
]


# ---------------------------------------------------------------- r4: MMR rerank
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


SPECS += [
    QuerySpec("x_mmr_rerank", q_mmr_rerank, ORACLE_MMR_RERANK,
              doc="MMR diversity rerank of ANN candidates (greedy λ=0.5, decimilli-exact)",
              tags=("llm", "similarity")),
]


# ---------------------------------------------------------------- r4: kNN graph + clusters
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


def q_knn_graph(spark, sf_dir):
    """Bucketed k-NN graph: top-3 in-bucket cosine neighbors per vector +
    mutuality flag — the clustering/label-propagation substrate."""
    e = _embs_par(spark, sf_dir)
    return similarity.knn_graph(e, k=3, dims=6)


ORACLE_KNN_GRAPH = f"""
WITH {_KNN_CTES}
SELECT t.src, t.dst, t.cos_sim,
       CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS mutual
FROM top t LEFT JOIN top r ON t.src = r.dst AND t.dst = r.src
"""


def q_embedding_clusters(spark, sf_dir):
    """Semantic clusters: connected components over the MUTUAL k-NN edges
    (mutuality prunes asymmetric hub edges — the standard graph-clustering
    cleanup) — min-label propagation, same engine as x_dedup_clusters."""
    e = _embs_par(spark, sf_dir)
    g = similarity.knn_graph(e, k=3, dims=6)
    edges = (
        g.filter((F.col("mutual") == 1) & (F.col("src") < F.col("dst")))
        .select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    )
    return dedup.connected_components(edges).select(
        F.col("doc_id").alias("vec_id"), F.col("cluster_id")
    )


ORACLE_EMBEDDING_CLUSTERS = f"""
WITH RECURSIVE {_KNN_CTES},
mut AS (
  SELECT t.src, t.dst FROM top t JOIN top r ON t.src = r.dst AND t.dst = r.src
),
reach(src, dst) AS (
  SELECT src, dst FROM mut
  UNION
  SELECT r.src, e.dst FROM reach r JOIN mut e ON r.dst = e.src
)
SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
"""


SPECS += [
    QuerySpec("x_knn_graph", q_knn_graph, ORACLE_KNN_GRAPH,
              doc="bucketed mutual k-NN graph over embeddings (clustering substrate)",
              tags=("llm", "similarity", "graph")),
    QuerySpec("x_embedding_clusters", q_embedding_clusters, ORACLE_EMBEDDING_CLUSTERS,
              doc="semantic clusters: connected components over mutual k-NN edges",
              tags=("llm", "similarity", "graph")),
]


# ---------------------------------------------------------------- r4: reservoir sample
def q_reservoir_sample(spark, sf_dir):
    """Exact-k-per-language deterministic reservoir sample under the
    portable-hash permutation, with (n_docs, k) inclusion weights."""
    d = _docs_par(spark, sf_dir)
    return text.reservoir_sample(d, k=20, keys=("lang",))


_RS_HASH = portable_hash64_sql("'rs:' || doc_id::VARCHAR")

ORACLE_RESERVOIR_SAMPLE = f"""
SELECT lang, doc_id, rk, n_docs, 20 AS k FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY {_RS_HASH}, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n_docs
  FROM documents
) WHERE rk <= 20
"""


SPECS += [
    QuerySpec("x_reservoir_sample", q_reservoir_sample, ORACLE_RESERVOIR_SAMPLE,
              doc="deterministic per-key reservoir sample (exact k, portable-hash permutation)",
              tags=("llm", "sampling")),
]


# ---------------------------------------------------------------- r4: multiprobe LSH
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


SPECS += [
    QuerySpec("x_ann_multiprobe", q_ann_multiprobe, ORACLE_ANN_MULTIPROBE,
              doc="multi-probe sign-LSH ANN: hamming-1 bucket fan-out recall repair",
              tags=("llm", "similarity")),
]


# ---------------------------------------------------------------- r4: triangle count / clustering coefficient
def q_triangle_count(spark, sf_dir):
    """Per-node triangles + local clustering coefficient over the MUTUAL
    k-NN semantic graph (operators/graph.triangle_count): the clumpiness
    audit that separates dense near-duplicate cliques (lcc→1e6) from
    hub-like boundary vectors (lcc→0). Degree-ordered orientation bounds
    wedge work by O(m^1.5) — hub-safe where the naive neighbor self-join
    is not. The triangle set is orientation-invariant, so the lexicographic
    DuckDB closure matches bit-for-bit; lcc is integer-DIV on a 1e-6 grid."""
    from ..operators import graph as _graph

    e = _embs_par(spark, sf_dir)
    g = similarity.knn_graph(e, k=3, dims=6)
    edges = g.filter((F.col("mutual") == 1) & (F.col("src") < F.col("dst"))).select(
        "src", "dst"
    )
    return _graph.triangle_count(edges).withColumnRenamed("node", "vec_id")


ORACLE_TRIANGLE_COUNT = f"""
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
)
SELECT d.node AS vec_id, d.degree,
       coalesce(tn.n, 0)::BIGINT AS n_triangles,
       (CASE WHEN d.degree >= 2
             THEN (2 * coalesce(tn.n, 0) * 1000000) // (d.degree * (d.degree - 1))
             ELSE 0 END)::BIGINT AS lcc_micro
FROM deg d LEFT JOIN tn ON d.node = tn.node
"""


SPECS += [
    QuerySpec("x_triangle_count", q_triangle_count, ORACLE_TRIANGLE_COUNT,
              doc="per-node triangles + clustering coefficient on the mutual k-NN graph (degree-ordered orientation)",
              tags=("llm", "similarity", "graph")),
]


# ---------------------------------------------------------------- r4: soft dedup (reweight, not drop)
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


SPECS += [
    QuerySpec("x_soft_dedup", q_soft_dedup, ORACLE_SOFT_DEDUP,
              doc="soft dedup: per-doc 1/cluster-size sampling weights instead of dropping near-dups",
              tags=("llm", "dedup")),
]


# ---------------------------------------------------------------- r4: stupid-backoff trigram LM
def q_backoff_lm(spark, sf_dir):
    """Stupid-Backoff trigram scoring of the ~10% held-out hash split
    against counts from the ~90% complement (operators/
    text.backoff_trigram_score) — the held-out LM-quality eval where the
    backoff branches genuinely fire, complementing the self-scored bigram
    surprisal (x_lm_score). Integer 1e-6-grid scores, order-independent
    BIGINT sums."""
    return text.backoff_trigram_score(_docs_par(spark, sf_dir))


_LM_SPLIT_HASH = portable_hash64_sql("'lmsplit:' || doc_id::VARCHAR")

ORACLE_BACKOFF_LM = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks, (({_LM_SPLIT_HASH} % 1000) < 100) AS held
  FROM documents
),
toks AS (
  SELECT doc_id, held, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM d
),
tr3 AS (
  SELECT a.doc_id, a.held, a.tok AS w1, b.tok AS w2, c.tok AS w3
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
),
c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tr3 WHERE NOT held GROUP BY 1, 2, 3),
bg AS (
  SELECT a.tok AS w1, b.tok AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE NOT a.held
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT tok AS w, count(*) AS c1 FROM toks WHERE NOT held GROUP BY 1),
n AS (SELECT count(*) AS n_train FROM toks WHERE NOT held),
scored AS (
  SELECT t.doc_id,
         CASE WHEN c3.c3 IS NOT NULL THEN (1000000 * c3.c3) // cctx.c2
              WHEN cbg.c2 IS NOT NULL THEN (400000 * cbg.c2) // c1w2.c1
              ELSE (160000 * coalesce(c1w3.c1, 0)) // n.n_train END AS s
  FROM tr3 t
  LEFT JOIN c3 ON t.w1 = c3.w1 AND t.w2 = c3.w2 AND t.w3 = c3.w3
  LEFT JOIN c2 cctx ON t.w1 = cctx.w1 AND t.w2 = cctx.w2
  LEFT JOIN c2 cbg ON t.w2 = cbg.w1 AND t.w3 = cbg.w2
  LEFT JOIN c1 c1w2 ON t.w2 = c1w2.w
  LEFT JOIN c1 c1w3 ON t.w3 = c1w3.w
  CROSS JOIN n
  WHERE t.held
)
SELECT doc_id, count(*)::BIGINT AS n_trigrams, sum(s)::BIGINT AS sum_score_micro,
       (sum(s) // count(*))::BIGINT AS avg_score_micro
FROM scored GROUP BY 1
"""


SPECS += [
    QuerySpec("x_backoff_lm", q_backoff_lm, ORACLE_BACKOFF_LM,
              doc="stupid-backoff trigram LM: held-out split scored against the complement's counts",
              tags=("llm", "text")),
]


# ---------------------------------------------------------------- r4: curriculum ordering
def q_curriculum_order(spark, sf_dir):
    """Curriculum phase assignment (operators/text.curriculum_phases):
    warmup/main/anneal by cumulative token budget over the quality-logit
    grid — the corpus is never globally sorted; the cum-sweep runs on the
    bounded per-logit histogram and phases broadcast back."""
    return text.curriculum_phases(_docs_par(spark, sf_dir))


ORACLE_CURRICULUM_ORDER = f"""
WITH cls AS ({ORACLE_QUALITY_CLASSIFIER}),
feats AS (SELECT doc_id, n_tokens, logit_milli FROM cls),
hist AS (SELECT logit_milli, sum(n_tokens) AS bt FROM feats GROUP BY 1),
cum AS (
  SELECT logit_milli, sum(bt) OVER (ORDER BY logit_milli DESC) AS ct FROM hist
),
tot AS (SELECT sum(bt) AS t FROM hist),
ph AS (
  SELECT logit_milli,
         CASE WHEN ct * 100 <= t * 20 THEN 'warmup'
              WHEN ct * 100 <= t * 80 THEN 'main'
              ELSE 'anneal' END AS phase
  FROM cum, tot
)
SELECT f.doc_id, f.logit_milli, f.n_tokens, ph.phase
FROM feats f JOIN ph USING (logit_milli)
"""


SPECS += [
    QuerySpec("x_curriculum_order", q_curriculum_order, ORACLE_CURRICULUM_ORDER,
              doc="curriculum warmup/main/anneal phases by cumulative token budget on the quality-logit grid",
              tags=("llm", "text", "scale")),
]


# ---------------------------------------------------------------- r4: cluster label purity
def q_cluster_purity(spark, sf_dir):
    """Label purity of the semantic clusters (x_embedding_clusters members
    ⋈ embedding labels): per cluster, size, majority label (smallest label
    wins ties) and purity on a 1e-6 integer grid — the audit that tells you
    whether unsupervised near-dup/semantic clustering agrees with known
    labels before you trust it for stratified sampling. Shape: the CC
    member frame (tiny — only clustered vectors) joins labels by vec_id,
    one (cluster,label) hash agg, one KEYED window for the majority row."""
    from pyspark.sql import Window as W

    e = _embs_par(spark, sf_dir)
    g = similarity.knn_graph(e, k=3, dims=6)
    edges = (
        g.filter((F.col("mutual") == 1) & (F.col("src") < F.col("dst")))
        .select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    )
    members = dedup.connected_components(edges).select(
        F.col("doc_id").alias("vec_id"), F.col("cluster_id")
    )
    lab = members.join(e.select("vec_id", "label"), "vec_id")
    counts = lab.groupBy("cluster_id", "label").agg(F.count(F.lit(1)).alias("n_lab"))
    w = W.partitionBy("cluster_id").orderBy(F.col("n_lab").desc(), F.col("label"))
    top = counts.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1)
    sizes = counts.groupBy("cluster_id").agg(F.sum("n_lab").alias("cluster_size"))
    return top.join(sizes, "cluster_id").select(
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("label").alias("majority_label"),
        F.col("n_lab").cast("long").alias("majority_n"),
        F.expr("CAST((n_lab * 1000000) DIV cluster_size AS BIGINT)").alias(
            "purity_micro"
        ),
    )


ORACLE_CLUSTER_PURITY = f"""
WITH members AS ({ORACLE_EMBEDDING_CLUSTERS}),
lab AS (
  SELECT m.cluster_id, e.label FROM members m JOIN embeddings e USING (vec_id)
),
counts AS (SELECT cluster_id, label, count(*) AS n_lab FROM lab GROUP BY 1, 2),
top AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY n_lab DESC, label) AS rk
    FROM counts
  ) WHERE rk = 1
),
sizes AS (SELECT cluster_id, sum(n_lab) AS cluster_size FROM counts GROUP BY 1)
SELECT t.cluster_id, s.cluster_size::BIGINT AS cluster_size,
       t.label AS majority_label, t.n_lab::BIGINT AS majority_n,
       ((t.n_lab * 1000000) // s.cluster_size)::BIGINT AS purity_micro
FROM top t JOIN sizes s USING (cluster_id)
"""


# ---------------------------------------------------------------- r4: source-overlap matrix
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


# ---------------------------------------------------------------- r4: tokenizer fertility
def q_token_fertility(spark, sf_dir):
    """Per-language tokenizer fertility: docs, tokens, token characters,
    chars-per-token and tokens-per-doc on integer milli-grids — the
    pre-training budget planner's table (how many tokens a language's
    bytes buy). Pure projection + one hash agg; map-only at 100 TB.
    The chars-per-token denominator is guarded (a language bucket whose
    docs are all whitespace has n_tokens = 0 — defined 0 instead of
    NULL-vs-error divergence; same convention as x_classifier_auc)."""
    d = _docs_par(spark, sf_dir)
    toks = tokenize.whitespace_tokens(F.lower(F.trim(F.col("text"))))
    per = d.select(
        "lang",
        F.size(toks).alias("_nt"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).alias(
            "_tc"
        ),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.sum("_tc").alias("tok_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_tokens",
        "tok_chars",
        F.expr(
            "CAST((tok_chars * 1000) DIV greatest(n_tokens, 1) AS BIGINT)"
        ).alias("chars_per_tok_milli"),
        F.expr("CAST((n_tokens * 1000) DIV n_docs AS BIGINT)").alias(
            "toks_per_doc_milli"
        ),
    )


ORACLE_TOKEN_FERTILITY = f"""
WITH per AS (
  -- tc from the SAME token list as nt (summed token lengths), not a
  -- replace(' ','') char count: the two differ the moment text carries
  -- a tab / newline / doubled space (r4 ADVICE — the old form only
  -- matched because fixture text is single-spaced)
  SELECT lang, len({_TOKS}) AS nt,
         coalesce(list_sum(list_transform({_TOKS}, t -> len(t))), 0) AS tc
  FROM documents
),
agg AS (
  SELECT lang, count(*) AS n_docs, sum(nt) AS n_tokens, sum(tc) AS tok_chars
  FROM per GROUP BY 1
)
SELECT lang, n_docs::BIGINT AS n_docs, n_tokens::BIGINT AS n_tokens,
       tok_chars::BIGINT AS tok_chars,
       ((tok_chars * 1000) // greatest(n_tokens, 1))::BIGINT AS chars_per_tok_milli,
       ((n_tokens * 1000) // n_docs)::BIGINT AS toks_per_doc_milli
FROM agg
"""


SPECS += [
    QuerySpec("x_cluster_purity", q_cluster_purity, ORACLE_CLUSTER_PURITY,
              doc="label purity of semantic clusters: majority label + 1e-6-grid purity per cluster",
              tags=("llm", "similarity", "graph")),
    QuerySpec("x_source_overlap", q_source_overlap, ORACLE_SOURCE_OVERLAP,
              doc="source x source near-dup overlap matrix from LSH-verified pairs",
              tags=("llm", "dedup")),
    QuerySpec("x_token_fertility", q_token_fertility, ORACLE_TOKEN_FERTILITY,
              doc="per-language tokenizer fertility: chars/token and tokens/doc on milli-grids",
              tags=("llm", "text", "stats")),
]


# ---------------------------------------------------------------- r4: multiprobe recall audit
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


SPECS += [
    QuerySpec("x_multiprobe_recall", q_multiprobe_recall, ORACLE_MULTIPROBE_RECALL,
              doc="recall@10 of hamming-1 multi-probe LSH vs brute force, per query",
              tags=("llm", "similarity", "audit")),
]


# ------------------------------------------- r4: classifier evaluation suite
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
            # guarded denominator (r4 ADVICE): an all-one-class corpus
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
    # (r4 ADVICE)
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


SPECS += [
    QuerySpec("x_classifier_auc", q_classifier_auc, ORACLE_CLASSIFIER_AUC,
              doc="tie-corrected Mann-Whitney ROC-AUC of the quality classifier vs the weak en label",
              tags=("llm", "eval", "audit")),
    QuerySpec("x_calibration_bins", q_calibration_bins, ORACLE_CALIBRATION_BINS,
              doc="reliability-diagram bins: per-bin support, mean logit, empirical rate, calibration gap",
              tags=("llm", "eval", "audit")),
]


def q_chi2_terms(spark, sf_dir):
    """Chi-square term selection: the tokens whose document frequency most
    discriminates English from non-English docs (the feature-selection
    pass that seeds a fasttext-style filter's vocabulary, or flags
    label-leaking boilerplate).  Presence-based 2x2 contingency per token:
    n11/n10 = en / non-en docs containing it, margins from a broadcast
    1-row totals frame.

    Scale shape: one distinct (doc, token) explode (Heaps-sublinear
    vocabulary), one hash-agg to per-token counts, broadcast scalar
    totals, and a distributed TakeOrdered top-50 — no global sort, no
    single-partition exchange over data.  The chi2 statistic itself runs
    in DOUBLE on exact BIGINT counts with an identical expression tree on
    both engines: every op (*, -, /) is IEEE correctly rounded, so the
    milli-floor is engine-stable (same argument class as x_weighted_sample,
    pinned by the boundary reasoning in its docstring)."""
    d = _docs_par(spark, sf_dir)
    toks = d.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_pos"),
        F.explode(
            F.array_distinct(tokenize.whitespace_tokens(dedup.normalize_text(F.col("text"))))
        ).alias("token"),
    )
    per_tok = toks.groupBy("token").agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("n11"),
        F.sum(F.when(F.col("is_pos"), 0).otherwise(1)).cast("bigint").alias("n10"),
    )
    totals = d.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).cast("bigint").alias("n0"),
    )
    scored = (
        per_tok.crossJoin(F.broadcast(totals))
        .withColumn("n01", F.col("n1") - F.col("n11"))
        .withColumn("n00", F.col("n0") - F.col("n10"))
        .filter((F.col("n11") + F.col("n10")) >= 5)
        .withColumn(
            "chi2_milli",
            F.expr(
                """CAST(floor(
                     1000.0 * (n1 + n0)
                     * (CAST(n11 AS DOUBLE) * n00 - CAST(n10 AS DOUBLE) * n01)
                     * (CAST(n11 AS DOUBLE) * n00 - CAST(n10 AS DOUBLE) * n01)
                     / (CAST(n1 AS DOUBLE) * n0 * (n11 + n10) * (n01 + n00))
                   ) AS BIGINT)"""
            ),
        )
    )
    return (
        scored.select("token", "n11", "n10", "chi2_milli")
        .orderBy(F.desc("chi2_milli"), "token")
        .limit(50)
    )


ORACLE_CHI2_TERMS = rf"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS is_pos, unnest(list_distinct({_TOKS})) AS token
  FROM documents
),
per_tok AS (
  SELECT token,
         sum(CASE WHEN is_pos THEN 1 ELSE 0 END)::BIGINT AS n11,
         sum(CASE WHEN is_pos THEN 0 ELSE 1 END)::BIGINT AS n10
  FROM toks GROUP BY 1
),
totals AS (
  SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n1,
         sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS n0
  FROM documents
),
scored AS (
  SELECT token, n11, n10,
         floor(
           1000.0 * (n1 + n0)
           * (n11::DOUBLE * (n0 - n10) - n10::DOUBLE * (n1 - n11))
           * (n11::DOUBLE * (n0 - n10) - n10::DOUBLE * (n1 - n11))
           / (n1::DOUBLE * n0 * (n11 + n10) * ((n1 - n11) + (n0 - n10)))
         )::BIGINT AS chi2_milli
  FROM per_tok, totals
  WHERE n11 + n10 >= 5
)
SELECT token, n11, n10, chi2_milli
FROM scored ORDER BY chi2_milli DESC, token LIMIT 50
"""


SPECS += [
    QuerySpec("x_chi2_terms", q_chi2_terms, ORACLE_CHI2_TERMS,
              doc="chi-square feature selection: top-50 tokens discriminating en vs non-en by doc frequency",
              tags=("llm", "eval", "text")),
]


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


SPECS += [
    QuerySpec("x_wilson_rank", q_wilson_rank, ORACLE_WILSON_RANK,
              doc="Wilson lower-bound (z=1.96) ranking of sources by classifier keep rate, micro grid",
              tags=("llm", "eval", "audit")),
]


# ----------------------------------------------------------------- r4: DBSCAN
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


SPECS += [
    QuerySpec("x_dbscan", q_dbscan, ORACLE_DBSCAN,
              doc="grid-cell DBSCAN with noise over the 2-D projected embedding plane; brute-force + recursive-closure oracle",
              tags=("llm", "similarity", "clustering")),
]


# ------------------------------------------------- r4: span corruption (T5)
def q_span_corruption(spark, sf_dir):
    """Denoising-objective target generation (T5/UL2 span corruption):
    deterministic hash-chosen token spans are cut out of each document,
    the input keeps one sentinel token per span, and the target pairs
    each sentinel with the masked content — the (input_text, target_text)
    pair generator of a seq2seq pre-training pipeline, as a pure
    DataFrame program.

    Mechanics: tokens partition into 3-token blocks; block b of doc d is
    masked iff pmod(hash('span:d:b'), 1000) < 150 (≈15% corruption rate,
    mean span 3 — both engines derive identical masks from the portable
    hash).  Span index k = count of masked blocks strictly before b (a
    KEYED window per doc over the per-block frame).  Reassembly is one
    sort-key trick: input pieces keep key 2·pos (sentinel replaces the
    block's first token), target pieces interleave sentinels at 2·pos−1
    with masked tokens at 2·pos; array_sort + filter + concat_ws emits
    both strings in one hash-agg per doc.

    Scale shape: explode → two hash-aggs (block frame, doc reassembly)
    + one keyed window, all partitioned by doc_id; no global sort, no
    UDFs — string surgery entirely in whole-stage codegen."""
    from pyspark.sql import Window

    d = _docs_par(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.posexplode(
            tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
        ).alias("pos", "token"),
    ).withColumn("block", F.expr("pos DIV 3"))

    blocks = (
        toks.groupBy("doc_id", "block")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .withColumn(
            "masked",
            F.pmod(
                portable_hash64(
                    F.concat_ws(":", F.lit("span"), "doc_id", "block")
                ),
                F.lit(1000),
            )
            < 150,
        )
        .withColumn(
            "k",
            F.coalesce(
                F.sum(F.col("masked").cast("long")).over(
                    Window.partitionBy("doc_id")
                    .orderBy("block")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    pieces = (
        toks.join(blocks.select("doc_id", "block", "masked", "k"), ["doc_id", "block"])
        .select(
            "doc_id",
            "pos",
            "token",
            "masked",
            (F.col("pos") % 3 == 0).alias("is_first"),
            F.concat(F.lit("<extra_id_"), F.col("k"), F.lit(">")).alias("sent"),
        )
    ).cache()  # three union branches consume pieces; uncached, each branch
    # re-runs the explode + block window + join from the text scan (repeat 6
    # — r9 verdict item 5; cached, one materialization feeds all three.
    # Measured A/B in BENCHNOTES r10. At 100 TB: a materialized shard table.
    inp = pieces.filter(~F.col("masked") | F.col("is_first")).select(
        "doc_id",
        (F.col("pos") * 2).alias("key"),
        F.when(~F.col("masked"), F.col("token")).otherwise(F.col("sent")).alias(
            "piece"
        ),
        F.lit("i").alias("side"),
    )
    tgt_tok = pieces.filter("masked").select(
        "doc_id",
        (F.col("pos") * 2).alias("key"),
        F.col("token").alias("piece"),
        F.lit("t").alias("side"),
    )
    tgt_sent = pieces.filter(F.col("masked") & F.col("is_first")).select(
        "doc_id",
        (F.col("pos") * 2 - 1).alias("key"),
        F.col("sent").alias("piece"),
        F.lit("s").alias("side"),
    )

    # ONE aggregation for both strings and the span count — assembling the
    # three piece kinds in a single keyed hash-agg avoids re-shuffling the
    # token stream three times and sidesteps joining three aggregates of
    # shared lineage (which Spark 4.1 mis-planned under AQE: the unioned
    # aggregate emitted per-branch rows when its output fed a multi-join;
    # one terminal agg has no such ambiguity and is the better 100 TB plan
    # anyway: one shuffle on doc_id total).
    def _side(ps, which):
        return F.concat_ws(
            " ",
            F.transform(
                F.filter(ps, lambda x: x["side"].isin(list(which))),
                lambda x: x["piece"],
            ),
        )

    allp = inp.unionByName(tgt_tok).unionByName(tgt_sent)
    ps = F.array_sort(F.collect_list(F.struct("key", "side", "piece")))
    return (
        allp.groupBy("doc_id")
        .agg(ps.alias("_ps"))
        .select(
            "doc_id",
            _side(F.col("_ps"), ("i",)).alias("input_text"),
            _side(F.col("_ps"), ("t", "s")).alias("target_text"),
            F.size(F.filter(F.col("_ps"), lambda x: x["side"] == "s"))
            .cast("long")
            .alias("n_spans"),
        )
    )


_SPAN_PHASH = _PHASH.format(x="('span:' || doc_id::VARCHAR || ':' || block::VARCHAR)")

ORACLE_SPAN_CORRUPTION = rf"""
WITH toks AS (
  SELECT doc_id, (generate_subscripts(t, 1) - 1)::BIGINT AS pos,
         unnest(t) AS token
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
),
tb AS (SELECT doc_id, pos, token, (pos // 3)::BIGINT AS block FROM toks),
blocks AS (
  SELECT doc_id, block,
         (({_SPAN_PHASH} % 1000) < 150) AS masked
  FROM (SELECT DISTINCT doc_id, block FROM tb)
),
kb AS (
  SELECT doc_id, block, masked,
         coalesce(sum(CASE WHEN masked THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY block
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS k
  FROM blocks
),
pieces AS (
  SELECT t.doc_id, t.pos, t.token, b.masked, (t.pos % 3 = 0) AS is_first,
         '<extra_id_' || b.k::VARCHAR || '>' AS sent
  FROM tb t JOIN kb b ON t.doc_id = b.doc_id AND t.block = b.block
),
inp AS (
  SELECT doc_id,
         string_agg(piece, ' ' ORDER BY key) AS input_text
  FROM (
    SELECT doc_id, pos * 2 AS key,
           CASE WHEN NOT masked THEN token
                WHEN is_first THEN sent END AS piece
    FROM pieces
  ) WHERE piece IS NOT NULL
  GROUP BY doc_id
),
tgt AS (
  SELECT doc_id, string_agg(piece, ' ' ORDER BY key) AS target_text
  FROM (
    SELECT doc_id, pos * 2 AS key, token AS piece FROM pieces WHERE masked
    UNION ALL
    SELECT doc_id, pos * 2 - 1, sent FROM pieces WHERE masked AND is_first
  ) GROUP BY doc_id
),
ns AS (
  SELECT doc_id, sum(CASE WHEN masked THEN 1 ELSE 0 END)::BIGINT AS n_spans
  FROM kb GROUP BY doc_id
)
SELECT i.doc_id, i.input_text, coalesce(t.target_text, '') AS target_text,
       ns.n_spans
FROM inp i
LEFT JOIN tgt t ON i.doc_id = t.doc_id
JOIN ns ON i.doc_id = ns.doc_id
"""


SPECS += [
    QuerySpec("x_span_corruption", q_span_corruption, ORACLE_SPAN_CORRUPTION,
              doc="T5-style span corruption: hash-chosen spans, sentinel input/target pair per doc, UDF-free",
              tags=("llm", "text", "training")),
]


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


SPECS += [
    QuerySpec("x_lang_confusion", q_lang_confusion, ORACLE_LANG_CONFUSION,
              doc="one-vs-rest precision/recall/F1 of the language router vs true labels, milli grid",
              tags=("llm", "eval", "audit")),
]


# ---------------------------------------------------------------- r5: Gopher rule funnel
def q_gopher_rules(spark, sf_dir):
    """Per-RULE attrition table for the Gopher quality heuristics (Rae et
    al. 2021, Table A1 — the rule family MassiveText/Gopher filtered with,
    reused by most web-corpus pipelines since): how many documents each
    rule rejects, alone, plus the all-rules survivor count. This is the
    diagnostic the single-logit x_quality_score can't give: when a corpus
    refresh suddenly halves, THIS table says which rule did it.

    Rules (integer milli grids; a token is a whitespace token of
    lower(trim(text)), the registry's shared _TOKS contract):
      1_word_count    50 <= n_tokens <= 100_000
      2_mean_word_len 3000 <= floor(1000*sum_len/n) <= 10_000
      3_stop_words    >= 2 DISTINCT hits from the 8-word English stopword
                      list (operators/text.LANG_STOPWORDS['en'] — the
                      published rule is English-centric by design; non-
                      Latin scripts fail here and in 5_alpha_words, which
                      is exactly what running Gopher rules on a
                      multilingual crawl does)
      4_symbol_ratio  tokens containing '#' or '...' <= 100 milli of n
      5_alpha_words   tokens containing [a-z] >= 800 milli of n
      0_all / 9_keep  corpus size and all-rules survivors.

    Scale shape: one map-only projection computes all five flags per doc
    (shared token array, no shuffle), then ONE grand-total aggregate
    unpivoted to rule rows — the same single-pass funnel shape as
    x_select_pipeline, trivially map-reduce at 100 TB."""
    d = _docs_par(spark, sf_dir)
    toks = tokenize.whitespace_tokens(F.lower(F.trim(F.col("text"))))
    n = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    mwl_milli = F.expr(
        "CAST(1000 * _sum_len DIV greatest(_n, 1) AS BIGINT)"
    )
    stops = text.LANG_STOPWORDS["en"]
    n_stop_distinct = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in stops]))
    )
    n_sym = F.size(F.filter(toks, lambda t: t.contains("#") | t.contains("...")))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    flags = d.select(
        n.alias("_n"),
        sum_len.alias("_sum_len"),
        n_stop_distinct.alias("_nsd"),
        n_sym.alias("_nsym"),
        n_alpha.alias("_nalpha"),
    ).select(
        ((F.col("_n") >= 50) & (F.col("_n") <= 100_000)).alias("r1"),
        mwl_milli.between(3000, 10_000).alias("r2"),
        (F.col("_nsd") >= 2).alias("r3"),
        (F.expr("1000 * _nsym DIV greatest(_n, 1)") <= 100).alias("r4"),
        (F.expr("1000 * _nalpha DIV greatest(_n, 1)") >= 800).alias("r5"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.when(F.col(r), 0).otherwise(1)).cast("bigint").alias(f"f{r}")
            for r in ("r1", "r2", "r3", "r4", "r5")
        ],
        F.sum(
            F.when(
                F.col("r1") & F.col("r2") & F.col("r3") & F.col("r4") & F.col("r5"),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_keep"),
    )
    out = agg.selectExpr(
        "stack(7,"
        " '0_all', n_docs,"
        " '1_word_count', fr1,"
        " '2_mean_word_len', fr2,"
        " '3_stop_words', fr3,"
        " '4_symbol_ratio', fr4,"
        " '5_alpha_words', fr5,"
        " '9_keep', n_keep) AS (rule, n)",
        "n_docs AS _tot",
    )
    return out.select(
        "rule",
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST(1000 * n DIV greatest(_tot, 1) AS BIGINT)").alias("pct_milli"),
    )


ORACLE_GOPHER_RULES = f"""
WITH per AS (
  SELECT len({_TOKS}) AS n,
         coalesce(list_sum(list_transform({_TOKS}, t -> len(t))), 0) AS sum_len,
         len(list_intersect(list_distinct({_TOKS}),
             ['the', 'and', 'of', 'to', 'in', 'is', 'a', 'that'])) AS nsd,
         len(list_filter({_TOKS}, t -> contains(t, '#') OR contains(t, '...'))) AS nsym,
         len(list_filter({_TOKS}, t -> regexp_matches(t, '[a-z]'))) AS nalpha
  FROM documents
),
flags AS (
  SELECT (n >= 50 AND n <= 100000) AS r1,
         (1000 * sum_len // greatest(n, 1)) BETWEEN 3000 AND 10000 AS r2,
         (nsd >= 2) AS r3,
         (1000 * nsym // greatest(n, 1)) <= 100 AS r4,
         (1000 * nalpha // greatest(n, 1)) >= 800 AS r5
  FROM per
),
agg AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(CASE WHEN r1 THEN 0 ELSE 1 END)::BIGINT AS fr1,
         sum(CASE WHEN r2 THEN 0 ELSE 1 END)::BIGINT AS fr2,
         sum(CASE WHEN r3 THEN 0 ELSE 1 END)::BIGINT AS fr3,
         sum(CASE WHEN r4 THEN 0 ELSE 1 END)::BIGINT AS fr4,
         sum(CASE WHEN r5 THEN 0 ELSE 1 END)::BIGINT AS fr5,
         sum(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 1 ELSE 0 END)::BIGINT AS n_keep
  FROM flags
),
rows_ AS (
  SELECT * FROM (
    SELECT '0_all' AS rule, n_docs AS n, n_docs AS tot FROM agg
    UNION ALL SELECT '1_word_count', fr1, n_docs FROM agg
    UNION ALL SELECT '2_mean_word_len', fr2, n_docs FROM agg
    UNION ALL SELECT '3_stop_words', fr3, n_docs FROM agg
    UNION ALL SELECT '4_symbol_ratio', fr4, n_docs FROM agg
    UNION ALL SELECT '5_alpha_words', fr5, n_docs FROM agg
    UNION ALL SELECT '9_keep', n_keep, n_docs FROM agg
  )
)
SELECT rule, n::BIGINT AS n, (1000 * n // greatest(tot, 1))::BIGINT AS pct_milli
FROM rows_
"""


# ---------------------------------------------------------------- r5: Heaps-law vocab growth
def q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth curve: cumulative distinct-token count
    (and token/doc totals) over 10 equal doc_id-range prefixes of the
    corpus — the curve whose flattening says a crawl has stopped bringing
    new vocabulary (and whose slope calibrates tokenizer vocab budgets).

    The distributed trick: cumulative DISTINCT is not a decomposable
    aggregate, but "token first SEEN in bucket b" is — vocab(prefix b) =
    Σ_{k<=b} |{tokens whose MIN doc-bucket is k}|. So: explode tokens,
    min-aggregate each token's first bucket (the Heaps-sublinear vocab
    table, tiny next to the corpus), count by bucket, and prefix-sum the
    10-row result with the shared distributed_cumsum. No window ever sees
    a data-proportional axis; at 100 TB this is explode -> two hash aggs.

    Bucket = floor(10 * doc_id / (max_doc_id + 1)) — doc_id-range
    prefixes (the fixture's ingest order), attached as a broadcast scalar.
    """
    d = _docs_par(spark, sf_dir)
    toks = tokenize.whitespace_tokens(F.lower(F.trim(F.col("text"))))
    mx = d.agg(F.max("doc_id").alias("_mx"))
    docs = d.select("doc_id", toks.alias("_toks")).join(F.broadcast(mx)).select(
        F.expr("CAST(10 * doc_id DIV (_mx + 1) AS BIGINT)").alias("bucket"),
        "doc_id",
        "_toks",
    )
    per_bucket = docs.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("_toks")).cast("bigint").alias("n_tokens"),
    )
    first_seen = (
        docs.select("bucket", F.explode("_toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("bucket").alias("first_bucket"))
        .groupBy("first_bucket")
        .agg(F.count(F.lit(1)).alias("vocab_new"))
    )
    joined = per_bucket.join(
        first_seen.withColumnRenamed("first_bucket", "bucket"), "bucket", "left"
    ).select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.coalesce("vocab_new", F.lit(0)).cast("bigint").alias("vocab_new"),
    )
    cum = distributed_cumsum(joined, ["bucket"], "n_tokens", "tokens_cum")
    cum = distributed_cumsum(cum, ["bucket"], "vocab_new", "vocab_cum")
    return cum.select(
        "bucket",
        "n_docs",
        F.col("tokens_cum").cast("bigint").alias("tokens_cum"),
        F.col("vocab_cum").cast("bigint").alias("vocab_cum"),
    )


ORACLE_VOCAB_GROWTH = f"""
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
docs AS (
  SELECT (10 * doc_id // (m + 1))::BIGINT AS bucket, doc_id, {_TOKS} AS toks
  FROM documents CROSS JOIN mx
),
per_bucket AS (
  SELECT bucket, count(*)::BIGINT AS n_docs, sum(len(toks))::BIGINT AS n_tokens
  FROM docs GROUP BY 1
),
first_seen AS (
  SELECT min(bucket) AS first_bucket, tok
  FROM (SELECT bucket, unnest(toks) AS tok FROM docs) GROUP BY tok
),
vocab AS (
  SELECT first_bucket AS bucket, count(*)::BIGINT AS vocab_new
  FROM first_seen GROUP BY 1
)
SELECT p.bucket, p.n_docs,
       sum(p.n_tokens) OVER (ORDER BY p.bucket)::BIGINT AS tokens_cum,
       sum(coalesce(v.vocab_new, 0)) OVER (ORDER BY p.bucket)::BIGINT AS vocab_cum
FROM per_bucket p LEFT JOIN vocab v USING (bucket)
"""


SPECS += [
    QuerySpec("x_gopher_rules", q_gopher_rules, ORACLE_GOPHER_RULES,
              doc="Gopher quality-rule attrition funnel: per-rule reject counts + all-rules survivors",
              tags=("llm", "text", "curation")),
    QuerySpec("x_vocab_growth", q_vocab_growth, ORACLE_VOCAB_GROWTH,
              doc="Heaps-law vocabulary growth over 10 corpus prefixes via first-seen-bucket decomposition",
              tags=("llm", "text", "stats")),
]


# ---------------------------------------------------------------- r5: neighborhood-Jaccard link prediction
def q_link_predict(spark, sf_dir):
    """Link prediction over the mutual k-NN semantic graph: score every
    NON-adjacent pair at wedge distance 2 by common-neighbor count and
    neighborhood Jaccard (cn * 1e6 DIV (deg_u + deg_v - cn)) — the
    classic local-similarity predictor (Liben-Nowell & Kleinberg), here
    surfacing "these two docs share semantic neighbors but were never
    near-dup-paired" candidates for cluster repair / retrieval expansion.

    Candidate generation is wedge-bounded: the k-NN substrate caps every
    degree at <= 2k, so wedge fan-out per node is O(k^2) and the pair set
    is linear in nodes — the honest scale story (on an UNCAPPED graph you
    would orient by degree first, as triangle_count does). The edge frame
    is cached: it feeds the symmetrized neighbor list, both wedge sides,
    the degree table and the adjacency anti-join, and uncached each
    consumer would recompile the whole bucketed kNN self-join (the
    audit's recompiled-lineage gate, tools/audit_plans.py).

    Output: (src, dst, common_n, jaccard_micro), non-adjacent pairs with
    at least one shared neighbor, src < dst."""
    e = _embs_par(spark, sf_dir)
    g = similarity.knn_graph(e, k=3, dims=6)
    edges = (
        g.filter((F.col("mutual") == 1) & (F.col("src") < F.col("dst")))
        .select("src", "dst")
        .cache()
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).cache()
    a, b = sym.alias("a"), sym.alias("b")
    wedges = (
        a.join(b, F.col("a.dst") == F.col("b.dst"))
        .filter(F.col("a.src") < F.col("b.src"))
        .select(F.col("a.src").alias("u"), F.col("b.src").alias("v"))
    )
    cn = wedges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("common_n"))
    non_adj = cn.join(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    return (
        non_adj.join(deg.select(F.col("src").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("src").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            F.col("common_n").cast("bigint").alias("common_n"),
            F.expr(
                "CAST(common_n * 1000000 DIV (du + dv - common_n) AS BIGINT)"
            ).alias("jaccard_micro"),
        )
    )


ORACLE_LINK_PREDICT = f"""
WITH {_KNN_CTES},
mut AS (
  SELECT t.src, t.dst FROM top t JOIN top r ON t.src = r.dst AND t.dst = r.src
  WHERE t.src < t.dst
),
sym AS (
  SELECT src, dst FROM mut UNION ALL SELECT dst, src FROM mut
),
deg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM sym GROUP BY 1),
cn AS (
  SELECT a.src AS u, b.src AS v, count(*)::BIGINT AS common_n
  FROM sym a JOIN sym b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
),
non_adj AS (
  SELECT c.* FROM cn c
  LEFT JOIN mut m ON c.u = m.src AND c.v = m.dst
  WHERE m.src IS NULL
)
SELECT n.u AS src, n.v AS dst, n.common_n,
       (n.common_n * 1000000 // (du.deg + dv.deg - n.common_n))::BIGINT AS jaccard_micro
FROM non_adj n
JOIN deg du ON du.node = n.u
JOIN deg dv ON dv.node = n.v
"""


SPECS += [
    QuerySpec("x_link_predict", q_link_predict, ORACLE_LINK_PREDICT,
              doc="common-neighbor / Jaccard link prediction over the mutual kNN graph, wedge-bounded",
              tags=("llm", "graph", "similarity")),
]


# ---------------------------------------------------------------- r5: per-dimension embedding variance
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


SPECS += [
    QuerySpec("x_dim_variance", q_dim_variance, ORACLE_DIM_VARIANCE,
              doc="per-dimension embedding variance profile on the milli grid (dead/rogue dim audit)",
              tags=("llm", "similarity", "stats")),
]


# ---------------------------------------------------------------- r5: chance-corrected router agreement
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


SPECS += [
    QuerySpec("x_router_kappa", q_router_kappa, ORACLE_ROUTER_KAPPA,
              doc="Cohen's kappa of the language router vs true labels, ppm grid from exact confusion counts",
              tags=("llm", "eval", "stats")),
]


# ---------------------------------------------------------------- r5: expected calibration error
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


# ---------------------------------------------------------------- r5: k-anonymity audit
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


SPECS += [
    QuerySpec("x_ece", q_ece, ORACLE_ECE,
              doc="expected + max calibration error from the shared fixed-width bin pipeline",
              tags=("llm", "eval", "stats")),
    QuerySpec("x_k_anonymity", q_k_anonymity, ORACLE_K_ANONYMITY,
              doc="k-anonymity audit over the (lang, source) quasi-identifier grid with exposure summary",
              tags=("llm", "privacy", "audit")),
]


# ---------------------------------------------------------------- r5: dataset card
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


SPECS += [
    QuerySpec("x_dataset_card", q_dataset_card, ORACLE_DATASET_CARD,
              doc="datasheet summary: size, breadth, dup rate, quality-gate keep rates as (metric, value) rows",
              tags=("llm", "audit", "curation")),
]


# ---------------------------------------------------------------- r5: centroid-distance outliers
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


SPECS += [
    QuerySpec("x_centroid_outliers", q_centroid_outliers, ORACLE_CENTROID_OUTLIERS,
              doc="top-20 farthest-from-centroid vectors, exact BIGINT milli-grid distance, TakeOrdered top-k",
              tags=("llm", "similarity", "audit")),
]


# ---------------------------------------------------------------- r5: quality vs duplication interaction
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


SPECS += [
    QuerySpec("x_quality_vs_dup", q_quality_vs_dup, _oracle_quality_vs_dup(),
              doc="mean quality logit + keep rate per near-dup cluster-size band (dedup-vs-filter ordering evidence)",
              tags=("llm", "dedup", "eval")),
]


# ---------------------------------------------------------------- r5: covariance / top-PC
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


SPECS += [
    QuerySpec("x_embedding_cov", q_embedding_cov, ORACLE_EMBEDDING_COV,
              doc="exact milli-grid embedding covariance matrix via Arrow-batched partial grams (whitening/PCA substrate)",
              tags=("llm", "similarity", "stats")),
    QuerySpec("x_pca_power", q_pca_power, _oracle_pca_power(),
              doc="top principal component by exact integer power iteration; PC1 projection histogram (anisotropy audit)",
              tags=("llm", "similarity", "stats")),
]


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


SPECS += [
    QuerySpec("x_spectral_ratio", q_spectral_ratio, _oracle_spectral_ratio(),
              doc="PC1 variance-explained share in ppm (spectral anisotropy index; max-norm Rayleigh quotient)",
              tags=("llm", "similarity", "stats")),
]


# ---------------------------------------------------------------- r5: diagonal-whitened outliers
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


SPECS += [
    QuerySpec("x_whiten_outliers", q_whiten_outliers, ORACLE_WHITEN_OUTLIERS,
              doc="top-20 outliers under diagonal-whitened (variance-standardized) distance on the exact milli grid",
              tags=("llm", "similarity", "stats")),
]


# ================================================================ round 6
# Corpus fingerprinting, mixture planning, and distribution audits.


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
    from ..functions.hashing import portable_hash64

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


def q_source_divergence(spark, sf_dir):
    """Per-source token-distribution divergence from the corpus — the
    mixture-drift audit run before re-weighting a training mix: for each
    source, total-variation distance and a chi-square statistic between
    its unigram distribution and the corpus distribution, on the exact
    ppm grid over the top-200-token axis (+ an '__other__' bucket for the
    tail, so both distributions are complete and the axis is BOUNDED —
    201 cells regardless of vocabulary size; log-based divergences (KL,
    JS) are deliberately avoided: libm log is not bit-identical across
    engines, TV + chi2 carry the same ranking signal exactly).

    Scale shape: one (source, token) hash agg over the exploded corpus
    (map-side combine), a <= vocab-size token rollup, top-200 via
    TakeOrderedAndProject, then everything downstream is per-source x
    201-bucket — broadcast joins only, no data-proportional state."""
    d = _docs_par(spark, sf_dir)
    toks = d.select(
        "source",
        F.explode(
            tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
        ).alias("token"),
    )
    st = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_st")
    ).cache()
    corpus = st.groupBy("token").agg(F.sum("n_st").alias("n_t"))
    top = corpus.orderBy(F.col("n_t").desc(), "token").limit(200).select(
        "token", F.lit(1).alias("is_top")
    )
    bucket = F.when(F.col("is_top") == 1, F.col("token")).otherwise(
        F.lit("__other__")
    )
    corpus_b = (
        corpus.join(F.broadcast(top), "token", "left")
        .select(bucket.alias("bucket"), "n_t")
        .groupBy("bucket")
        .agg(F.sum("n_t").alias("exp_n"))
    )
    total = corpus_b.agg(F.sum("exp_n").alias("total_n"))
    src_b = (
        st.join(F.broadcast(top), "token", "left")
        .select("source", bucket.alias("bucket"), "n_st")
        .groupBy("source", "bucket")
        .agg(F.sum("n_st").alias("obs_n"))
    )
    srcs = st.groupBy("source").agg(F.sum("n_st").alias("n_tokens"))
    grid = (
        srcs.crossJoin(F.broadcast(corpus_b))
        .join(src_b, ["source", "bucket"], "left")
        .withColumn("obs_n", F.coalesce(F.col("obs_n"), F.lit(0)))
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_tokens",
            F.expr("CAST(obs_n * 1000000 DIV n_tokens AS BIGINT)").alias("obs_ppm"),
            F.expr("CAST(exp_n * 1000000 DIV total_n AS BIGINT)").alias("exp_ppm"),
        )
    )
    return (
        grid.groupBy("source", "n_tokens")
        .agg(
            F.expr("CAST(sum(abs(obs_ppm - exp_ppm)) DIV 2 AS BIGINT)").alias(
                "tv_ppm"
            ),
            F.expr(
                "CAST(sum((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)"
                " DIV greatest(exp_ppm, 1)) AS BIGINT)"
            ).alias("chi2_ppm"),
        )
        .select("source", "n_tokens", "tv_ppm", "chi2_ppm")
    )


ORACLE_SOURCE_DIVERGENCE = f"""
WITH toks AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
st AS (SELECT source, token, count(*)::BIGINT AS n_st FROM toks GROUP BY 1, 2),
corpus AS (SELECT token, sum(n_st)::BIGINT AS n_t FROM st GROUP BY 1),
top AS (SELECT token, 1 AS is_top FROM corpus ORDER BY n_t DESC, token LIMIT 200),
corpus_b AS (
  SELECT CASE WHEN t.is_top = 1 THEN c.token ELSE '__other__' END AS bucket,
         sum(c.n_t)::BIGINT AS exp_n
  FROM corpus c LEFT JOIN top t USING (token) GROUP BY 1
),
total AS (SELECT sum(exp_n)::BIGINT AS total_n FROM corpus_b),
src_b AS (
  SELECT s.source, CASE WHEN t.is_top = 1 THEN s.token ELSE '__other__' END AS bucket,
         sum(s.n_st)::BIGINT AS obs_n
  FROM st s LEFT JOIN top t USING (token) GROUP BY 1, 2
),
srcs AS (SELECT source, sum(n_st)::BIGINT AS n_tokens FROM st GROUP BY 1),
grid AS (
  SELECT r.source, r.n_tokens,
         (coalesce(sb.obs_n, 0) * 1000000 // r.n_tokens)::BIGINT AS obs_ppm,
         (cb.exp_n * 1000000 // tt.total_n)::BIGINT AS exp_ppm
  FROM srcs r CROSS JOIN corpus_b cb CROSS JOIN total tt
  LEFT JOIN src_b sb ON sb.source = r.source AND sb.bucket = cb.bucket
)
SELECT source, n_tokens,
       (sum(abs(obs_ppm - exp_ppm)) // 2)::BIGINT AS tv_ppm,
       sum((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)
           // greatest(exp_ppm, 1))::BIGINT AS chi2_ppm
FROM grid GROUP BY 1, 2
"""


def q_mix_waterfill(spark, sf_dir):
    """Training-mixture budget waterfilling: allocate a token budget
    B = total DIV 2 across sources so every source gets min(avail, theta)
    with one shared level theta — the classic epoch-cap mixture rule
    (small sources are taken whole, large sources are capped at theta,
    i.e. nobody is upsampled past the level the budget supports). The
    level is found in closed form from the availability order statistics:
    theta = (B - prefix(r*)) DIV (D - r*) where r* is the largest rank
    whose source still saturates — no iteration, all BIGINT.

    Output: one row per source (availability, allocation, saturated
    flag) plus a '__summary__' row carrying the level, the total
    allocation, and the leftover (< D tokens by construction,
    integer-division remainder — documented, not redistributed).

    Scale shape: token availability is size(split()) summed per source —
    no explode; the order statistics run through distributed_cumsum
    (range partition + keyed window), never a single-partition global
    window; the level selection is a scalar aggregate; the final
    allocation is a broadcast of 3 scalars against the per-source frame.
    The domain axis (thousands of sources at worst) is the only state."""
    d = _docs_par(spark, sf_dir)
    from ..operators.windows import distributed_cumsum

    avail = (
        d.select(
            "source",
            F.size(
                tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
            ).cast("bigint").alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").alias("avail_tokens"))
    )
    ranked = distributed_cumsum(
        avail.withColumn("one", F.lit(1)),
        order_cols=["avail_tokens", "source"],
        value_col=["avail_tokens", "one"],
        out_col=["prefix", "r"],
    ).drop("one").cache()
    scal = ranked.agg(
        F.sum("avail_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("d_count"),
    ).withColumn("budget", F.expr("CAST(total_tokens DIV 2 AS BIGINT)"))
    # r* = the largest rank whose source saturates when the r* smallest all
    # saturate: avail_r <= (B - prefix_r) DIV (D - r); vacuously 0
    rstar = (
        ranked.crossJoin(F.broadcast(scal))
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        (F.col("r") < F.col("d_count"))
                        & (
                            F.col("avail_tokens")
                            <= F.expr(
                                "CAST((budget - prefix) DIV (d_count - r) AS BIGINT)"
                            )
                        ),
                        F.col("r"),
                    )
                ),
                F.lit(0),
            ).alias("r_star")
        )
    )
    level = (
        ranked.crossJoin(F.broadcast(rstar))
        .crossJoin(F.broadcast(scal))
        .agg(
            F.max(F.col("r_star")).alias("r_star"),
            F.max(F.col("budget")).alias("budget"),
            F.max(F.col("total_tokens")).alias("total_tokens"),
            F.expr(
                "CAST((max(budget) - coalesce(max(CASE WHEN r = r_star THEN prefix END), 0))"
                " DIV (max(d_count) - max(r_star)) AS BIGINT)"
            ).alias("level_tokens"),
        )
    )
    alloc = (
        ranked.crossJoin(F.broadcast(level))
        .select(
            "source",
            "avail_tokens",
            F.least(F.col("avail_tokens"), F.col("level_tokens")).alias(
                "alloc_tokens"
            ),
            (F.col("avail_tokens") <= F.col("level_tokens"))
            .cast("bigint")
            .alias("saturated"),
            F.lit(None).cast("bigint").alias("level_tokens"),
            F.lit(None).cast("bigint").alias("leftover_tokens"),
        )
    )
    summary = (
        alloc.select("alloc_tokens")
        .agg(F.sum("alloc_tokens").alias("_alloc"))
        .crossJoin(F.broadcast(level))
        .select(
            F.lit("__summary__").alias("source"),
            F.col("total_tokens").alias("avail_tokens"),
            F.col("_alloc").alias("alloc_tokens"),
            F.lit(None).cast("bigint").alias("saturated"),
            "level_tokens",
            (F.col("budget") - F.col("_alloc")).alias("leftover_tokens"),
        )
    )
    return alloc.unionByName(summary)


ORACLE_MIX_WATERFILL = f"""
WITH avail AS (
  SELECT source, sum(len({_TOKS}))::BIGINT AS avail_tokens
  FROM documents GROUP BY 1
),
ranked AS (
  SELECT source, avail_tokens,
         sum(avail_tokens) OVER w AS prefix,
         row_number() OVER w AS r
  FROM avail
  WINDOW w AS (ORDER BY avail_tokens, source ROWS UNBOUNDED PRECEDING)
),
scal AS (
  SELECT sum(avail_tokens)::BIGINT AS total_tokens, count(*)::BIGINT AS d_count,
         (sum(avail_tokens) // 2)::BIGINT AS budget
  FROM avail
),
rstar AS (
  SELECT coalesce(max(CASE WHEN r < d_count
                           AND avail_tokens <= (budget - prefix) // (d_count - r)
                           THEN r END), 0)::BIGINT AS r_star
  FROM ranked CROSS JOIN scal
),
level AS (
  SELECT r_star, budget, total_tokens,
         ((budget - coalesce(max(CASE WHEN r = r_star THEN prefix END), 0))
          // (d_count - r_star))::BIGINT AS level_tokens
  FROM ranked CROSS JOIN scal CROSS JOIN rstar
  GROUP BY r_star, budget, total_tokens, d_count
),
alloc AS (
  SELECT a.source, a.avail_tokens,
         least(a.avail_tokens, l.level_tokens)::BIGINT AS alloc_tokens,
         (a.avail_tokens <= l.level_tokens)::BIGINT AS saturated,
         NULL::BIGINT AS level_tokens, NULL::BIGINT AS leftover_tokens
  FROM avail a CROSS JOIN level l
)
SELECT * FROM alloc
UNION ALL
SELECT '__summary__', l.total_tokens,
       (SELECT sum(alloc_tokens) FROM alloc)::BIGINT,
       NULL::BIGINT, l.level_tokens,
       (l.budget - (SELECT sum(alloc_tokens) FROM alloc))::BIGINT
FROM level l
"""


def q_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve (tokenizer budgeting): what fraction of
    all token OCCURRENCES is covered by the top-k token TYPES, at
    k = 10 / 100 / 1000 — the statistic that sizes a vocabulary or a
    stopword list (Zipf mass concentration, measured exactly rather than
    fit). When the vocabulary is smaller than k the curve saturates at
    the full vocabulary (eff_rank column records the rank actually read).

    Scale shape: one token hash agg; the rank axis is pre-cut to the
    top-10000 types via TakeOrderedAndProject (bounded regardless of
    corpus size); rank + running mass come from distributed_cumsum
    (range partition + keyed window — no single-partition sort); the
    3-row target table broadcast-joins against the ranked axis."""
    d = _docs_par(spark, sf_dir)
    from ..operators.windows import distributed_cumsum

    tf = (
        d.select(
            F.explode(
                tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    ).cache()
    total = tf.agg(F.sum("tf").alias("total_tf"))
    top = (
        tf.orderBy(F.col("tf").desc(), "token")
        .limit(10000)
        .withColumn("neg_tf", -F.col("tf"))
        .withColumn("one", F.lit(1))
    )
    ranked = distributed_cumsum(
        top,
        order_cols=["neg_tf", "token"],
        value_col=["tf", "one"],
        out_col=["cum_tf", "r"],
    )
    vocab = ranked.agg(F.max("r").alias("vocab"))
    targets = spark.createDataFrame([(10,), (100,), (1000,)], "target_k bigint")
    pick = (
        targets.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(total))
        .select(
            "target_k",
            F.least(F.col("target_k"), F.col("vocab")).alias("eff_rank"),
            "total_tf",
        )
    )
    return (
        ranked.join(F.broadcast(pick), ranked["r"] == pick["eff_rank"])
        .select(
            "target_k",
            "eff_rank",
            "cum_tf",
            "total_tf",
            F.expr("CAST(cum_tf * 1000000 DIV total_tf AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
        .orderBy("target_k")
    )


ORACLE_COVERAGE_CURVE = f"""
WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
tf AS (SELECT token, count(*)::BIGINT AS tf FROM toks GROUP BY 1),
tot AS (SELECT sum(tf)::BIGINT AS total_tf FROM tf),
top AS (SELECT token, tf FROM tf ORDER BY tf DESC, token LIMIT 10000),
ranked AS (
  SELECT token, tf,
         row_number() OVER w AS r,
         sum(tf) OVER w AS cum_tf
  FROM top WINDOW w AS (ORDER BY tf DESC, token ROWS UNBOUNDED PRECEDING)
),
v AS (SELECT max(r)::BIGINT AS vocab FROM ranked)
SELECT t.target_k::BIGINT AS target_k,
       least(t.target_k, v.vocab)::BIGINT AS eff_rank,
       r.cum_tf::BIGINT AS cum_tf, tot.total_tf,
       (r.cum_tf * 1000000 // tot.total_tf)::BIGINT AS coverage_ppm
FROM (VALUES (10), (100), (1000)) t(target_k)
CROSS JOIN v CROSS JOIN tot
JOIN ranked r ON r.r = least(t.target_k, v.vocab)
ORDER BY 1
"""


SPECS += [
    QuerySpec("x_winnowing", q_winnowing, ORACLE_WINNOWING,
              doc="winnowing (MOSS) fingerprint selection per doc: keyed window-min over encoded gram hashes, rightmost-tie rule",
              tags=("llm", "dedup", "fingerprint")),
    QuerySpec("x_source_divergence", q_source_divergence, ORACLE_SOURCE_DIVERGENCE,
              doc="per-source TV + chi2 divergence from the corpus unigram mix on the bounded top-200 (+other) axis",
              tags=("llm", "stats", "mixture")),
    QuerySpec("x_mix_waterfill", q_mix_waterfill, ORACLE_MIX_WATERFILL,
              doc="closed-form token-budget waterfilling across sources: shared cap level from availability order statistics",
              tags=("llm", "mixture", "planning")),
    QuerySpec("x_coverage_curve", q_coverage_curve, ORACLE_COVERAGE_CURVE,
              doc="vocabulary coverage at top-10/100/1000 token types via distributed rank + prefix mass",
              tags=("llm", "tokenizer", "stats")),
]


def q_safety_screen(spark, sf_dir):
    """Blocklist policy screen with per-category hit statistics — the
    moderation pre-filter run before any expensive classifier: a term ->
    category table (here a 3-category list over the fixture vocabulary;
    production swaps in the real lists through the same broadcast path)
    is matched against the tokenized corpus, and each category reports
    how many documents it flags, its flag rate, and total term hits.
    An '__any__' row gives the union (docs a one-pass OR-filter would
    drop). Term matching is exact-token (no regex — regex dialects
    diverge across engines; tokenized exact match is also what a Bloom/
    Aho-Corasick screen implements at scale).

    Scale shape: explode -> broadcast-join the term table -> two bounded
    hash aggs (per doc x category, then per category). The corpus is
    touched once; everything after the first agg is <= |docs| x
    |categories| and collapses immediately."""
    d = _docs_par(spark, sf_dir)
    terms = safety_terms_df(spark)
    toks = d.select(
        "doc_id",
        F.explode(
            tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
        ).alias("term"),
    )
    hits = toks.join(F.broadcast(terms), "term")
    per_doc = hits.groupBy("doc_id", "category").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    ).cache()
    n_docs = d.agg(F.count(F.lit(1)).alias("total_docs"))
    return safety_tail(per_doc, n_docs)


SAFETY_TERMS = [
    ("latency", "slow"), ("latency", "bottleneck"),
    ("mutation", "merge"), ("mutation", "overwrite"), ("mutation", "delete"),
    ("volume", "big"), ("volume", "huge"), ("volume", "stream"),
]


def safety_terms_df(spark):
    return spark.createDataFrame(SAFETY_TERMS, "category string, term string")


def safety_tail(per_doc, n_docs):
    """Category rollup over a (doc_id, category, n_hits) frame — shared by
    the batch screen and the streaming twin (which drains per_doc through
    a complete-mode aggregate first)."""
    per_cat = per_doc.groupBy("category").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_flagged"),
        F.sum("n_hits").cast("bigint").alias("term_hits"),
    )
    any_row = per_doc.select("doc_id").distinct().agg(
        F.lit("__any__").alias("category"),
        F.count(F.lit(1)).cast("bigint").alias("docs_flagged"),
        F.lit(None).cast("bigint").alias("term_hits"),
    )
    return (
        per_cat.unionByName(any_row)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "category",
            "docs_flagged",
            F.expr("CAST(docs_flagged * 1000 DIV total_docs AS BIGINT)").alias(
                "flag_rate_milli"
            ),
            "term_hits",
        )
    )


ORACLE_SAFETY_SCREEN = f"""
WITH terms AS (
  SELECT * FROM (VALUES
    ('latency', 'slow'), ('latency', 'bottleneck'),
    ('mutation', 'merge'), ('mutation', 'overwrite'), ('mutation', 'delete'),
    ('volume', 'big'), ('volume', 'huge'), ('volume', 'stream')
  ) AS t(category, term)
),
toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
hits AS (SELECT h.doc_id, t.category FROM toks h JOIN terms t USING (term)),
per_doc AS (
  SELECT doc_id, category, count(*)::BIGINT AS n_hits FROM hits GROUP BY 1, 2
),
nd AS (SELECT count(*)::BIGINT AS total_docs FROM documents),
per_cat AS (
  SELECT category, count(*)::BIGINT AS docs_flagged,
         sum(n_hits)::BIGINT AS term_hits
  FROM per_doc GROUP BY 1
  UNION ALL
  SELECT '__any__', count(DISTINCT doc_id)::BIGINT, NULL::BIGINT FROM per_doc
)
SELECT category, docs_flagged,
       (docs_flagged * 1000 // total_docs)::BIGINT AS flag_rate_milli,
       term_hits
FROM per_cat CROSS JOIN nd
"""


SPECS += [
    QuerySpec("x_safety_screen", q_safety_screen, ORACLE_SAFETY_SCREEN,
              doc="blocklist policy screen: broadcast term->category table, per-category flag counts/rates + union row",
              tags=("llm", "filter", "safety")),
]


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


def q_entropy_filter(spark, sf_dir):
    """Unigram-entropy repetitiveness filter: per-doc token entropy in
    floored milli-nats — the low end of the distribution is templated /
    looping text (the signal x_repetition_filter reads from max n-gram
    share, here read from the WHOLE distribution at once). Output: the
    20 lowest-entropy docs with token totals and distinct counts.

    Parity note: each token's surprisal ln(n/c) is floored to an integer
    milli-nat from IDENTICAL integer operands — the same portability
    contract as lm_surprisal_score (identical doubles -> identical libm
    ln -> identical floor); the per-doc sum is then an INTEGER sum,
    order-free, and the final normalization one integer DIV.

    Scale shape: one (doc, token) hash agg, one per-doc agg, top-k via
    TakeOrderedAndProject. Map-side combine everywhere; nothing global."""
    d = _docs_par(spark, sf_dir)
    tc = (
        d.select(
            "doc_id",
            F.explode(
                tokenize.whitespace_tokens(dedup.normalize_text(F.col("text")))
            ).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return entropy_tail(tc)


def entropy_tail(tc):
    """Entropy rollup over a (doc_id, token, c) count frame — shared by the
    batch filter and the streaming twin (which drains the counts through
    a complete-mode aggregate first)."""
    from pyspark.sql import Window

    wd = Window.partitionBy("doc_id")
    per = tc.withColumn("n", F.sum("c").over(wd)).select(
        "doc_id",
        "n",
        "c",
        F.floor(F.log(F.col("n").cast("double") / F.col("c")) * 1000)
        .cast("bigint")
        .alias("surpr_milli"),
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.max("n").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_tokens"),
            F.expr("CAST(sum(c * surpr_milli) DIV max(n) AS BIGINT)").alias(
                "entropy_milli"
            ),
        )
        .orderBy("entropy_milli", "doc_id")
        .limit(20)
    )


ORACLE_ENTROPY_FILTER = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
tc AS (SELECT doc_id, token, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
per AS (
  SELECT doc_id, c,
         sum(c) OVER (PARTITION BY doc_id) AS n,
         floor(ln((sum(c) OVER (PARTITION BY doc_id))::DOUBLE / c) * 1000)::BIGINT
           AS surpr_milli
  FROM tc
)
SELECT doc_id, max(n)::BIGINT AS n_tokens, count(*)::BIGINT AS distinct_tokens,
       (sum(c * surpr_milli) // max(n))::BIGINT AS entropy_milli
FROM per GROUP BY 1
ORDER BY entropy_milli, doc_id LIMIT 20
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


SPECS += [
    QuerySpec("x_winnow_pairs", q_winnow_pairs, ORACLE_WINNOW_PAIRS,
              doc="MOSS match stage: fingerprint-bucket self-join with hub cap, shared-fp count + containment overlap",
              tags=("llm", "dedup", "fingerprint")),
    QuerySpec("x_entropy_filter", q_entropy_filter, ORACLE_ENTROPY_FILTER,
              doc="per-doc unigram entropy in floored milli-nats; 20 most repetitive docs",
              tags=("llm", "quality", "filter")),
    QuerySpec("x_prefix_templates", q_prefix_templates, ORACLE_PREFIX_TEMPLATES,
              doc="opening-template detection: first-8-token prefix groups, top-20 + templated share summary",
              tags=("llm", "dedup", "quality")),
]


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


SPECS += [
    QuerySpec("x_dedup_f1", q_dedup_f1, ORACLE_DEDUP_F1,
              doc="LSH candidate precision/recall/F1 vs exact-Jaccard truth, all on the integer 1e-4 grid",
              tags=("llm", "dedup", "eval")),
]


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


SPECS += [
    QuerySpec("x_ngram_novelty", q_ngram_novelty, ORACLE_NGRAM_NOVELTY,
              doc="held-out bigram novelty: incidence + type rates vs the train split via anti-join",
              tags=("llm", "eval", "diversity")),
    QuerySpec("x_dup_inflation", q_dup_inflation, ORACLE_DUP_INFLATION,
              doc="per-source duplicate token-inflation factor vs exact-canonical docs + corpus total",
              tags=("llm", "dedup", "stats")),
]


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


def q_label_balance(spark, sf_dir):
    """Class-balance audit + inverse-frequency resampling weights over the
    embedding labels: weight_milli = total DIV (n_classes * class_count),
    the factor that makes every class contribute equal expected mass
    under weighted sampling (1000 = already balanced). One hash agg +
    two broadcast scalars — trivially map-reduce at any scale."""
    e = _embs_par(spark, sf_dir)
    per = e.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    tot = per.agg(
        F.sum("n_vecs").alias("total_vecs"),
        F.count(F.lit(1)).alias("n_classes"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "label",
            "n_vecs",
            F.expr(
                "CAST(total_vecs * 1000 DIV (n_classes * n_vecs) AS BIGINT)"
            ).alias("weight_milli"),
        )
    )


ORACLE_LABEL_BALANCE = """
WITH per AS (SELECT label, count(*)::BIGINT AS n_vecs FROM embeddings GROUP BY 1),
tot AS (SELECT sum(n_vecs)::BIGINT AS total_vecs, count(*)::BIGINT AS n_classes FROM per)
SELECT label, n_vecs,
       (total_vecs * 1000 // (n_classes * n_vecs))::BIGINT AS weight_milli
FROM per CROSS JOIN tot
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


SPECS += [
    QuerySpec("x_hard_negatives", q_hard_negatives, ORACLE_HARD_NEGATIVES,
              doc="cross-class hard-negative mining: exact-cosine top-5 per probe with the label-exclusion predicate",
              tags=("llm", "similarity", "training")),
    QuerySpec("x_label_balance", q_label_balance, ORACLE_LABEL_BALANCE,
              doc="class-balance audit + inverse-frequency resampling weights on the milli grid",
              tags=("llm", "sampling", "stats")),
    QuerySpec("x_cluster_size_hist", q_cluster_size_hist, ORACLE_CLUSTER_SIZE_HIST,
              doc="near-dup cluster-size spectrum incl. size-1 singletons; reuses the verified component pipeline",
              tags=("llm", "dedup", "stats")),
]


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


SPECS += [
    QuerySpec("x_dedup_threshold_curve", q_dedup_threshold_curve,
              _oracle_dedup_threshold_curve(),
              doc="LSH precision/recall across Jaccard thresholds 0.3/0.5/0.7 from one shared shingle + candidate frame",
              tags=("llm", "dedup", "eval")),
]


# ---------------------------------------------------------------- r7: train/held split leakage
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


# ---------------------------------------------------------------- r7: shard balance audit
def q_shard_balance(spark, sf_dir):
    """Hash-shard balance audit over 64 shards: per-shard document and byte
    counts plus the max/ideal skew ratio — the pre-training sanity number a
    shard manifest (x_shard_manifest) is judged by, since one hot shard
    gates every epoch's data-loader. The portable salted id-hash is the
    same sharding function x_hash_split uses, so the audit measures the
    REAL assignment, not a model of it.

    Scale shape: one 64-key hash aggregate over the corpus scan (map-side
    partials collapse it), then a broadcast of the 64-row frame for the
    skew scalar. Nothing data-proportional crosses the wire twice."""
    d = _docs_par(spark, sf_dir)
    per = (
        d.select(
            F.pmod(
                portable_hash64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
                F.lit(64),
            ).alias("shard"),
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_bytes"),
        )
    )
    tot = per.agg(
        F.sum("n_docs").alias("_t"), F.max("n_docs").alias("_m"),
        F.max("n_bytes").alias("_mb"), F.sum("n_bytes").alias("_tb"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "shard", "n_docs", "n_bytes",
        F.expr("(_m * 64 * 1000) div greatest(_t, 1)").alias("doc_skew_milli"),
        F.expr("(_mb * 64 * 1000) div greatest(_tb, 1)").alias("byte_skew_milli"),
    ).orderBy("shard")


ORACLE_SHARD_BALANCE = f"""
WITH per AS (
  SELECT ({portable_hash64_sql("'shard:' || doc_id::VARCHAR")}) % 64 AS shard,
         count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS n_bytes
  FROM documents GROUP BY 1
),
tot AS (
  SELECT sum(n_docs) AS t, max(n_docs) AS m, max(n_bytes) AS mb, sum(n_bytes) AS tb FROM per
)
SELECT shard, n_docs, n_bytes,
       ((m * 64 * 1000) // greatest(t, 1))::BIGINT AS doc_skew_milli,
       ((mb * 64 * 1000) // greatest(tb, 1))::BIGINT AS byte_skew_milli
FROM per, tot ORDER BY shard
"""


# ---------------------------------------------------------------- r7: Zipf frequency-spectrum fit
def q_zipf_fit(spark, sf_dir):
    """Zipf-law fit of the corpus token-frequency SPECTRUM: tokens are
    binned by ilog2(freq) (the exact bit-length integer — no float log
    anywhere), the spectrum point set (k, ilog2(#tokens at k)) gets an
    integer-OLS slope, and a Zipfian corpus shows slope ≈ −1/s − 1 ≈ −2
    for s ≈ 1. Degenerate vocabularies (template floods, tokenizer bugs)
    bend the spectrum — this is the one-number corpus-health probe for
    that.

    The spectrum formulation (count tokens per log-frequency bin) replaces
    the classic rank-frequency plot exactly so that NO global ranking is
    needed: rank-frequency requires a corpus-wide sort of the vocabulary;
    the spectrum is one hash aggregate. ilog2 via length(bin(x))−1 on
    Spark / length(printf('%b', x))−1 on DuckDB — both exact bit lengths,
    immune to IEEE log2 boundary error at exact powers of two.

    Scale shape: token-count hash agg over the corpus scan → vocab-sized
    frame → 1-key spectrum agg (≤ ~40 rows) → OLS over the tiny point set
    via one more aggregate + broadcast."""
    from ..operators.text import normalize_text, whitespace_tokens

    d = _docs_par(spark, sf_dir)
    tf = (
        d.select(F.explode(whitespace_tokens(normalize_text(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    spec = (
        tf.select((F.length(F.bin(F.col("freq"))) - 1).cast("bigint").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
        .withColumn("y", (F.length(F.bin(F.col("n_tokens"))) - 1).cast("bigint"))
        .cache()
    )
    ols = spec.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("k").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("k") * F.col("y")).alias("sxy"),
        F.sum(F.col("k") * F.col("k")).alias("sxx"),
    ).select(
        F.expr(
            "CASE WHEN np * sxx - sx * sx > 0 THEN "
            "(1000 * (np * sxy - sx * sy)) div (np * sxx - sx * sx) "
            "ELSE NULL END"
        ).alias("slope_milli")
    )
    return spec.crossJoin(F.broadcast(ols)).select(
        "k", "n_tokens", "slope_milli"
    ).orderBy("k")


ORACLE_ZIPF_FIT = f"""
WITH tf AS (
  SELECT tok, count(*)::BIGINT AS freq
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
  GROUP BY tok
),
spec AS (
  SELECT (length(printf('%b', freq)) - 1)::BIGINT AS k,
         count(*)::BIGINT AS n_tokens,
         (length(printf('%b', count(*))) - 1)::BIGINT AS y
  FROM tf GROUP BY (length(printf('%b', freq)) - 1)
),
ols AS (
  SELECT CASE WHEN count(*) * sum(k * k) - sum(k) * sum(k) > 0 THEN
    (1000 * (count(*) * sum(k * y) - sum(k) * sum(y)))
    // (count(*) * sum(k * k) - sum(k) * sum(k))
  ELSE NULL END AS slope_milli
  FROM spec
)
SELECT k, n_tokens, slope_milli FROM spec, ols ORDER BY k
"""


SPECS += [
    QuerySpec("x_split_leakage", q_split_leakage, ORACLE_SPLIT_LEAKAGE,
              doc="near-dup pairs crossing the train/held split + share of contaminated held docs (paraphrase leakage audit)",
              tags=("llm", "dedup", "eval")),
    QuerySpec("x_shard_balance", q_shard_balance, ORACLE_SHARD_BALANCE,
              doc="64-shard doc/byte balance with max/ideal skew ratios over the portable hash sharding",
              tags=("llm", "pipeline")),
    QuerySpec("x_zipf_fit", q_zipf_fit, ORACLE_ZIPF_FIT,
              doc="Zipf spectrum fit: ilog2 frequency bins + integer OLS slope, no global rank sort",
              tags=("llm", "text", "stats")),
]


# ---------------------------------------------------------------- r7: label-retrieval MRR
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


# ---------------------------------------------------------------- r7: dimension-truncation recall
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


# ---------------------------------------------------------------- r7: duplicate-frame detection
def q_frame_dedup(spark, sf_dir):
    """Duplicate-frame detection per source — the multimodal analog of
    exact text dedup: slice every payload into 32-byte frames (the
    x_frame_explode fan-out), group identical frame bytes within each
    source, and report the per-source duplication rate. In a real video
    corpus this is the static-scene / slate / test-pattern detector that
    decides frame-sampling rates before feature extraction.

    Parity: frames compare as UPPERCASE HEX strings (Spark hex(binary) ==
    DuckDB substring(to_hex(blob)) — byte-identical, verified), because
    DuckDB cannot slice BLOBs; the hex detour costs 2× string width on
    the oracle side only (Spark slices binary natively then hexes).

    Scale shape: JVM-side fan-out (sequence → explode → substring, no
    Python, no shuffle), ONE (source, frame) hash aggregate — the
    map-side-combinable exact-dedup shape — then a source-keyed rollup."""
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media_table(d)
    frames = multimodal.explode_frames(media, frame_bytes=32)
    fr = frames.join(d.select("doc_id", "source"), "doc_id").select(
        "source", F.hex(F.col("frame")).alias("fhex")
    )
    g = fr.groupBy("source", "fhex").agg(F.count(F.lit(1)).alias("ct"))
    return g.groupBy("source").agg(
        F.sum("ct").cast("bigint").alias("n_frames"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_frames"),
    ).select(
        "source", "n_frames", "n_distinct_frames",
        (F.expr("((n_frames - n_distinct_frames) * 10000) div greatest(n_frames, 1)")
         / F.lit(10000.0)).alias("dup_rate"),
    ).orderBy("source")


ORACLE_FRAME_DEDUP = """
WITH m AS (
  SELECT doc_id, source, to_hex(encode(text)) AS hexpay,
         octet_length(encode(text)) AS n_bytes
  FROM documents
),
f AS (
  SELECT source,
         substring(hexpay, (frame_idx * 64 + 1)::BIGINT, 64) AS fhex
  FROM (
    SELECT source, hexpay, unnest(range(0, ((n_bytes + 31) // 32))) AS frame_idx
    FROM m WHERE n_bytes > 0
  )
),
g AS (SELECT source, fhex, count(*) AS ct FROM f GROUP BY 1, 2)
SELECT source, sum(ct)::BIGINT AS n_frames, count(*)::BIGINT AS n_distinct_frames,
       (((sum(ct) - count(*)) * 10000) // greatest(sum(ct), 1)) / 10000.0 AS dup_rate
FROM g GROUP BY source ORDER BY source
"""


SPECS += [
    QuerySpec("x_mrr_labels", q_mrr_labels, ORACLE_MRR_LABELS,
              doc="embedding retrieval MRR + precision@10 against class labels as relevance judgments",
              tags=("llm", "similarity", "eval")),
    QuerySpec("x_dim_trunc_recall", q_dim_trunc_recall, ORACLE_DIM_TRUNC_RECALL,
              doc="recall@10 of half-dimension (matryoshka-truncated) cosine vs full-dim truth",
              tags=("llm", "similarity", "eval")),
    QuerySpec("x_frame_dedup", q_frame_dedup, ORACLE_FRAME_DEDUP,
              doc="per-source duplicate-frame rate over 32-byte payload frames (multimodal exact dedup)",
              tags=("llm", "multimodal")),
]


# ---------------------------------------------------------------- r7: bounded k-core peel
def q_kcore_peel(spark, sf_dir):
    """2-core decomposition of the near-duplicate graph by SYNCHRONIZED
    peel rounds: repeatedly drop degree-<2 nodes (and their edges) for a
    FIXED 4 rounds, reporting (round, n_nodes, n_edges) per round — the
    convergence spectrum. The 2-core separates tight duplicate communities
    (template families, mirror clusters — every member has ≥2 near-dup
    partners) from incidental pairwise matches that keep-one dedup already
    handles; the per-round counts show how fast the periphery burns off.

    Bounded-round semantics are part of the operator contract (like
    x_pagerank's fixed iterations): both engines run EXACTLY 4 peels, so
    parity is exact regardless of whether the fixture converges — on this
    fixture round 4 equals round 3 (converged), asserted by the oracle
    row equality, while production raises the bound like any iterative
    operator.

    Scale shape: per round, one degree hash-agg (union of endpoints) and
    two semi-joins — 3 keyed shuffles, the star-contraction cost model;
    each round's edge frame is lazily localCheckpoint'd so the plan stays
    O(1) deep (the connected_components convention) and everything
    materializes on the single output action. Edges come from the banded
    LSH chain at Jaccard ≥ 0.3 (the looser threshold keeps enough graph
    to have a non-trivial core)."""
    d = _docs_par(spark, sf_dir)
    # EAGER checkpoint of the input edge set (the connected_components
    # convention): the LSH chain upstream is the expensive lineage, and
    # without truncating it HERE the 5-round stats union re-embeds the
    # corpus scan once per reference in one plan; after this leaf the
    # whole output plan contains no parquet scan at all, and the
    # per-round lazy checkpoints keep depth O(1).
    e = (
        dedup.near_dup_chain(dedup.shingles(d), threshold=0.3)
        .near.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .localCheckpoint()
    )

    def stats(edges, rnd):
        nodes = edges.select(F.col("a").alias("n")).unionByName(
            edges.select(F.col("b").alias("n"))
        )
        return (
            nodes.agg(F.count_distinct(F.col("n")).cast("bigint").alias("n_nodes"))
            .crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))))
            .select(F.lit(rnd).cast("bigint").alias("round"), "n_nodes", "n_edges")
        )

    out = stats(e, 0)
    for rnd in range(1, 5):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionByName(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("ct"))
        )
        keep = deg.filter(F.col("ct") >= 2).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(stats(e, rnd))
    return out.orderBy("round")


def _oracle_kcore_peel(rounds: int = 4) -> str:
    steps = []
    stats = [
        """
SELECT 0::BIGINT AS round,
       (SELECT count(*) FROM (SELECT a AS n FROM e0 UNION SELECT b FROM e0))::BIGINT AS n_nodes,
       (SELECT count(*) FROM e0)::BIGINT AS n_edges"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        steps.append(f"""
d{r} AS MATERIALIZED (
  SELECT n, count(*) AS ct
  FROM (SELECT a AS n FROM e{p} UNION ALL SELECT b FROM e{p}) GROUP BY n
),
k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE ct >= 2),
e{r} AS MATERIALIZED (
  SELECT a, b FROM e{p}
  WHERE a IN (SELECT n FROM k{r}) AND b IN (SELECT n FROM k{r})
)""")
        stats.append(f"""
SELECT {r}::BIGINT AS round,
       (SELECT count(*) FROM (SELECT a AS n FROM e{r} UNION SELECT b FROM e{r}))::BIGINT AS n_nodes,
       (SELECT count(*) FROM e{r})::BIGINT AS n_edges""")
    return f"""
WITH {_SHINGLES_CTE},
{_minhash_lsh_ctes()},
e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM verified WHERE jaccard >= 0.3),
{','.join(steps)}
{' UNION ALL '.join(stats)}
ORDER BY round
"""


SPECS += [
    QuerySpec("x_kcore_peel", q_kcore_peel, _oracle_kcore_peel(),
              doc="2-core peel of the near-dup graph, 4 synchronized rounds, (round, nodes, edges) convergence spectrum",
              tags=("llm", "graph", "dedup")),
]


# ---------------------------------------------------------------- r7: cross-source mirror detection
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


# ---------------------------------------------------------------- r7: code-vs-prose detection
def q_code_detect(spark, sf_dir):
    """Code-vs-prose screen: per-document symbol density (braces, brackets,
    semicolons, operators) and digit density on exact integer milli grids,
    with the standard threshold rule (symbols ≥ 5% of chars ⇒ code-like) —
    the cheap pre-filter that routes documents to a code pipeline before
    any expensive classifier runs. Both densities are LENGTH DIFFERENCES
    after character-class deletion — pure JVM regex, one projection, zero
    shuffles; the oracle uses the same classes with DuckDB's 'g' flag."""
    d = _docs_par(spark, sf_dir)
    n_chars = F.length(F.col("text"))
    n_sym = n_chars - F.length(F.regexp_replace(F.col("text"), r"[;{}()\[\]=<>]", ""))
    n_dig = n_chars - F.length(F.regexp_replace(F.col("text"), r"[0-9]", ""))
    return d.select(
        "doc_id",
        "source",
        (F.expr("1000") * n_sym).cast("bigint").alias("_s"),
        (F.expr("1000") * n_dig).cast("bigint").alias("_d"),
        n_chars.cast("bigint").alias("n_chars_txt"),
    ).select(
        "doc_id", "source", "n_chars_txt",
        F.expr("_s div greatest(n_chars_txt, 1)").alias("sym_milli"),
        F.expr("_d div greatest(n_chars_txt, 1)").alias("digit_milli"),
        (F.expr("_s div greatest(n_chars_txt, 1)") >= 50).cast("int").alias("is_code"),
    )


ORACLE_CODE_DETECT = r"""
SELECT doc_id, source,
       length(text)::BIGINT AS n_chars_txt,
       ((1000 * (length(text) - length(regexp_replace(text, '[;{}()\[\]=<>]', '', 'g'))))
         // greatest(length(text), 1))::BIGINT AS sym_milli,
       ((1000 * (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))))
         // greatest(length(text), 1))::BIGINT AS digit_milli,
       CASE WHEN ((1000 * (length(text) - length(regexp_replace(text, '[;{}()\[\]=<>]', '', 'g'))))
         // greatest(length(text), 1)) >= 50 THEN 1 ELSE 0 END::INT AS is_code
FROM documents
"""


# ---------------------------------------------------------------- r7: filtered (pre-filter) ANN
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


# ---------------------------------------------------------------- r7: detector agreement
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


SPECS += [
    QuerySpec("x_source_mirror", q_source_mirror, ORACLE_SOURCE_MIRROR,
              doc="near-dup pair rollup to source pairs: boilerplate diagonal vs mirror off-diagonal",
              tags=("llm", "dedup")),
    QuerySpec("x_code_detect", q_code_detect, ORACLE_CODE_DETECT,
              doc="code-vs-prose screen via exact symbol/digit density milli grids (regex length diffs, zero shuffles)",
              tags=("llm", "text")),
    QuerySpec("x_ann_prefilter", q_ann_prefilter, ORACLE_ANN_PREFILTER,
              doc="filtered vector search: pre-filter top-10 vs post-filter-from-top-50 coverage per query",
              tags=("llm", "similarity")),
    QuerySpec("x_detector_agreement", q_detector_agreement, ORACLE_DETECTOR_AGREEMENT,
              doc="MinHash/LSH vs SimHash pair-set agreement: intersection, set-Jaccard, containments",
              tags=("llm", "dedup", "eval")),
]


# ---------------------------------------------------------------- r7: hybrid rank fusion (RRF)
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


SPECS += [
    QuerySpec("x_rrf_fusion", q_rrf_fusion, ORACLE_RRF_FUSION,
              doc="hybrid retrieval: RRF fusion of exact-tf lexical and decimilli-cosine semantic top-100 lists",
              tags=("llm", "similarity", "retrieval")),
]


# ---------------------------------------------------------------- r7: LSH quality by length stratum
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


SPECS += [
    QuerySpec("x_length_strata_lsh", q_length_strata_lsh, ORACLE_LENGTH_STRATA_LSH,
              doc="LSH recall/precision stratified by document length (+ cross-stratum bucket) from one shared shingle frame",
              tags=("llm", "dedup", "eval")),
]


# ---------------------------------------------------------------- r7: source vocabulary overlap
def q_vocab_overlap_sources(spark, sf_dir):
    """Pairwise VOCABULARY overlap between sources: Jaccard and each-way
    containment of the distinct-token sets, per ordered source pair — the
    set-overlap complement of x_source_divergence's distribution distance
    (two sources can share 95% of their vocabulary yet weight it
    completely differently, and vice versa; mixture planning wants both).

    Scale shape: one (source, token) distinct (hash agg, map-side
    combinable), per-source sizes from its rollup, then the intersection
    via a token-keyed self-join — per-token fan-out is (sources carrying
    the token)², bounded by |sources|², never corpus-shaped — and one
    |sources|²-row aggregate."""
    d = _docs_par(spark, sf_dir)
    st = (
        d.select(
            "source",
            F.explode(F.expr(
                "filter(split(lower(trim(text)), '\\\\s+'), t -> t != '')"
            )).alias("tok"),
        )
        .distinct()
        .cache()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_vocab"))
    inter = (
        st.alias("a")
        .join(st.alias("b"), (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("source", "source_a").withColumnRenamed("n_vocab", "va"), "source_a")
        .join(sizes.withColumnRenamed("source", "source_b").withColumnRenamed("n_vocab", "vb"), "source_b")
        .select(
            "source_a", "source_b", "n_inter", "va", "vb",
            (F.expr("(n_inter * 10000) div greatest(va + vb - n_inter, 1)") / F.lit(10000.0)).alias("vocab_jaccard"),
            (F.expr("(n_inter * 10000) div greatest(least(va, vb), 1)") / F.lit(10000.0)).alias("containment_smaller"),
        )
        .orderBy("source_a", "source_b")
    )


ORACLE_VOCAB_OVERLAP_SOURCES = f"""
WITH st AS (SELECT DISTINCT source, unnest({_TOKS}) AS tok FROM documents),
sizes AS (SELECT source, count(*)::BIGINT AS n_vocab FROM st GROUP BY 1),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*)::BIGINT AS n_inter
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_inter,
       sa.n_vocab AS va, sb.n_vocab AS vb,
       ((i.n_inter * 10000) // greatest(sa.n_vocab + sb.n_vocab - i.n_inter, 1)) / 10000.0 AS vocab_jaccard,
       ((i.n_inter * 10000) // greatest(least(sa.n_vocab, sb.n_vocab), 1)) / 10000.0 AS containment_smaller
FROM inter i
JOIN sizes sa ON i.source_a = sa.source
JOIN sizes sb ON i.source_b = sb.source
ORDER BY i.source_a, i.source_b
"""


SPECS += [
    QuerySpec("x_vocab_overlap_sources", q_vocab_overlap_sources, ORACLE_VOCAB_OVERLAP_SOURCES,
              doc="pairwise source vocabulary Jaccard + smaller-side containment (set-overlap complement of x_source_divergence)",
              tags=("llm", "text", "eval")),
]

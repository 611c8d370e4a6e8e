"""Round-8 extension queries: near-dup-graph structure probes (BFS
reachability layers, local-bridge edges), LSH index health (per-band
bucket stats), continuation-pair detection (shard-split crawl docs),
cross-shard duplicate leakage, IVF list balance, readability scoring,
temporal-split contamination, and burst detection.

Each query follows the repo contract: a Spark plan built from the shared
operator library plus an inline DuckDB oracle computing the identical
result on the identical integer/floor grids. Scale notes are on each
query; the shared design rules (bounded iteration with cached edge
frames, banded candidate generation, broadcast scalars, keyed — never
global — windows) are the same ones the operator docstrings document.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ..operators import dedup, similarity
from . import QuerySpec
from .llm import _docs_par, _embs_par, _minhash_lsh_ctes, _shingles_cte

SPECS: list[QuerySpec] = []


_PAIRS_CTES = f"""{_shingles_cte()},
{_minhash_lsh_ctes()},
pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5)"""


# ------------------------------------------------------------- BFS layers
def q_bfs_layers(spark, sf_dir):
    """Multi-source BFS reachability layers over the near-dup graph: how
    many nodes sit at hop distance 0..4 from the seed set (the 10 lowest
    pair-graph node ids — deterministic, non-empty whenever the graph is,
    and oracle-expressible) — the blast-radius probe a curation team
    runs before acting on a flagged-document list ("if we drop these, how
    much of the dup neighborhood goes with them?").

    Scale shape (MIN-DEPTH formulation over lazy RDD leaves): instead
    of a frontier/visited/anti-join loop, each round
    is simply h_r = distinct(neighbors(h_{r-1})): the set of nodes
    reachable in EXACTLY r steps (revisits allowed). A node first
    reachable at depth d appears in h_d, so min over the unioned
    (h_r × depth r) frames IS the BFS depth — exactly the oracle's
    recursive-walk min(depth) semantics, with no visited set and no
    anti-join. Lineage: the verified-pair frame and every h_r are
    truncated with graph.lazy_checkpoint (AQE-off compile — a plain lazy
    localCheckpoint under AQE runs all its stages at CONSTRUCTION time,
    charged as plan_actions_s; and a cache()-only variant re-pays
    seconds of Catalyst analysis of
    the exponentially nested logical plan on EVERY action). Result:
    construction runs zero jobs, the first action materializes each
    leaf exactly once, and repeat actions read O(1) RDD leaves. Every
    join is hash-partitioned on node id against the pair leaf; depth
    counts come from ONE union → min-depth agg → groupBy(depth). Rounds
    are a FIXED constant, so plan depth is bounded."""
    from ..operators.graph import lazy_checkpoint

    near = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir))).near
    pairs = lazy_checkpoint(near.select("doc_a", "doc_b"))
    und = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    seeds = lazy_checkpoint(
        und.select(F.col("doc_a").alias("node")).distinct().orderBy("node").limit(10)
    )
    h = seeds
    layers = seeds.withColumn("depth", F.lit(0).cast("int"))
    for r in range(1, 5):
        h = lazy_checkpoint(
            und.join(h, und["doc_a"] == h["node"])
            .select(F.col("doc_b").alias("node"))
            .distinct()
        )
        layers = layers.unionByName(h.withColumn("depth", F.lit(r).cast("int")))
    return (
        layers.groupBy("node")
        .agg(F.min("depth").alias("depth"))
        .groupBy("depth")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )


ORACLE_BFS_LAYERS = f"""
WITH RECURSIVE {_PAIRS_CTES},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
seeds AS (SELECT DISTINCT s AS node FROM edges ORDER BY node LIMIT 10),
walk(node, depth) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.d, w.depth + 1 FROM walk w JOIN edges e ON w.node = e.s
  WHERE w.depth < 4
)
SELECT depth::INT AS depth, count(*)::BIGINT AS n_nodes
FROM (SELECT node, min(depth) AS depth FROM walk GROUP BY node)
GROUP BY 1
"""


# ------------------------------------------------------------- local bridges
def q_bridge_edges(spark, sf_dir):
    """Local-bridge edges of the near-dup graph: verified pairs whose
    endpoints share NO common neighbor (the edge is in no triangle) — the
    classic weak-tie detector. In dedup forensics these are the suspicious
    links: triangle-supported pairs are dense boilerplate families, while
    a bridge is a lone connection (often a threshold-skimming false
    positive) whose removal splits a cluster — the first edges to audit
    before trusting transitive (CC) dedup.

    Scale shape: pair frame cached (three consumers), common-neighbor
    evidence by joining the undirected adjacency on both endpoints
    (wedge join — the x_triangle_count shape, bounded by Σ deg², never
    corpus²), then one left-anti against the supported-edge set."""
    near = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir))).near
    pairs = near.select("doc_a", "doc_b").cache()
    und = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    adj_x = und.select(F.col("doc_a").alias("xa"), F.col("doc_b").alias("w"))
    adj_y = und.select(F.col("doc_a").alias("ya"), F.col("doc_b").alias("yw"))
    supported = (
        pairs.join(adj_x, pairs["doc_a"] == adj_x["xa"])
        .join(
            adj_y,
            (F.col("doc_b") == F.col("ya")) & (F.col("w") == F.col("yw")),
            "left_semi",
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return pairs.join(supported, ["doc_a", "doc_b"], "left_anti").orderBy(
        "doc_a", "doc_b"
    )


ORACLE_BRIDGE_EDGES = f"""
WITH {_PAIRS_CTES},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
)
SELECT p.doc_a, p.doc_b
FROM pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM edges x JOIN edges y ON x.d = y.d
  WHERE x.s = p.doc_a AND y.s = p.doc_b
)
ORDER BY doc_a, doc_b
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


_TOKS_NORM = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')"

ORACLE_SUFFIX_DUP = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN len({_TOKS_NORM}) >= 3
              THEN array_to_string({_TOKS_NORM}[1:3], ' ') END AS head3,
         CASE WHEN len({_TOKS_NORM}) >= 3
              THEN array_to_string({_TOKS_NORM}[-3:], ' ') END AS tail3
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
    from ..functions.hashing import portable_hash64

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


SPECS += [
    QuerySpec("x_bfs_layers", q_bfs_layers, ORACLE_BFS_LAYERS,
              doc="multi-source BFS reachability layers (hops 0-4) over the near-dup graph",
              tags=("llm", "graph", "scale")),
    QuerySpec("x_bridge_edges", q_bridge_edges, ORACLE_BRIDGE_EDGES,
              doc="local-bridge near-dup edges (no common neighbor) — weak-tie / false-positive audit",
              tags=("llm", "graph", "dedup")),
    QuerySpec("x_lsh_band_health", q_lsh_band_health, ORACLE_LSH_BAND_HEALTH,
              doc="per-band LSH bucket stats: colliding buckets, implied candidate pairs, max bucket",
              tags=("llm", "dedup", "stats")),
    QuerySpec("x_suffix_dup", q_suffix_dup, ORACLE_SUFFIX_DUP,
              doc="continuation pairs: tail-3-gram of A == head-3-gram of B (split-document detector)",
              tags=("llm", "dedup")),
    QuerySpec("x_cross_shard_dup", q_cross_shard_dup, ORACLE_CROSS_SHARD_DUP,
              doc="near-dup pairs crossing hash-shard boundaries — shard-local dedup residue",
              tags=("llm", "dedup", "eval")),
    QuerySpec("x_ivf_balance", q_ivf_balance, ORACLE_IVF_BALANCE,
              doc="IVF inverted-list size balance — ANN partition-skew gauge",
              tags=("llm", "similarity", "stats")),
]


# ------------------------------------------------------------- readability
def q_readability(spark, sf_dir):
    """Readability banding (Flesch-style, integer-milli grid): per doc,
    words = normalized whitespace tokens, sentences = terminal-punct count
    (min 1), syllables ≈ maximal vowel groups (min 1 — the standard cheap
    proxy); score_milli = 206835 − 1015·words div sentences − 84600·syll
    div words, then docs bucketed into the five classic bands. A quality
    gate uses this exactly like x_quality_score — a pure narrow map over
    the corpus (regex counts, no explode), one ≤5-row aggregate — and on
    100 TB the per-doc pass is embarrassingly parallel with zero shuffle
    before the tiny band rollup. Truncating integer division in BOTH
    engines (all operands non-negative), so scores are bit-identical."""
    d = _docs_par(spark, sf_dir)
    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    per = d.select(
        F.greatest(F.size(toks).cast("bigint"), F.lit(1)).alias("n_words"),
        F.greatest(
            F.length(F.regexp_replace(F.col("text"), r"[^.!?]", "")).cast("bigint"),
            F.lit(1),
        ).alias("n_sent"),
        F.greatest(
            F.expr("size(regexp_extract_all(lower(text), '[aeiou]+', 0))").cast("bigint"),
            F.lit(1),
        ).alias("n_syll"),
    ).select(
        (
            F.lit(206835)
            - F.expr("1015 * n_words div n_sent")
            - F.expr("84600 * n_syll div n_words")
        ).alias("score_milli")
    )
    band = (
        F.when(F.col("score_milli") >= 90000, F.lit("very_easy"))
        .when(F.col("score_milli") >= 70000, F.lit("easy"))
        .when(F.col("score_milli") >= 50000, F.lit("medium"))
        .when(F.col("score_milli") >= 30000, F.lit("hard"))
        .otherwise(F.lit("very_hard"))
    )
    return (
        per.groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("score_milli").cast("bigint").alias("min_score_milli"),
            F.max("score_milli").cast("bigint").alias("max_score_milli"),
        )
        .orderBy("band")
    )


ORACLE_READABILITY = f"""
WITH per AS (
  SELECT 206835
         - (1015 * greatest(len({_TOKS_NORM}), 1))
           // greatest(length(regexp_replace(text, '[^.!?]', '', 'g')), 1)
         - (84600 * greatest(len(regexp_extract_all(lower(text), '[aeiou]+')), 1))
           // greatest(len({_TOKS_NORM}), 1) AS score_milli
  FROM documents
),
banded AS (
  SELECT score_milli,
         CASE WHEN score_milli >= 90000 THEN 'very_easy'
              WHEN score_milli >= 70000 THEN 'easy'
              WHEN score_milli >= 50000 THEN 'medium'
              WHEN score_milli >= 30000 THEN 'hard'
              ELSE 'very_hard' END AS band
  FROM per
)
SELECT band, count(*)::BIGINT AS n_docs,
       min(score_milli)::BIGINT AS min_score_milli,
       max(score_milli)::BIGINT AS max_score_milli
FROM banded GROUP BY band ORDER BY band
"""


# ------------------------------------------------------------- BPE compression
def q_bpe_compression(spark, sf_dir):
    """Tokenizer compression per source: raw symbols vs BPE-encoded
    symbols aggregated over each source's token stream — the
    tokens-per-byte dashboard that decides whether a tokenizer retrain is
    warranted for a new source mix (code-heavy or non-Latin sources
    compress visibly worse under a text-trained vocab). Rides
    _bpe_trained's cached vocab and the per-doc encoded counts; one broadcast-sized vocab join, two hash aggregates."""
    from ..operators import text as _text
    from .llm import _bpe_trained

    _, vocab = _bpe_trained(spark, sf_dir, n_merges=3)
    per_doc = _text.bpe_encoded_length_with_vocab(_docs_par(spark, sf_dir), vocab)
    d = _docs_par(spark, sf_dir).select("doc_id", "source")
    return (
        per_doc.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_sym_raw").cast("bigint").alias("n_sym_raw"),
            F.sum("n_sym_enc").cast("bigint").alias("n_sym_enc"),
            F.expr("sum(n_sym_enc) * 1000 div sum(n_sym_raw)")
            .cast("bigint")
            .alias("compression_milli"),
        )
        .orderBy("source")
    )


def _bpe_compression_oracle() -> str:
    from .llm import ORACLE_BPE_APPLY

    return f"""
WITH perdoc AS ({ORACLE_BPE_APPLY})
SELECT d.source, count(*)::BIGINT AS n_docs,
       sum(p.n_tokens)::BIGINT AS n_tokens,
       sum(p.n_sym_raw)::BIGINT AS n_sym_raw,
       sum(p.n_sym_enc)::BIGINT AS n_sym_enc,
       (sum(p.n_sym_enc) * 1000 // sum(p.n_sym_raw))::BIGINT AS compression_milli
FROM perdoc p JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
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


# ------------------------------------------------------------- burst hours
def q_burst_hours(spark, sf_dir):
    """Rate-anomaly listing: the hours where an event type ran at ≥ 2.5×
    its own average hourly rate — the load-spike shortlist an on-call
    pulls before correlating incidents. The comparison is exact integer
    cross-multiplication (cnt · n_hours · 10 ≥ 25 · total), no float
    rate anywhere; n_hours counts the type's ACTIVE hours, so quiet
    types aren't flattered by empty buckets. Two hash aggregates plus a
    broadcast of the ≤|types| per-type totals."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    totals = hourly.groupBy("event_type").agg(
        F.sum("cnt").alias("_tot"), F.count(F.lit(1)).alias("_nh")
    )
    return (
        hourly.join(F.broadcast(totals), "event_type")
        .filter(F.expr("cnt * _nh * 10 >= 25 * _tot"))
        .select(
            "event_type",
            F.col("hr").cast("bigint").alias("hr"),
            F.col("cnt").cast("bigint").alias("cnt"),
        )
        .orderBy("event_type", "hr")
    )


ORACLE_BURST_HOURS = """
WITH hourly AS (
  SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hr, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
totals AS (
  SELECT event_type, sum(cnt) AS tot, count(*) AS nh FROM hourly GROUP BY 1
)
SELECT h.event_type, h.hr, h.cnt::BIGINT AS cnt
FROM hourly h JOIN totals t USING (event_type)
WHERE h.cnt * t.nh * 10 >= 25 * t.tot
ORDER BY event_type, hr
"""


# ------------------------------------------------------------- scene cuts
def q_scene_cuts(spark, sf_dir):
    """Scene-cut segmentation over the frame fan-out — the multimodal
    sampling pass that picks per-scene keyframes instead of uniform
    sampling: per doc (video stand-in), frames in order, a cut wherever
    the frame feature jumps by > 500 milli-units from its predecessor.
    The feature is the portable hash of the frame bytes mod 1000 — a
    STAND-IN for a real per-frame embedding/histogram (decode libs absent
    here; the fan-out, keyed-window ordering, and rollup are the real
    plumbing, cf. operators/multimodal.py). Keyed window (doc_id, ordered
    by frame_idx — never global), one per-doc aggregate, one per-source
    rollup."""
    from pyspark.sql import Window

    from ..functions.hashing import portable_hash64
    from ..operators import multimodal

    d = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media_table(d)
    frames = multimodal.explode_frames(media, frame_bytes=32)
    feat = frames.select(
        "doc_id",
        "frame_idx",
        F.pmod(portable_hash64(F.hex(F.col("frame"))), F.lit(1000)).alias("feat"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    cuts = feat.select(
        "doc_id",
        (
            F.abs(F.col("feat") - F.lag("feat").over(w)) > 500
        ).cast("int").alias("is_cut"),
    )
    per_doc = cuts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.coalesce(F.sum("is_cut"), F.lit(0)).alias("n_cuts"),
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_frames").cast("bigint").alias("n_frames"),
            F.sum("n_cuts").cast("bigint").alias("n_cuts"),
            F.expr("sum(n_cuts) * 1000 div sum(n_frames)")
            .cast("bigint")
            .alias("cuts_per_frame_milli"),
        )
        .orderBy("source")
    )


ORACLE_SCENE_CUTS = """
WITH m AS (
  SELECT doc_id, source, to_hex(encode(text)) AS hexpay,
         octet_length(encode(text)) AS n_bytes
  FROM documents
),
f AS (
  SELECT doc_id, source, frame_idx,
         ('0x' || substr(md5(upper(substring(hexpay, (frame_idx * 64 + 1)::BIGINT, 64))), 1, 15))::BIGINT % 1000 AS feat
  FROM (
    SELECT doc_id, source, hexpay, unnest(range(0, ((n_bytes + 31) // 32))) AS frame_idx
    FROM m WHERE n_bytes > 0
  )
),
cuts AS (
  SELECT doc_id, source,
         (abs(feat - lag(feat) OVER (PARTITION BY doc_id ORDER BY frame_idx)) > 500)::INT AS is_cut
  FROM f
),
per_doc AS (
  SELECT doc_id, source, count(*) AS n_frames, coalesce(sum(is_cut), 0) AS n_cuts
  FROM cuts GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_frames)::BIGINT AS n_frames,
       sum(n_cuts)::BIGINT AS n_cuts,
       (sum(n_cuts) * 1000 // sum(n_frames))::BIGINT AS cuts_per_frame_milli
FROM per_doc GROUP BY source ORDER BY source
"""


SPECS += [
    QuerySpec("x_readability", q_readability, ORACLE_READABILITY,
              doc="Flesch-style readability banding on the integer-milli grid (5-band histogram)",
              tags=("llm", "text", "quality")),
    QuerySpec("x_bpe_compression", q_bpe_compression, _bpe_compression_oracle(),
              doc="per-source BPE compression ratio — tokenizer-fit dashboard (rides the trained vocab)",
              tags=("llm", "text", "tokenizer")),
    QuerySpec("x_temporal_split", q_temporal_split, ORACLE_TEMPORAL_SPLIT,
              doc="temporal train/eval split contamination: users active on both sides of the midpoint cut",
              tags=("llm", "eval")),
    QuerySpec("e_burst_hours", q_burst_hours, ORACLE_BURST_HOURS,
              doc="hours where an event type ran >= 2.5x its average hourly rate (integer cross-multiply)",
              tags=("ext", "stats")),
    QuerySpec("x_scene_cuts", q_scene_cuts, ORACLE_SCENE_CUTS,
              doc="scene-cut segmentation over the frame fan-out (keyed lag window, per-source rollup)",
              tags=("llm", "multimodal")),
]


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


SPECS += [
    QuerySpec("x_weighted_jaccard", q_weighted_jaccard, ORACLE_WEIGHTED_JACCARD,
              doc="IDF-weighted Jaccard re-score of LSH candidates next to the plain score",
              tags=("llm", "dedup")),
    QuerySpec("x_simhash_radius2", q_simhash_radius2, ORACLE_SIMHASH_RADIUS2,
              doc="SimHash hamming<=2 pairs via pigeonhole 3-block candidate joins (recall-exact)",
              tags=("llm", "dedup", "scale")),
    QuerySpec("x_sq8_error", q_sq8_error, ORACLE_SQ8_ERROR,
              doc="int8 scalar-quantization reconstruction error per embedding dimension",
              tags=("llm", "similarity", "eval")),
]


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


_GRAM13 = " || ' ' || ".join(f"toks[i+{j}]" for j in range(13))

ORACLE_CONTAM_13GRAM = f"""
WITH t AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
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


# ------------------------------------------------------------- type-token ratio
def q_ttr_sources(spark, sf_dir):
    """Lexical diversity per source: type-token ratio (distinct normalized
    tokens / token occurrences, milli grid) — the cheap vocabulary-richness
    signal that separates template/boilerplate feeds (TTR collapses) from
    organic text, read next to x_vocab_overlap_sources when deciding mix
    weights. Two hash aggregates ((source, tok) then source), both
    map-side combinable."""
    d = _docs_par(spark, sf_dir)
    toks = d.select(
        "source",
        F.explode(dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))).alias("tok"),
    )
    per = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("ct"))
    return (
        per.groupBy("source")
        .agg(
            F.sum("ct").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.expr("count(1) * 1000 div sum(ct)").cast("bigint").alias("ttr_milli"),
        )
        .orderBy("source")
    )


ORACLE_TTR_SOURCES = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS_NORM}) AS tok FROM documents
),
per AS (SELECT source, tok, count(*) AS ct FROM toks GROUP BY 1, 2)
SELECT source, sum(ct)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
       (count(*) * 1000 // sum(ct))::BIGINT AS ttr_milli
FROM per GROUP BY source ORDER BY source
"""


# ------------------------------------------------------------- dedup savings
def q_dedup_savings(spark, sf_dir):
    """The curation deliverable behind every dedup run: per source, docs
    and token mass BEFORE vs AFTER component-exact keep-one dedup, with
    integer milli retention — the table a data lead reads to see which
    feeds are mostly duplicates. Survivors join the _dup_members
    cluster map exactly like x_dedup_corpus_cc; token counts are one narrow map
    over the corpus."""
    from .llm import _dup_members

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
    from .llm import ORACLE_DEDUP_CORPUS_CC

    return f"""
WITH surv AS ({ORACLE_DEDUP_CORPUS_CC}),
base AS (
  SELECT doc_id, source, len({_TOKS_NORM})::BIGINT AS n_toks FROM documents
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


SPECS += [
    QuerySpec("x_contam_13gram", q_contam_13gram, ORACLE_CONTAM_13GRAM,
              doc="canonical 13-token-gram eval decontamination probe (GPT-3 recipe)",
              tags=("llm", "eval", "dedup")),
    QuerySpec("x_ttr_sources", q_ttr_sources, ORACLE_TTR_SOURCES,
              doc="type-token ratio per source — lexical-diversity / boilerplate signal",
              tags=("llm", "text", "stats")),
    QuerySpec("x_dedup_savings", q_dedup_savings, _dedup_savings_oracle(),
              doc="per-source docs/token mass before vs after CC keep-one dedup (rides the cluster map)",
              tags=("llm", "dedup", "eval")),
    QuerySpec("x_jaccard_hist", q_jaccard_hist, ORACLE_JACCARD_HIST,
              doc="verified near-dup pair counts per Jaccard decile — threshold-sensitivity gauge",
              tags=("llm", "dedup", "stats")),
]


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


SPECS += [
    QuerySpec("x_stop_shingles", q_stop_shingles, ORACLE_STOP_SHINGLES,
              doc="top-20 hub shingles: doc frequency, corpus share, induced join pair volume",
              tags=("llm", "dedup", "stats")),
    QuerySpec("x_ivf_nprobe_sweep", q_ivf_nprobe_sweep, ORACLE_IVF_NPROBE_SWEEP,
              doc="IVF recall@10 at n_probe 1/2/4 from one shared assignment + scored frame",
              tags=("llm", "similarity", "eval")),
]


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
    from ..operators.windows import distributed_cumsum

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
    from .llm import ORACLE_LM_SCORE
    from .llm import ORACLE_QUALITY as _OQS

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


SPECS += [
    QuerySpec("x_quality_rank_corr", q_quality_rank_corr, _quality_rank_corr_oracle(),
              doc="Spearman rank agreement between the heuristic and bigram-LM quality scorers",
              tags=("llm", "eval", "stats")),
]


# ============================================================= r8 batch 6:
# rank-quality NDCG, privacy l-diversity, rank/robust statistics, DP release


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

    from .llm import _QUERY_IDS

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
    from .llm import _QUERY_IDS

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


# ------------------------------------------------------------- Mann-Whitney U
def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test: do 'click' and 'view' events draw
    their `value` from the same distribution? The non-parametric
    companion to e_welch_t2 (which compares means and assumes rough
    normality) — rank tests are the workhorse for skewed engagement
    metrics. Normal approximation WITHOUT tie correction (values sit on a
    cent grid; ties are rare and the correction term is O(ties³/n³) —
    documented choice, identical on both engines).

    U is computed WITHOUT any global sort: bucket both samples on the
    exact cent grid (one hash agg), then one distributed_cumsum over the
    grid (range partition + bounded partition-total broadcast — never an
    Exchange SinglePartition) gives each value's count-below; 2·U1 =
    Σ n1(v)·(2·below2(v) + n2(v)) is exact in BIGINTs. At 100 TB the
    cumsum frame is |distinct cents|, bounded by the value domain, not
    the event count. The variance product n1·n2·(n1+n2+1) is computed
    with each factor cast to DOUBLE first (identically in the oracle):
    in BIGINT it overflows int64 once both samples reach ~1.5M rows, and
    Spark would wrap silently (non-ANSI) where DuckDB raises."""
    from ..operators.windows import distributed_cumsum

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    g = (
        ev.select(
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            (F.col("event_type") == "click").cast("bigint").alias("is1"),
            (F.col("event_type") == "view").cast("bigint").alias("is2"),
        )
        .groupBy("cents")
        .agg(F.sum("is1").alias("n1"), F.sum("is2").alias("n2"))
    )
    cum = distributed_cumsum(g, ["cents"], ["n1", "n2"], ["c1", "c2"])
    agg = cum.agg(
        F.sum("n1").cast("bigint").alias("n_click"),
        F.sum("n2").cast("bigint").alias("n_view"),
        F.sum(F.col("n1") * (2 * (F.col("c2") - F.col("n2")) + F.col("n2")))
        .cast("bigint")
        .alias("u1_x2"),
    )
    return agg.select(
        "n_click", "n_view", "u1_x2",
        F.floor(
            (F.lit(1000) * (F.col("u1_x2") - F.col("n_click") * F.col("n_view")))
            / (
                F.lit(2)
                * F.sqrt(
                    F.col("n_click").cast("double")
                    * F.col("n_view").cast("double")
                    * (F.col("n_click") + F.col("n_view") + 1).cast("double")
                    / F.lit(12.0)
                )
            )
        )
        .cast("bigint")
        .alias("z_milli"),
    )


ORACLE_MANN_WHITNEY = """
WITH g AS (
  SELECT round(value * 100)::BIGINT AS cents,
         sum((event_type = 'click')::BIGINT)::BIGINT AS n1,
         sum((event_type = 'view')::BIGINT)::BIGINT AS n2
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY 1
),
cum AS (
  SELECT n1, n2,
         sum(n2) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
  FROM g
),
agg AS (
  SELECT sum(n1)::BIGINT AS n_click, sum(n2)::BIGINT AS n_view,
         sum(n1 * (2 * (c2 - n2) + n2))::BIGINT AS u1_x2
  FROM cum
)
SELECT n_click, n_view, u1_x2,
       floor((1000 * (u1_x2 - n_click * n_view))
             / (2 * sqrt(n_click::DOUBLE * n_view::DOUBLE * (n_click + n_view + 1)::DOUBLE / 12.0)))::BIGINT AS z_milli
FROM agg
"""


# ------------------------------------------------------------- Theil-Sen slope
def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend per event type: the MEDIAN of all pairwise
    slopes between daily revenue points — up to ~29% corrupted days
    cannot move it, unlike e_ols_trend's least-squares line which one
    flash-sale outlier drags arbitrarily. Reported as the lower median
    (rank ⌈n/2⌉ on the deterministic slope grid) so both engines pick the
    identical element — no percentile interpolation. The rank target is
    INTEGER division ((n_pairs + 1) div 2) to match the oracle's `//` —
    double division would miss the x.5 target whenever C(n,2) is even
    (day count ≡ 0 or 1 mod 4) and silently drop the key.

    Scale shape: the pairwise self-join is over the DAY GRID (bounded by
    calendar × event types, ~30 rows per key — never over raw events), so
    pair count is a few hundred per key; ranking is a KEYED window over
    those bounded groups. The day rollup itself is one hash agg over the
    event scan."""
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value") * 100).cast("bigint").alias("y_cents"))
    ).cache()
    b = daily.select(
        "event_type",
        F.col("day").alias("day2"),
        F.col("y_cents").alias("y2"),
    )
    pairs = daily.join(b, "event_type").filter(F.col("day") < F.col("day2")).select(
        "event_type",
        F.expr("(1000 * (y2 - y_cents)) div datediff(day2, day)")
        .cast("bigint")
        .alias("slope_milli"),
    )
    w = Window.partitionBy("event_type").orderBy("slope_milli")
    ranked = pairs.withColumn("rk", F.row_number().over(w))
    cnt = pairs.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return (
        ranked.join(F.broadcast(cnt), "event_type")
        .filter(F.col("rk") == F.expr("(n_pairs + 1) div 2"))
        .select("event_type", "n_pairs", F.col("slope_milli").alias("med_slope_milli"))
        .orderBy("event_type")
    )


ORACLE_THEIL_SEN = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, round(sum(value) * 100)::BIGINT AS y_cents
  FROM events GROUP BY event_type, ts::DATE
),
pairs AS (
  SELECT a.event_type,
         ((1000 * (b.y_cents - a.y_cents)) // (b.day - a.day))::BIGINT AS slope_milli
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
),
ranked AS (
  SELECT event_type, slope_milli,
         row_number() OVER (PARTITION BY event_type ORDER BY slope_milli) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM pairs
)
SELECT event_type, n_pairs::BIGINT AS n_pairs, slope_milli AS med_slope_milli
FROM ranked WHERE rk = (n_pairs + 1) // 2
ORDER BY event_type
"""


# ------------------------------------------------------------- Kendall tau-a
def q_kendall_tau(spark, sf_dir):
    """Kendall tau-a concordance between the daily click series and the
    daily purchase series: over all day pairs (i < j), do the two metrics
    move the SAME way? The pair-counting alternative to e_spearman (rank
    correlation) and x_quality_rank_corr — tau has a direct probabilistic
    reading (P[concordant] − P[discordant]) and is the standard check
    that an engagement proxy tracks the revenue metric.

    Scale shape: the self-join is over the DAY GRID (bounded by calendar:
    ~30 rows → ~435 pairs — never raw events); the day rollup is one
    conditional hash agg over the event scan; the final reduce is one
    scalar aggregate."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum((F.col("event_type") == "click").cast("bigint")).alias("x"),
            F.sum((F.col("event_type") == "purchase").cast("bigint")).alias("y"),
        )
    ).cache()
    b = daily.select(
        F.col("day").alias("day2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    pairs = daily.crossJoin(b).filter(F.col("day") < F.col("day2")).select(
        F.signum((F.col("x2") - F.col("x")).cast("double")).cast("bigint").alias("sx"),
        F.signum((F.col("y2") - F.col("y")).cast("double")).cast("bigint").alias("sy"),
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum((F.col("sx") * F.col("sy") == 1).cast("bigint")).alias("concordant"),
        F.sum((F.col("sx") * F.col("sy") == -1).cast("bigint")).alias("discordant"),
        F.sum((F.col("sx") == 0).cast("bigint")).alias("ties_x"),
        F.sum((F.col("sy") == 0).cast("bigint")).alias("ties_y"),
    ).select(
        "n_pairs", "concordant", "discordant", "ties_x", "ties_y",
        F.expr("(1000 * (concordant - discordant)) div n_pairs")
        .cast("bigint")
        .alias("tau_a_milli"),
    )


ORACLE_KENDALL_TAU = """
WITH daily AS (
  SELECT ts::DATE AS day,
         sum((event_type = 'click')::BIGINT)::BIGINT AS x,
         sum((event_type = 'purchase')::BIGINT)::BIGINT AS y
  FROM events GROUP BY ts::DATE
),
pairs AS (
  SELECT sign(b.x - a.x)::BIGINT AS sx, sign(b.y - a.y)::BIGINT AS sy
  FROM daily a JOIN daily b ON a.day < b.day
),
agg AS (
  SELECT count(*)::BIGINT AS n_pairs,
         sum((sx * sy = 1)::BIGINT)::BIGINT AS concordant,
         sum((sx * sy = -1)::BIGINT)::BIGINT AS discordant,
         sum((sx = 0)::BIGINT)::BIGINT AS ties_x,
         sum((sy = 0)::BIGINT)::BIGINT AS ties_y
  FROM pairs
)
SELECT n_pairs, concordant, discordant, ties_x, ties_y,
       ((1000 * (concordant - discordant)) // n_pairs)::BIGINT AS tau_a_milli
FROM agg
"""


SPECS += [
    QuerySpec("x_ndcg_labels", q_ndcg_labels, _ndcg_oracle(),
              doc="NDCG@10 of cosine retrieval vs class labels on a micro-integer discount grid",
              tags=("llm", "eval", "similarity")),
    QuerySpec("x_l_diversity", q_l_diversity, ORACLE_L_DIVERSITY,
              doc="k-anonymity + l-diversity release audit over (source, length-bucket) QI groups",
              tags=("llm", "privacy")),
    QuerySpec("e_mann_whitney", q_mann_whitney, ORACLE_MANN_WHITNEY,
              doc="Mann-Whitney U rank-sum z-score via value-grid cumsum (no global sort)",
              tags=("analytics", "stats")),
    QuerySpec("e_theil_sen", q_theil_sen, ORACLE_THEIL_SEN,
              doc="Theil-Sen robust slope: median pairwise slope over the bounded day grid",
              tags=("analytics", "stats")),
    QuerySpec("e_kendall_tau", q_kendall_tau, ORACLE_KENDALL_TAU,
              doc="Kendall tau-a concordance between daily click and purchase series",
              tags=("analytics", "stats")),
]


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
    from .llm import _KNN_CTES

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


SPECS += [
    QuerySpec("x_dp_counts", q_dp_counts, _dp_counts_oracle(),
              doc="discrete-Laplace DP release of the (source, lang) histogram via hash-derived two-sided geometric noise",
              tags=("llm", "privacy")),
    QuerySpec("x_kcenter_coreset", q_kcenter_coreset, _kcenter_oracle(),
              doc="greedy k-center coreset: 4 farthest-point rounds with per-round cover radius, fully lazy unrolled plan",
              tags=("llm", "similarity", "sampling")),
    QuerySpec("x_label_prop_seeds", q_label_prop_seeds, _label_prop_oracle(),
              doc="2-round majority label propagation from 10% seeds over the bucketed kNN graph, confusion-matrix output",
              tags=("llm", "similarity", "eval")),
]


# ------------------------------------------------------------- label modularity
def q_graph_modularity(spark, sf_dir):
    """Newman modularity of the TRUE-label partition over the mutual kNN
    graph: do the embedding classes form actual graph communities? High Q
    ⇒ same-label vectors are each other's neighbors (healthy embedding);
    Q ≈ 0 ⇒ the kNN structure ignores the labels. The graph-level twin of
    x_mrr_labels/x_ndcg_labels (which score per-query retrieval).

    Integer form: Q = Σ_c (4m·e_c − d_c²) / (4m²) — numerator exact in
    BIGINTs (m = undirected edges, e_c = in-community edges, d_c = degree
    sum), one final integer division to milli. Per-label rows carry the
    inputs; the corpus-level q_milli is broadcast onto each row (the
    x_zipf_fit convention).

    Scale shape: mutual-kNN edge frame (bucketed self-join, see
    similarity.knn_graph) cached for its three consumers (m, e_c, d_c);
    everything after is label-keyed hash aggregates over ≤|edges| rows and
    one 10-row broadcast."""
    e = _embs_par(spark, sf_dir)
    g = similarity.knn_graph(e, k=3, dims=6)
    edges = (
        g.filter((F.col("mutual") == 1) & (F.col("src") < F.col("dst")))
        .select("src", "dst")
        .cache()
    )
    lab = e.select("vec_id", F.col("label").cast("bigint").alias("label"))
    el = (
        edges.join(lab.select(F.col("vec_id").alias("src"), F.col("label").alias("la")), "src")
        .join(lab.select(F.col("vec_id").alias("dst"), F.col("label").alias("lb")), "dst")
    ).cache()
    m = el.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    e_in = el.filter(F.col("la") == F.col("lb")).groupBy(F.col("la").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("e_in")
    )
    deg = (
        el.select(F.col("src").alias("vec_id")).unionAll(el.select(F.col("dst").alias("vec_id")))
        .join(lab, "vec_id")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_sum"))
    )
    per = (
        lab.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .join(e_in, "label", "left")
        .join(deg, "label", "left")
        .select(
            "label", "n_nodes",
            F.coalesce("e_in", F.lit(0)).cast("bigint").alias("e_in"),
            F.coalesce("d_sum", F.lit(0)).cast("bigint").alias("d_sum"),
        )
        .cache()
    )
    q = per.crossJoin(F.broadcast(m)).agg(
        F.expr(
            "CASE WHEN max(m) > 0 THEN "
            "(1000 * sum(4 * m * e_in - d_sum * d_sum)) div (4 * max(m) * max(m)) "
            "ELSE NULL END"
        ).cast("bigint").alias("q_milli")
    )
    return per.crossJoin(F.broadcast(q)).orderBy("label")


def _modularity_oracle() -> str:
    from .llm import _KNN_CTES

    return f"""
WITH {_KNN_CTES},
mut AS (
  SELECT t.src, t.dst FROM top t JOIN top r ON t.src = r.dst AND t.dst = r.src
  WHERE t.src < t.dst
),
lab AS (SELECT vec_id, label::BIGINT AS label FROM embeddings),
el AS (
  SELECT a.label AS la, b.label AS lb
  FROM mut JOIN lab a ON mut.src = a.vec_id JOIN lab b ON mut.dst = b.vec_id
),
m AS (SELECT count(*)::BIGINT AS m FROM el),
ein AS (SELECT la AS label, count(*)::BIGINT AS e_in FROM el WHERE la = lb GROUP BY la),
deg AS (
  SELECT label, count(*)::BIGINT AS d_sum FROM (
    SELECT la AS label FROM el UNION ALL SELECT lb FROM el
  ) GROUP BY label
),
per AS (
  SELECT l.label, count(*)::BIGINT AS n_nodes,
         coalesce(any_value(ein.e_in), 0)::BIGINT AS e_in,
         coalesce(any_value(deg.d_sum), 0)::BIGINT AS d_sum
  FROM lab l LEFT JOIN ein ON l.label = ein.label LEFT JOIN deg ON l.label = deg.label
  GROUP BY l.label
),
q AS (
  SELECT CASE WHEN m.m > 0 THEN
    (1000 * sum(4 * m.m * per.e_in - per.d_sum * per.d_sum)) // (4 * m.m * m.m)
  ELSE NULL END::BIGINT AS q_milli
  FROM per, m GROUP BY m.m
)
SELECT per.label, per.n_nodes, per.e_in, per.d_sum, q.q_milli
FROM per, q ORDER BY per.label
"""


# ------------------------------------------------------------- degree assortativity
def q_degree_assortativity(spark, sf_dir):
    """Degree assortativity of the near-dup graph: Pearson correlation of
    endpoint degrees over all directed edge instances. Strongly positive ⇒
    hub-hub wiring (one template family snowballing — transitive dedup
    will over-merge); negative ⇒ hub-and-spoke (one canonical page with
    many skimming variants). The one-number wiring diagnostic on top of
    x_degree_hist's shape view.

    All five Pearson sums are exact BIGINTs over the degree frame; every
    derived term (numerator n·sxy − sx·sy, both variance factors, and
    the positivity guards) is computed in DOUBLE — identically in the
    oracle — because each of those products can exceed int64 at scale
    and Spark would wrap silently (non-ANSI) where DuckDB raises. One
    floor to milli at the end. Scale shape: verified-pair frame CACHED (three consumers via
    the doubled edge list), node-keyed degree agg CACHED (joined on both
    endpoints), then one scalar aggregate. Nothing beyond the LSH chain
    that produced the pairs."""
    near = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, sf_dir))).near
    pairs = near.select("doc_a", "doc_b").cache()
    und = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    deg = und.groupBy(F.col("doc_a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).cache()
    ed = (
        und.join(deg.select(F.col("node").alias("doc_a"), F.col("deg").alias("dx")), "doc_a")
        .join(deg.select(F.col("node").alias("doc_b"), F.col("deg").alias("dy")), "doc_b")
    )
    agg = ed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
    )
    ne = F.col("n_edges").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return agg.select(
        "n_edges",
        F.when(
            (ne * sxx - sx * sx > 0) & (ne * syy - sy * sy > 0),
            F.floor(
                (F.lit(1000.0) * (ne * sxy - sx * sy))
                / F.sqrt((ne * sxx - sx * sx) * (ne * syy - sy * sy))
            ),
        ).cast("bigint").alias("r_milli"),
    )


ORACLE_DEGREE_ASSORTATIVITY = f"""
WITH {_PAIRS_CTES},
und AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
deg AS (SELECT doc_a AS node, count(*)::BIGINT AS deg FROM und GROUP BY doc_a),
ed AS (
  SELECT a.deg AS dx, b.deg AS dy
  FROM und JOIN deg a ON und.doc_a = a.node JOIN deg b ON und.doc_b = b.node
),
agg AS (
  SELECT count(*)::BIGINT AS n_edges,
         sum(dx)::BIGINT AS sx, sum(dy)::BIGINT AS sy,
         sum(dx * dy)::BIGINT AS sxy, sum(dx * dx)::BIGINT AS sxx,
         sum(dy * dy)::BIGINT AS syy
  FROM ed
)
SELECT n_edges,
       CASE WHEN n_edges::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
             AND n_edges::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0 THEN
         floor((1000.0 * (n_edges::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE))
               / sqrt((n_edges::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                      * (n_edges::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)))
       ELSE NULL END::BIGINT AS r_milli
FROM agg
"""


SPECS += [
    QuerySpec("x_graph_modularity", q_graph_modularity, _modularity_oracle(),
              doc="Newman modularity of the label partition over the mutual kNN graph, exact-integer numerator",
              tags=("llm", "similarity", "graph", "eval")),
    QuerySpec("x_degree_assortativity", q_degree_assortativity, ORACLE_DEGREE_ASSORTATIVITY,
              doc="degree assortativity (endpoint-degree Pearson) of the near-dup graph",
              tags=("llm", "dedup", "graph")),
]


# ============================================================= r8 batch 9:
# submodular coverage selection, top-weighted rank overlap, independence
# tests


# ------------------------------------------------------------- greedy max-coverage
_MC_ROUNDS = 3


def q_coverage_max(spark, sf_dir):
    """Greedy maximum-coverage source selection: pick the 3 sources whose
    union covers the most vocabulary, one greedy round at a time (the
    (1−1/e) submodular guarantee) — the data-buying question "which three
    feeds give the broadest token coverage?" answered exactly the way
    facility-location selection runs in practice. Output per round: the
    chosen source, its MARGINAL gain (new tokens), and the cumulative
    covered-vocabulary size.

    Fully lazy unrolled like x_kcenter_coreset: the (source, token) frame
    is built once and CACHED; each round is one left-anti against the
    covered set (cached per round — also lineage truncation), one
    source-keyed count, one TakeOrdered(1), and the covered set grows by
    a semi-join union. Rounds are a FIXED constant; candidate work per
    round is |source×vocab|, never pairwise."""
    from ..operators.text import normalize_text, whitespace_tokens

    d = _docs_par(spark, sf_dir)
    st = (
        d.select("source", F.explode(whitespace_tokens(normalize_text(F.col("text")))).alias("tok"))
        .distinct()
        .cache()
    )
    srcs = st.select("source").distinct().cache()
    covered = None
    picked = None
    rounds = []
    for r in range(1, _MC_ROUNDS + 1):
        rem = st if covered is None else st.join(covered, "tok", "left_anti")
        gains = rem.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("gain"))
        # candidates = unpicked sources, 0-gain ones included (a saturated
        # corpus still yields a deterministic full selection, never a
        # silently short result)
        cand = srcs if picked is None else srcs.join(picked, "source", "left_anti")
        scored = cand.join(gains, "source", "left").select(
            "source", F.coalesce("gain", F.lit(0)).cast("bigint").alias("gain")
        )
        pick = scored.orderBy(F.col("gain").desc(), "source").limit(1).cache()
        picked = pick.select("source") if picked is None else picked.unionByName(
            pick.select("source")
        )
        new_toks = st.join(pick.select("source"), "source", "left_semi").select("tok")
        covered = (
            new_toks if covered is None else covered.unionByName(new_toks)
        ).distinct().cache()
        total = covered.agg(F.count(F.lit(1)).cast("bigint").alias("covered_total"))
        rounds.append(
            pick.select(F.lit(r).cast("bigint").alias("sel_round"), "source", "gain")
            .crossJoin(F.broadcast(total))
        )
    out = rounds[0]
    for fr in rounds[1:]:
        out = out.unionByName(fr)
    return out.orderBy("sel_round")


def _coverage_max_oracle() -> str:
    from .llm import _TOKS

    parts = [
        f"WITH st AS (SELECT DISTINCT source, unnest({_TOKS}) AS tok FROM documents)",
        "srcs AS (SELECT DISTINCT source FROM st)",
        "g1 AS (SELECT s.source, coalesce(c.gain, 0)::BIGINT AS gain FROM srcs s LEFT JOIN "
        "(SELECT source, count(*)::BIGINT AS gain FROM st GROUP BY source) c USING (source) "
        "ORDER BY gain DESC, s.source LIMIT 1)",
        "cov1 AS (SELECT DISTINCT st.tok FROM st JOIN g1 USING (source))",
    ]
    sel = ["SELECT 1 AS sel_round, source, gain, (SELECT count(*) FROM cov1)::BIGINT AS covered_total FROM g1"]
    picked = ["g1"]
    for r in range(2, _MC_ROUNDS + 1):
        p = r - 1
        not_in = " AND ".join(f"s.source NOT IN (SELECT source FROM {g})" for g in picked)
        parts.append(
            f"g{r} AS (SELECT s.source, coalesce(c.gain, 0)::BIGINT AS gain FROM srcs s LEFT JOIN "
            f"(SELECT source, count(*)::BIGINT AS gain FROM st "
            f"WHERE tok NOT IN (SELECT tok FROM cov{p}) GROUP BY source) c USING (source) "
            f"WHERE {not_in} ORDER BY gain DESC, s.source LIMIT 1)"
        )
        parts.append(
            f"cov{r} AS (SELECT tok FROM cov{p} UNION SELECT st.tok FROM st JOIN g{r} USING (source))"
        )
        sel.append(
            f"SELECT {r} AS sel_round, source, gain, (SELECT count(*) FROM cov{r})::BIGINT AS covered_total FROM g{r}"
        )
        picked.append(f"g{r}")
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sel) + "\nORDER BY sel_round"


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
    from .llm import ORACLE_LM_SCORE
    from .llm import ORACLE_QUALITY as _OQS

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


# ------------------------------------------------------------- chi-square independence
def q_chisq_independence(spark, sf_dir):
    """Chi-square test of independence between event type and day-of-week
    plus Cramér's V — "is engagement mix a weekday phenomenon?" as a
    single significance-tested number (e_dow_divergence reports the
    per-type mix distances; this is the corpus-level test over the full
    contingency table). Per-cell statistic: d = N·o − r·c stays exact
    BIGINT (≤ ~3e11 at sf0.1); d² would overflow int64 at scale, so the
    cell value floor(d·d·1e6 / (N·r·c)) is evaluated in DOUBLE with the
    identical left-assoc operation order in both engines — every step is
    one correctly-rounded IEEE op over identical operands, so the floors
    agree bit-for-bit; V from one final sqrt.

    Scale shape: one conditional hash agg over the event scan builds the
    |types|×7 table; margins and the statistic are broadcast arithmetic
    over ≤ dozens of rows."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.expr("((cast(unix_timestamp(ts) as bigint) div 86400) + 4) % 7").alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .cache()
    )
    rows = cells.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("r"))
    colsf = cells.groupBy("dow").agg(F.sum("o").cast("bigint").alias("c"))
    tot = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("nr"),
        F.countDistinct("dow").cast("bigint").alias("nc"),
    )
    full = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(colsf), "dow")
        .crossJoin(F.broadcast(tot))
    )
    agg = full.agg(
        F.max("n").alias("n_events"),
        F.max("nr").alias("n_types"),
        F.max("nc").alias("n_dows"),
        F.sum(
            F.expr(
                "cast(floor(cast(n * o - r * c as double) * cast(n * o - r * c as double) "
                "* 1000000.0 / (cast(n as double) * cast(r as double) * cast(c as double))) as bigint)"
            )
        ).cast("bigint").alias("chi2_micro"),
    )
    return agg.select(
        "n_events", "n_types", "n_dows", "chi2_micro",
        F.floor(
            F.lit(1000)
            * F.sqrt(
                (F.col("chi2_micro") / F.lit(1000000.0))
                / (
                    F.col("n_events")
                    * F.least(F.col("n_types") - 1, F.col("n_dows") - 1)
                ).cast("double")
            )
        ).cast("bigint").alias("cramers_v_milli"),
    )


ORACLE_CHISQ_INDEPENDENCE = """
WITH cells AS (
  SELECT event_type, ((floor(epoch(ts))::BIGINT // 86400) + 4) % 7 AS dow,
         count(*)::BIGINT AS o
  FROM events GROUP BY 1, 2
),
r AS (SELECT event_type, sum(o)::BIGINT AS r FROM cells GROUP BY event_type),
c AS (SELECT dow, sum(o)::BIGINT AS c FROM cells GROUP BY dow),
t AS (SELECT sum(o)::BIGINT AS n, count(DISTINCT event_type)::BIGINT AS nr,
             count(DISTINCT dow)::BIGINT AS nc FROM cells),
agg AS (
  SELECT max(t.n) AS n_events, max(t.nr) AS n_types, max(t.nc) AS n_dows,
         sum(floor((t.n * cells.o - r.r * c.c)::DOUBLE * (t.n * cells.o - r.r * c.c)::DOUBLE
             * 1000000.0 / (t.n::DOUBLE * r.r::DOUBLE * c.c::DOUBLE)))::BIGINT AS chi2_micro
  FROM cells JOIN r USING (event_type) JOIN c USING (dow), t
)
SELECT n_events, n_types, n_dows, chi2_micro,
       floor(1000 * sqrt((chi2_micro / 1000000.0)
             / (n_events * least(n_types - 1, n_dows - 1))::DOUBLE))::BIGINT AS cramers_v_milli
FROM agg
"""


# ------------------------------------------------------------- two-proportion z
def q_two_proportion_z(spark, sf_dir):
    """Two-proportion z-test on the purchase share between the two
    hash-split user cohorts (user_id % 2 — the A/B assignment every
    experiment table carries): pooled-variance normal approximation, the
    proportions companion to e_welch_t2 (means) and e_mann_whitney
    (distributions). Exact BIGINT counts; one final sqrt + floor to
    milli.

    Scale shape: ONE conditional hash aggregate over the event scan — no
    joins, no windows; four counters in, one row out."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.sum(F.expr("case when user_id % 2 = 0 then 1 else 0 end")).cast("bigint").alias("n_a"),
        F.sum(F.expr("case when user_id % 2 = 0 and event_type = 'purchase' then 1 else 0 end")).cast("bigint").alias("x_a"),
        F.sum(F.expr("case when user_id % 2 = 1 then 1 else 0 end")).cast("bigint").alias("n_b"),
        F.sum(F.expr("case when user_id % 2 = 1 and event_type = 'purchase' then 1 else 0 end")).cast("bigint").alias("x_b"),
    )
    return agg.select(
        "n_a", "x_a", "n_b", "x_b",
        F.floor(
            (F.lit(1000.0) * (F.col("x_a") / F.col("n_a") - F.col("x_b") / F.col("n_b")))
            / F.sqrt(
                ((F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b")))
                * (1 - (F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b")))
                * (1 / F.col("n_a") + 1 / F.col("n_b"))
            )
        ).cast("bigint").alias("z_milli"),
    )


ORACLE_TWO_PROPORTION_Z = """
WITH agg AS (
  SELECT sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x_a,
         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         sum(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x_b
  FROM events
)
SELECT n_a, x_a, n_b, x_b,
       floor((1000.0 * (x_a / n_a::DOUBLE - x_b / n_b::DOUBLE))
             / sqrt(((x_a + x_b) / (n_a + n_b)::DOUBLE)
                    * (1 - (x_a + x_b) / (n_a + n_b)::DOUBLE)
                    * (1.0 / n_a + 1.0 / n_b)))::BIGINT AS z_milli
FROM agg
"""


SPECS += [
    QuerySpec("x_coverage_max", q_coverage_max, _coverage_max_oracle(),
              doc="greedy max-coverage source selection (3 submodular rounds): marginal gain + cumulative vocab covered",
              tags=("llm", "sampling", "text")),
    QuerySpec("x_rbo_rankings", q_rbo_rankings, _rbo_oracle(),
              doc="rank-biased overlap @50 (p=0.9) between the heuristic and LM quality rankings via suffix-weight lookup",
              tags=("llm", "eval", "stats")),
    QuerySpec("e_chisq_independence", q_chisq_independence, ORACLE_CHISQ_INDEPENDENCE,
              doc="chi-square independence of event type x day-of-week + Cramer's V on the exact micro grid",
              tags=("analytics", "stats")),
    QuerySpec("e_two_proportion_z", q_two_proportion_z, ORACLE_TWO_PROPORTION_Z,
              doc="two-proportion z-test of purchase share between hash-split cohorts",
              tags=("analytics", "stats")),
]

"""Graph-analytics extension queries: PageRank quality prior and degree
profiling over the customer↔supplier trade graph, and graph algorithms
over the corpus's k-NN and near-duplicate graphs (k-NN graph and its
clusters, triangles and clustering coefficient, modularity, assortativity,
BFS layers, bridges, k-core peeling, link prediction).

The graph is derived from the TPC-H-ish fixtures: an undirected edge for
every distinct (customer, supplier) pair that traded (orders ⋈ lineitem),
node ids prefixed ``c:`` / ``s:`` so the two key spaces cannot collide.
This is the bipartite interaction-graph shape a crawl pipeline uses for
link-authority weighting (operators/graph.py docstring); connected
components over the same kind of edge list live in operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ..operators import dedup, graph, similarity
from . import QuerySpec
from .common import _docs_par, _embs_par, _KNN_CTES, _minhash_lsh_ctes, _PAIRS_CTES, _SHINGLES_CTE

_EDGES_CTE = """e0 AS (
  SELECT DISTINCT 'c:' || o_custkey::VARCHAR AS src,
         's:' || l_suppkey::VARCHAR AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)"""


def _trade_edges(spark, sf_dir):
    """Distinct undirected c:↔s: edge list from orders ⋈ lineitem.

    The pair-distinct happens on the directed frame (one shuffle); the
    reverse direction is projection-only (graph.undirected) because the
    prefixed src/dst domains are disjoint — no second distinct needed.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return graph.undirected(e0)


# Narrower shuffle keys: the trade-graph
# node ids are "c:<custkey>" / "s:<suppkey>" strings; 2k / 2k+1 is an exact
# BIJECTIVE integer encoding of that domain (no hash, no collision risk),
# so the three PageRank iterations shuffle/aggregate 8-byte bigints instead
# of variable-width strings, and the decode projection reproduces the
# original strings bit-for-bit for the oracle (measured with the edge-side
# pre-partition in operators/graph.py: OPTIMIZATION_r11.md).
_NODE_ENC = (
    "CASE WHEN substring({c}, 1, 2) = 'c:' "
    "THEN 2 * CAST(substring({c}, 3) AS BIGINT) "
    "ELSE 2 * CAST(substring({c}, 3) AS BIGINT) + 1 END"
)
_NODE_DEC = (
    "CASE WHEN {c} % 2 = 0 THEN concat('c:', CAST({c} div 2 AS STRING)) "
    "ELSE concat('s:', CAST(({c} - 1) div 2 AS STRING)) END"
)


def _encode_nodes(edges):
    return edges.select(
        F.expr(_NODE_ENC.format(c="src")).alias("src"),
        F.expr(_NODE_ENC.format(c="dst")).alias("dst"),
    )


def q_pagerank(spark, sf_dir):
    """3-iteration integer-grid PageRank over the trade graph — the
    link-authority prior for quality-weighted sampling. One hash shuffle
    per iteration; every arithmetic step is BIGINT so the unrolled DuckDB
    CTE oracle matches bit-for-bit (operators/graph.py). Iterations run
    on the bijective integer node encoding (_NODE_ENC above) and the
    result decodes back to the public string ids."""
    edges = _encode_nodes(_trade_edges(spark, sf_dir)).cache()
    r = graph.pagerank(edges, iterations=3)
    return r.select(F.expr(_NODE_DEC.format(c="node")).alias("node"), "rank_micro")


ORACLE_PAGERANK = graph.pagerank_oracle_sql(_EDGES_CTE, iterations=3)


def q_degree_hist(spark, sf_dir):
    """Degree histogram of the trade graph (how many nodes have degree k,
    split by node class) — the skew gauge you read BEFORE running an
    iterative graph algorithm at scale: a heavy-tailed histogram says the
    contribution shuffle needs salting on the hot nodes. Two hash
    aggregates, no window."""
    edges = _trade_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy(F.substring("src", 1, 1).alias("node_class"), "degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


ORACLE_DEGREE_HIST = f"""
WITH {_EDGES_CTE},
deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1)
SELECT substr(src, 1, 1) AS node_class, degree::BIGINT AS degree,
       count(*)::BIGINT AS n_nodes
FROM deg GROUP BY 1, 2
"""


SPECS = [
    QuerySpec("x_pagerank", q_pagerank, ORACLE_PAGERANK,
              doc="3-iteration integer-grid PageRank over the customer↔supplier trade graph",
              tags=("llm", "graph", "scale")),
    QuerySpec("x_degree_hist", q_degree_hist, ORACLE_DEGREE_HIST,
              doc="trade-graph degree histogram by node class — iterative-algorithm skew gauge",
              tags=("llm", "graph", "stats")),
]


def q_ppr(spark, sf_dir):
    """Personalized PageRank from nation-1 customers: restart mass lives
    only on the seed set, so rank measures trade-graph PROXIMITY to those
    customers (the related-supplier / recommendation signal) rather than
    global authority. Non-zero ranks only — at scale the reachable
    frontier, not the node universe. Same one-shuffle-per-iteration shape
    and bit-exact unrolled-CTE oracle as x_pagerank."""
    from ..io import load_table as _lt

    edges = _encode_nodes(_trade_edges(spark, sf_dir)).cache()
    cust = _lt(spark, sf_dir, "customer")
    # seeds are customers: the integer encoding of "c:<k>" is 2k directly
    seeds = cust.filter(F.col("c_nationkey") == 1).select(
        (F.lit(2) * F.col("c_custkey").cast("bigint")).alias("node")
    )
    r = graph.pagerank(edges, iterations=3, seeds=seeds)
    return r.filter(F.col("rank_micro") > 0).select(
        F.expr(_NODE_DEC.format(c="node")).alias("node"), "rank_micro"
    )


_PPR_CTE = _EDGES_CTE + """,
seeds AS (
  SELECT 'c:' || c_custkey::VARCHAR AS node FROM customer WHERE c_nationkey = 1
)"""

ORACLE_PPR = graph.pagerank_oracle_sql(_PPR_CTE, iterations=3, seeded=True) + \
    "\nWHERE rank_micro > 0"

SPECS.append(
    QuerySpec("x_ppr", q_ppr, ORACLE_PPR,
              doc="personalized PageRank from nation-1 customers — trade-graph proximity signal",
              tags=("llm", "graph", "scale"))
)


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


# ---------------------------------------------------------------- triangle count / clustering coefficient
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


# ---------------------------------------------------------------- cluster label purity
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


# ---------------------------------------------------------------- neighborhood-Jaccard link prediction
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


# ---------------------------------------------------------------- bounded k-core peel
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
    QuerySpec("x_knn_graph", q_knn_graph, ORACLE_KNN_GRAPH,
              doc="bucketed mutual k-NN graph over embeddings (clustering substrate)",
              tags=("llm", "similarity", "graph")),
    QuerySpec("x_embedding_clusters", q_embedding_clusters, ORACLE_EMBEDDING_CLUSTERS,
              doc="semantic clusters: connected components over mutual k-NN edges",
              tags=("llm", "similarity", "graph")),
    QuerySpec("x_triangle_count", q_triangle_count, ORACLE_TRIANGLE_COUNT,
              doc="per-node triangles + clustering coefficient on the mutual k-NN graph (degree-ordered orientation)",
              tags=("llm", "similarity", "graph")),
    QuerySpec("x_cluster_purity", q_cluster_purity, ORACLE_CLUSTER_PURITY,
              doc="label purity of semantic clusters: majority label + 1e-6-grid purity per cluster",
              tags=("llm", "similarity", "graph")),
    QuerySpec("x_link_predict", q_link_predict, ORACLE_LINK_PREDICT,
              doc="common-neighbor / Jaccard link prediction over the mutual kNN graph, wedge-bounded",
              tags=("llm", "graph", "similarity")),
    QuerySpec("x_kcore_peel", q_kcore_peel, _oracle_kcore_peel(),
              doc="2-core peel of the near-dup graph, 4 synchronized rounds, (round, nodes, edges) convergence spectrum",
              tags=("llm", "graph", "dedup")),
    QuerySpec("x_bfs_layers", q_bfs_layers, ORACLE_BFS_LAYERS,
              doc="multi-source BFS reachability layers (hops 0-4) over the near-dup graph",
              tags=("llm", "graph", "scale")),
    QuerySpec("x_bridge_edges", q_bridge_edges, ORACLE_BRIDGE_EDGES,
              doc="local-bridge near-dup edges (no common neighbor) — weak-tie / false-positive audit",
              tags=("llm", "graph", "dedup")),
    QuerySpec("x_graph_modularity", q_graph_modularity, _modularity_oracle(),
              doc="Newman modularity of the label partition over the mutual kNN graph, exact-integer numerator",
              tags=("llm", "similarity", "graph", "eval")),
    QuerySpec("x_degree_assortativity", q_degree_assortativity, ORACLE_DEGREE_ASSORTATIVITY,
              doc="degree assortativity (endpoint-degree Pearson) of the near-dup graph",
              tags=("llm", "dedup", "graph")),
    QuerySpec("x_clustering_coeff", q_clustering_coeff, _oracle_clustering_coeff(),
              doc="global clustering coefficient (3T/wedges) of the mutual kNN graph, exact integer rollup",
              tags=("llm", "similarity", "graph")),
]

"""Distributed graph operators (LLM-pipeline extension): integer-grid
PageRank over an edge table.

The reference has no graph operator; this extends the engine the same way
connected-components (operators/dedup.py:275) does — iterative joins over a
distributed edge list, with a driver-side loop only over a constant, small
iteration count. PageRank is the classic web-corpus quality prior: crawl
pipelines weight documents by link authority before sampling, so it belongs
in a training-data engine next to the quality classifier and DSIR stages.

EXACT cross-engine parity: ranks live on an integer 1e-6 grid
(``rank_micro`` BIGINT, initial value 1_000_000). Each iteration a node
sends ``rank_micro div out_degree`` (integer division) along every out-edge
and the damped update is ``base_micro + (d_num * Σcontribs) div d_den`` —
every operation is integer arithmetic, so shuffle/aggregation order cannot
move the result by a ulp and the DuckDB oracle (the same iterations
unrolled as CTEs) hash-matches exactly.

Scale shape: ONE narrow shuffle per iteration (contributions hash-grouped
by destination node). Edges and out-degrees are computed once — callers
should ``cache()`` the edge frame; at cluster scale the edge table would be
bucketed by ``src`` so the rank⋈edge join is co-located and only the
groupBy(dst) moves data. Iterations are a fixed constant (default 3), not
data-dependent, and per-iteration state is exactly one BIGINT per node —
the same bounded-state argument as the HLL/CMS sketches.

Dangling nodes: a node with no out-edges keeps absorbing rank but sends
none (its mass decays into the base term) — the simple "no dangling
redistribution" PageRank variant, identical on both engines. Callers
building an undirected graph (every node then has out-degree ≥ 1) avoid
the question entirely.

LINEAGE CONVENTION for iterative operators (one rule for pagerank /
connected_components / mmr_rerank): an iterative op
whose loop body runs a per-round ACTION anyway (a convergence count)
truncates lineage every round for free with a LAZY
``localCheckpoint(eager=False)`` — the round's action materializes it,
so no extra job (connected_components). An op that needs per-round
materialization but has no other action uses an EAGER per-round
localCheckpoint as that action (mmr_rerank). An op whose loop
builds one lazy plan with NO per-round action exposes the
``checkpoint_every: int | None`` keyword (pagerank / ppr here): the
default None is right for small constant iteration counts; long runs set
it to pay an eager checkpoint every N rounds instead of a plan that
grows per iteration. Guarded by
test_graph.py::test_pagerank_checkpoint_bounds_plan_depth and
test_dedup_similarity.py::test_connected_components_shuffled_path_log_rounds.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Serializes the AQE-conf flip in lazy_checkpoint: without it two
# overlapping calls can race the restore and leave AQE off session-wide.
# NOTE the residual assumption, documented in the
# lazy_checkpoint docstring: any OTHER plan compiled concurrently on the
# same session during the (lock-held, milliseconds) flip window compiles
# without AQE.
_AQE_FLIP_LOCK = threading.RLock()


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` that is ACTUALLY lazy under AQE.

    ``DataFrame.localCheckpoint`` compiles the plan to an RDD; with
    adaptive execution enabled, ``toRdd`` on an AdaptiveSparkPlan
    MATERIALIZES every shuffle stage immediately — a "lazy" checkpoint
    still runs all its jobs at DataFrame-CONSTRUCTION time (bench.py
    surfaces these as ``plan_actions_s``; x_bfs_layers paid ~2.5 s / 27
    jobs per construction this way). Compiling with AQE momentarily
    disabled yields the classic lazy RDD DAG: zero jobs now, the
    checkpoint materializes at the query's first real action, and
    downstream plans see an O(1) RDD leaf, so Catalyst analysis stays
    constant per round instead of doubling (the self-referencing-loop
    class). The non-adaptive compile affects only the checkpointed
    subtree (static shuffle partition count, no runtime coalescing or
    skew handling) — callers checkpoint TINY iterative frames (node-id
    lists, frontiers) where AQE has nothing to optimize; heavy upstream
    frames should be cache()d BEFORE the checkpointed loop so their
    InMemoryRelation (built adaptively) is what the loop re-reads.

    Concurrency: the session-global conf flip is serialized by
    _AQE_FLIP_LOCK so overlapping lazy_checkpoint calls cannot race the
    restore. A plan compiled by ANOTHER thread on the same
    session inside the held window still sees AQE off — callers running
    concurrent compilation (parallel bench drivers, streaming
    micro-batch threads) should compile via a child ``spark.newSession()``
    instead of sharing this one.
    """
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    with _AQE_FLIP_LOCK:
        prev = spark.conf.get(key, "true")
        spark.conf.set(key, "false")
        try:
            return df.localCheckpoint(eager=False)
        finally:
            spark.conf.set(key, prev)


def undirected(edges: DataFrame) -> DataFrame:
    """src↔dst symmetric closure of a directed edge list (columns src, dst).

    The reverse direction is a projection-only union — no shuffle beyond
    the caller's own distinct, and none at all if the input is already
    pair-distinct with disjoint src/dst domains (e.g. bipartite prefixes).
    """
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    node_col: str = "node",
    damping_num: int = 85,
    damping_den: int = 100,
    base_micro: int = 150_000,
    seeds: DataFrame | None = None,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Integer-grid PageRank: (node, rank_micro) after ``iterations`` steps.

    ``edges`` is a directed (src, dst) frame — pre-distinct it; pass it
    through :func:`undirected` first for the symmetric variant. Ranks start
    at 1.0 (1_000_000 micro) per node; one hash-aggregate shuffle per
    iteration; all arithmetic is BIGINT so results are order-independent
    and bit-identical across engines (see module docstring).

    With ``seeds`` (a 1-column frame of ``node_col`` values) this becomes
    PERSONALIZED PageRank: initial mass and the restart term live only on
    the seed set, so rank measures proximity to the seeds (the
    recommendation / related-entity signal) instead of global authority.
    The seed table rides as a broadcast flag join — same shuffle count.
    The node universe is edge endpoints UNION seeds (an isolated seed — no
    edges at all — still carries its restart mass and appears in the
    output at rank base_micro, instead of being silently dropped). The
    oracle builds the same union.

    ``checkpoint_every=N`` truncates the lineage every N iterations with
    an eager localCheckpoint — without it, a 100-iteration run re-analyzes
    a plan that grows linearly per iteration (and would overflow the
    planner long before the data hurts). The default (None) is right for
    the registry's fixed 3 iterations; set it (e.g. 10) for long runs.
    """
    # nodes and the (src, dst, odeg) edge frame are static across iterations
    # but referenced by every one — cache them, or each iteration re-runs
    # the node distinct and the degree join (measured 3× slower at sf0.1)
    edge_nodes = edges.select(F.col("src").alias(node_col)).union(
        edges.select(F.col("dst").alias(node_col))
    )
    if seeds is not None:
        seed_nodes = seeds.select(node_col).distinct()
        seed_flag = seed_nodes.withColumn("_seed", F.lit(1))
        nodes = (
            edge_nodes.union(seed_nodes)
            .distinct()
            .join(F.broadcast(seed_flag), node_col, "left")
            .select(node_col, F.coalesce("_seed", F.lit(0)).alias("_seed"))
            .cache()
        )
    else:
        nodes = edge_nodes.distinct().withColumn("_seed", F.lit(1)).cache()
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    # Hash-partition the static edge
    # side by the per-iteration join key ONCE before caching — the cached
    # InMemoryRelation keeps that outputPartitioning, so every iteration's
    # ed ⋈ ranks join re-shuffles only the small ranks side instead of
    # re-exchanging (and re-sorting, under sort-merge) the whole edge
    # frame per iteration. The SHUFFLE_HASH hint below replaces the
    # sort-merge join with a hash join built on the ranks side: ranks is
    # |nodes| rows spread over the shuffle partitions, so the per-task
    # build side stays bounded at any scale (no sort of the edge side at
    # all). Measured at sf0.1: warm 1.55 → 1.24 s together with the
    # integer node encoding in plans/graphq.py (bit-identical results).
    ed = edges.join(out_deg, "src").repartition(F.col("src")).cache()
    ranks = nodes.select(
        node_col, (F.lit(1_000_000) * F.col("_seed")).cast("bigint").alias("rank_micro")
    )
    base_term = F.lit(base_micro) * F.col("_seed")
    for i in range(iterations):
        contribs = (
            ed.join(ranks.withColumnRenamed(node_col, "src").hint("SHUFFLE_HASH"), "src")
            .select(
                F.col("dst").alias(node_col),
                F.expr("rank_micro div odeg").alias("c"),
            )
            .groupBy(node_col)
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contribs, node_col, "left").select(
            node_col,
            (
                base_term
                + F.expr(f"({damping_num} * coalesce(s, 0L)) div {damping_den}")
            ).cast("bigint").alias("rank_micro"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def pagerank_oracle_sql(
    edges_cte: str,
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    base_micro: int = 150_000,
    seeded: bool = False,
) -> str:
    """DuckDB oracle for :func:`pagerank` — the identical integer-grid
    iterations unrolled as CTEs. ``edges_cte`` must define ``edges(src,
    dst)`` (already distinct); with ``seeded`` it must also define
    ``seeds(node)``, and the init/restart mass lives only on the seeds
    (personalized PageRank)."""
    if seeded:
        # node universe includes isolated seeds (UNION seeds) — mirrors
        # pagerank()'s seed-universe rule exactly
        nodes_cte = (
            "nodes AS (SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS _seed"
            " FROM (SELECT DISTINCT src AS node FROM edges"
            " UNION SELECT DISTINCT dst FROM edges"
            " UNION SELECT DISTINCT node FROM seeds) n"
            " LEFT JOIN (SELECT DISTINCT node FROM seeds) s USING (node))"
        )
    else:
        nodes_cte = (
            "nodes AS (SELECT node, 1 AS _seed FROM (SELECT DISTINCT src AS node"
            " FROM edges UNION SELECT DISTINCT dst FROM edges))"
        )
    blocks = [
        edges_cte,
        nodes_cte,
        "outdeg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY 1)",
        "r0 AS (SELECT node, (1000000 * _seed)::BIGINT AS rank_micro FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        blocks.append(
            f"""c{i} AS (
  SELECT e.dst AS node, sum(r.rank_micro // o.odeg) AS s
  FROM edges e
  JOIN r{i - 1} r ON r.node = e.src
  JOIN outdeg o ON o.src = e.src
  GROUP BY 1
)"""
        )
        blocks.append(
            f"""r{i} AS (
  SELECT n.node,
         ({base_micro} * n._seed + ({damping_num} * coalesce(c.s, 0)) // {damping_den})::BIGINT AS rank_micro
  FROM nodes n LEFT JOIN c{i} c USING (node)
)"""
        )
    return (
        "WITH " + ",\n".join(blocks)
        + f"\nSELECT node, rank_micro FROM r{iterations}"
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected edge list — the corpus-clumpiness audit for a semantic
    (k-NN) graph: a node whose neighbors all know each other sits inside a
    dense near-duplicate clique, while lcc≈0 marks hub-like boundary docs.
    The reference has no graph operator; this extends the engine the same
    way PageRank (above) does.

    Algorithm: degree-ordered edge orientation (the MapReduce triangle
    scheme of Suri & Vassilvitskii, "Counting Triangles and the Curse of
    the Last Reducer", WWW'11) — orient every edge from the
    (degree, node)-smaller endpoint to the larger, enumerate wedges only at
    each edge's LOW endpoint, and close each wedge against the oriented
    edge set. Orientation bounds every node's out-degree by O(sqrt(m)), so
    wedge generation is O(m^1.5) worst-case instead of Σ deg² — the
    difference between "dies on the first hub" and "survives a power-law
    graph". The triangle SET is orientation-invariant, so the DuckDB
    oracle can use plain lexicographic closure and still match exactly.

    Scale shape: two hash aggregates (canonical-pair distinct, degree),
    one skew-bounded self-join keyed by the low endpoint, one join against
    oriented edges for closure, one explode(3)+agg for per-node counts.
    All arithmetic is BIGINT (lcc on a 1e-6 grid via integer DIV), so
    shuffle order cannot move a result bit.

    Output: (node, degree, n_triangles, lcc_micro) — lcc_micro =
    (2T * 1e6) div (d(d-1)), 0 for degree < 2.
    """
    # e/deg/oriented are each referenced by 2-3 downstream consumers
    # (degree union, two orientation joins, both wedge aliases, closure,
    # the final join). Uncached, Catalyst recompiles the caller's whole
    # edge lineage once per reference — for a kNN-graph input that meant
    # ~16 copies of the bucketed self-join subtree (137 shuffles; caching
    # drops it to the ~15 the algorithm actually needs).
    # Retention is INTENTIONAL: the caches back the lazily-returned frame,
    # so an unpersist here would silently recompile exactly that lineage
    # on the caller's first action. The caller's io.query_scope releases
    # them, with the rest of the query's state, when the query is done.
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .cache()
    )
    # Orient a→b when (deg_a, a) < (deg_b, b); ties cannot happen (a != b).
    ed = (
        e.join(deg.select(F.col("node").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("degree").alias("db")), "b")
    )
    fwd = (F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("hi_deg"),
    ).cache()
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = (
        x.join(y, F.col("x.lo") == F.col("y.lo"))
        .filter(
            (F.col("x.hi_deg") < F.col("y.hi_deg"))
            | ((F.col("x.hi_deg") == F.col("y.hi_deg")) & (F.col("x.hi") < F.col("y.hi")))
        )
        .select(
            F.col("x.lo").alias("u"), F.col("x.hi").alias("v"), F.col("y.hi").alias("w")
        )
    )
    closure = oriented.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    tri = wedges.join(closure, ["v", "w"])
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "CAST((2 * coalesce(n_triangles, 0) * 1000000)"
                    " DIV (degree * (degree - 1)) AS BIGINT)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lcc_micro"),
        )
    )

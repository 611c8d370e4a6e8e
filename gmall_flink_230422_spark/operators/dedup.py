"""Deduplication operators (LLM-data-pipeline extensions, BASELINE.json
north star — beyond the reference surface).

All variants are built from shuffle-aware DataFrame primitives and a
portable md5-derived hash (functions.hashing) so every stage is
oracle-checkable in DuckDB. Scale design:

  - exact dedup: single hash-aggregate on the normalized text (at 100 TB,
    group on a 64-bit fingerprint instead of the raw text to shrink shuffle
    width; collision check optional).
  - shingle/MinHash/LSH: explode→aggregate pipelines; candidate generation
    joins on *band signature* buckets, never all-pairs. The only quadratic
    step (verification) runs per-bucket after LSH pruning.
  - SimHash: bit-level fold of token hashes; candidates via half-signature
    banding (pigeonhole: hamming ≤ k ⇒ some half matches for k ≤ 1 per half).

Near-duplicate pairs have one entry point: :func:`near_dup_chain`
(shingles → MinHash → LSH candidates → Jaccard verify, returned as named
stages with one caching rule). Index builds and micro-batch probes that
need only the band rows use :func:`doc_bands`. Plans call these two and
never compose the stage operators by hand.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import portable_hash64
from ..functions.tokenize import whitespace_tokens


def normalize_text(col: Column) -> Column:
    return F.lower(F.trim(col))


def fingerprint(col: Column) -> Column:
    """md5 fingerprint of normalized text — exact-dup grouping key."""
    return F.md5(normalize_text(col))


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: canonical (min) id + member count per distinct
    normalized text. One hash aggregate; map-side partial agg applies."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """(doc_id, shingle) rows — distinct k-word shingles.

    Built as a pure array expression (tokenize → sliding concat → explode):
    zero shuffles until the distinct, fully inside whole-stage codegen. The
    equivalent DuckDB formulation (lead() over token positions) produces the
    same sets, keeping downstream MinHash oracle-checkable.

    Expression form is k-dependent: the k-ary ``concat_ws(' ',
    element_at×k)`` chain is faster for small k (the MinHash k=3 default),
    one ``array_join(slice(_toks, i, k), ' ')`` is faster for the long
    decontamination grams (BENCHNOTES.md, "Measurements behind
    `operators/dedup.py` design choices").
    Both build the IDENTICAL string (tokens are whitespace-free, so the
    single-space join is the same bytes) — the oracle formulation is
    untouched.
    """
    toks = whitespace_tokens(normalize_text(F.col(text_col)))
    if k >= 13:
        gram = f"array_join(slice(_toks, i, {k}), ' ')"
    else:
        parts = ", ".join(f"element_at(_toks, i + {j})" for j in range(k))
        gram = f"concat_ws(' ', {parts})"
    shingle_arr = F.expr(
        f"CASE WHEN size(_toks) >= {k} THEN "
        f"transform(sequence(1, size(_toks) - {k - 1}), i -> {gram}) "
        "ELSE array() END"
    )
    return (
        # spread docs across the cluster before the CPU-heavy tokenize/hash
        # chain — a small corpus read from one file would otherwise pin the
        # whole pipeline to a single task
        docs.repartition(F.col(id_col))
        .select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode(F.array_distinct(shingle_arr)).alias("shingle"))
    )


# Universal-hash family for MinHash: h_s(x) = (a_s·x + b_s) mod p over a
# single 60-bit md5-derived base hash. p = 2^31−1 (Mersenne prime); a_s, b_s
# are seed-indexed affine constants. One md5 per shingle total — the md5-per-
# (seed, shingle) alternative costs num_hashes× the hashing and shuffles
# strings instead of ints. Both engines evaluate the identical formula.
MINHASH_P = 2_147_483_647
MINHASH_A_STEP = 104_729
MINHASH_B_STEP = 7_919


def minhash_base(col: Column) -> Column:
    """Per-shingle base hash: portable md5-int reduced mod p (Spark side)."""
    return F.pmod(portable_hash64(col), F.lit(MINHASH_P))


def minhash_base_sql(expr: str) -> str:
    """Same base hash as a DuckDB SQL expression."""
    from ..functions.hashing import portable_hash64_sql

    return f"({portable_hash64_sql(expr)} % {MINHASH_P})"


def minhash_value_sql(seed: str, base: str) -> str:
    """h_seed(base) as SQL — identical text works in DuckDB and Spark SQL."""
    return (
        f"((1 + {seed} * {MINHASH_A_STEP}) * {base} + 7 + {seed} * {MINHASH_B_STEP})"
        f" % {MINHASH_P}"
    )


def minhash_signatures(shingle_df: DataFrame, id_col: str = "doc_id", num_hashes: int = 16) -> DataFrame:
    """(doc_id, seed, minhash) — MinHash via a universal hash family over one
    portable md5-derived int per shingle.

    One shuffle total, and a narrow one: the base hashes (bigints, not
    shingle strings) are collected per doc, then all ``num_hashes`` minima
    are evaluated as a single array expression in the projection — the
    explode-by-seed alternative would shuffle num_hashes× the shingle rows.
    Base-hash collisions mod p merge identically on both engines (min over
    the merged set), so oracle parity holds even in the 2^-31 corner.
    """
    sig_arr = F.expr(
        f"transform(sequence(0, {num_hashes - 1}), "
        f"s -> array_min(transform(_shs, x -> {minhash_value_sql('s', 'x')})))"
    )
    return (
        shingle_df.select(F.col(id_col), minhash_base(F.col("shingle")).alias("_h"))
        .groupBy(id_col)
        .agg(F.collect_set("_h").alias("_shs"))
        .select(F.col(id_col), F.posexplode(sig_arr).alias("seed", "minhash"))
    )


def band_signatures(
    sigs: DataFrame, id_col: str = "doc_id", rows_per_band: int = 4
) -> DataFrame:
    """(id, band, band_sig) — ordered concat of each band's minhashes; the
    bucketing key for every LSH consumer (pair generation, incremental
    probes). One hash aggregate over the signature rows."""
    return (
        sigs.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                    lambda s: s["minhash"].cast("string"),
                ),
                ",",
            ).alias("band_sig")
        )
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band signature become candidate pairs.

    Band signature = ordered concat of the band's minhashes; the band
    count is the signature length over ``rows_per_band``. Pairs are
    generated per bucket by a single hash aggregation (collect ids, emit
    i<j combinations with a higher-order expression) — one pass over the
    signatures, no self-join, no lineage recompute. Returns distinct
    (doc_a < doc_b) pairs.

    ``max_bucket_size`` caps degenerate buckets (e.g. boilerplate-heavy
    corpora where thousands of docs share a band): buckets above the cap
    are dropped, trading recall for bounded quadratic blowup — leave None
    for exact LSH semantics.
    """
    banded = band_signatures(sigs, id_col, rows_per_band)
    buckets = (
        banded.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> "
                "struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def stop_shingles(
    shingle_df: DataFrame, max_doc_freq: int, id_col: str = "doc_id"
) -> DataFrame:
    """Drop shingles appearing in more than ``max_doc_freq`` docs before any
    shingle-keyed join — the skew guard for boilerplate-heavy corpora where
    one shingle ("all rights reserved") would route millions of rows to one
    reducer. Changes Jaccard semantics (documented recall trade: common
    shingles carry little signal anyway); sizes must be computed AFTER the
    filter so the ratio stays consistent."""
    freq = shingle_df.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    keep = freq.filter(F.col("_df") <= max_doc_freq).select("shingle")
    return shingle_df.join(keep, "shingle", "left_semi")


def jaccard_pairs(
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.2,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity pairs (doc_a < doc_b, jac ≥ threshold).

    Intersection via shingle equi-join (shuffle on shingle — high-frequency
    shingles are the skew risk; pass ``max_doc_freq`` to drop stop-shingles
    first). Union via |A|+|B|−∩. If ``candidates`` (e.g. from LSH) is
    given, verification is restricted to those pairs.
    """
    if max_doc_freq is not None:
        shingle_df = stop_shingles(shingle_df, max_doc_freq, id_col)
    sizes = shingle_df.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if candidates is not None:
        # candidate-first: restrict BOTH shingle sides to docs that appear in
        # a candidate pair before the intersection join — at scale the
        # candidate set is tiny relative to the corpus, so the quadratic
        # co-shingle join only ever sees LSH-surviving docs
        docs_a = candidates.select(F.col("doc_a").alias(id_col)).distinct()
        docs_b = candidates.select(F.col("doc_b").alias(id_col)).distinct()
        side_a = shingle_df.join(docs_a, id_col, "left_semi")
        side_b = shingle_df.join(docs_b, id_col, "left_semi")
    else:
        side_a = side_b = shingle_df
    a = side_a.alias("a")
    b = side_b.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["doc_a", "doc_b"], "left_semi")
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            (F.floor((F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))) * 10000) / 10000),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


class NearDupChain:
    """Named stages of :func:`near_dup_chain`: ``sh`` (doc_id, shingle),
    cached; ``sigs`` (doc_id, seed, minhash), uncached; ``cands``, the LSH
    candidate pairs (doc_a < doc_b), cached; ``near``, the verified pairs
    (doc_a, doc_b, jaccard), uncached and built on first read, because
    building the verify plan costs Catalyst analysis time that callers
    reading only the earlier stages should not pay."""

    def __init__(self, shingle_df: DataFrame, threshold: float) -> None:
        self.sh = shingle_df.cache()
        self.sigs = minhash_signatures(self.sh)
        self.cands = lsh_candidate_pairs(self.sigs).cache()
        self._threshold = threshold

    @cached_property
    def near(self) -> DataFrame:
        return jaccard_pairs(self.sh, threshold=self._threshold, candidates=self.cands)


def near_dup_chain(shingle_df: DataFrame, *, threshold: float = 0.5) -> NearDupChain:
    """The one near-duplicate chain: shingles → 16 MinHashes → LSH
    candidates from 4 bands of 4 rows → Jaccard verify at ``threshold``.
    Returns every stage by name, so a caller that needs the candidate set
    (recall audits) or the signatures (estimator audits) reads it off the
    same chain instead of rebuilding it.

    Caching rule: a stage the chain itself reads more than once is cached.
    ``sh`` feeds the signatures, the shingle counts and both verify sides;
    ``cands`` feeds both side prunes and the final pair semi-join.
    ``sigs`` is read once here and ``near`` not at all; both stay
    uncached — a caller that reads them more than once caches them
    itself."""
    return NearDupChain(shingle_df, threshold)


def doc_bands(shingle_df: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) of a shingle frame, with the chain's 16
    hashes in 4 bands of 4: the LSH index row shape that persisted band
    stores hold and micro-batch probes compute. Nothing is cached: inside
    ``foreachBatch`` a per-batch cache entry would outlive its batch."""
    return band_signatures(minhash_signatures(shingle_df))


def canonical_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_df: DataFrame | None = None,
) -> tuple:
    """The shared front half of :func:`dedup_corpus` and
    :func:`dedup_corpus_cc`: exact canonicals, then :func:`near_dup_chain`
    over the canonicals' shingles. Returns ``(docs_c, near)`` — the
    canonical-doc frame and the verified pair frame. Callers auditing
    several keep-one policies over one corpus snapshot (x_dedup_residual)
    compute this once and pass it to each policy via ``prepared=``
    instead of re-deriving the candidate chain per policy.

    Every cached frame here (the canonical ids, and the chain's shingles
    and candidates) is MEMORY_AND_DISK with LRU eviction and bounded by
    the token or verified-pair count, never corpus². A long-lived session
    recycling many corpus snapshots should run each one inside an
    ``io.query_scope``, which releases them on exit."""
    groups = exact_dedup_groups(docs, "doc_id", text_col)
    # The canonical-id list feeds the shingle prune and docs_c's
    # semi-join, which dedup_corpus's final anti-join re-executes per
    # action; uncached, each of those re-runs the full-text md5
    # aggregate. It is cached rather than docs_c because it is narrow:
    # one id per distinct text, against the raw corpus rows.
    canon_ids = groups.select(F.col("canonical_id").alias("doc_id")).cache()
    docs_c = docs.join(canon_ids, "doc_id", "left_semi")
    if shingle_df is not None:
        sh = shingle_df.join(docs_c.select("doc_id"), "doc_id", "left_semi")
    else:
        sh = shingles(docs_c, "doc_id", text_col)
    return docs_c, near_dup_chain(sh, threshold=threshold).near


def dedup_corpus(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_df: DataFrame | None = None,
    prepared: tuple | None = None,
) -> DataFrame:
    """End-to-end keep-one dedup pass: exact canonicals → MinHash/LSH
    near-dup pairs among canonicals → drop the higher id of each verified
    pair. Returns the surviving ids (one column, ``doc_id``).

    The single-hop drop rule (doc_b of every pair) is the standard
    large-scale approximation of connected-component dedup — transitive
    chains A~B~C keep A and may keep C if A≁C; a full union-find is
    iterative and reserved for offline compaction. Every stage is the
    shuffle-lean pipeline documented on the operators above.

    ``shingle_df``: optional precomputed ``(doc_id, shingle)`` frame for a
    SUPERSET of ``docs`` (it is semi-join-pruned to the canonical ids
    here). Pipelines that shingle the corpus for several consumers —
    contamination probe + dedup in the curation capstones — compute the
    shingle frame once, cache/checkpoint it, and pass it in instead of
    re-tokenizing the corpus per stage. ``prepared``: optional
    ``(docs_c, near)`` from :func:`canonical_near_pairs`, shared across
    several policy runs.
    """
    docs_c, near = prepared if prepared is not None else canonical_near_pairs(
        docs, text_col, threshold, shingle_df
    )
    drop = near.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs_c.join(drop, "doc_id", "left_anti").select("doc_id")


def connected_components(
    pairs: DataFrame,
    max_iter: int = 30,
    small_graph_threshold: int = 500_000,
) -> DataFrame:
    """Duplicate-cluster assignment: (doc_id, cluster_id) for every doc that
    appears in a near-dup pair, where cluster_id = min doc id reachable in
    the pair graph — the full union-find `dedup_corpus`'s single-hop rule
    approximates (see its docstring).

    Algorithm: alternating star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14). Each round rewrites the
    EDGE SET rather than propagating labels:

      large-star  — every node connects its strictly-LARGER neighbors to
                    the min of its closed neighborhood;
      small-star  — every node connects its smaller neighbors (and itself)
                    to that min.

    Both steps preserve connectivity exactly (every new edge joins two
    nodes of one component; every old edge's endpoints stay linked through
    the min), monotonically pull edges toward component minima, and reach
    the fixed point — a forest of stars centered on each component's min
    id — in O(log n) rounds. Label PROPAGATION by contrast needs O(graph
    diameter) rounds: fine for clique-ish LSH-bucket graphs, but a DBSCAN
    core-core graph (density chains walking a curve through the projected
    plane) can stay unconverged at any fixed round cap — a
    silent-truncation hazard, since chain diameter grows with the data.

    Round cost: 4 keyed shuffles (two groupBy-min aggs, two distincts) on
    a frame that never exceeds the input edge count, and — every SECOND
    round (star contraction tolerates extra rounds, so probing every other
    round halves the driver-side action count) — ONE scalar driver
    action: count plus TWO order-insensitive edge checksums
    (bit_xor(xxhash64(a,b)) and bit_xor(xxhash64(b,a,42)); a simultaneous
    collision on both independent hashes, ~2^-128, is the accepted risk
    of declaring convergence from checksums). That action also
    materializes the intervening rounds' LAZY localCheckpoints, so
    lineage is truncated to a leaf at no extra job — an eager checkpoint
    would re-plan and re-run each round as a separate job. Superseded round
    RDDs are freed by the ContextCleaner as Python drops the refs. At
    100 TB the edge table holds only docs that occur in a pair — tiny
    next to the corpus — and the star rewrites keep it shrinking toward
    one row per non-center node.

    Self-pairs (doc_a == doc_b) are honored: a node whose only evidence
    is a self-pair appears in the output as its own singleton cluster
    (node, node). An empty edge set short-circuits: no star rounds run.

    ``max_iter`` is a backstop only: 30 rounds cover any graph a 2^30
    diameter could produce; a non-converged exit warns loudly instead of
    silently returning partial clusters.

    Small-graph fast path: when the deduped edge count is at most
    ``small_graph_threshold`` (default 500k edges ≈ tens of MB on the
    driver), the edges are pulled to the driver via Arrow and labeled by
    union-find-by-min in one pass — exactly the size-adaptive strategy
    Spark itself applies with its broadcast threshold. Scheduling
    star-round jobs over a few thousand edges costs far more than the
    labeling itself; the dedup/DBSCAN pair graphs are SPARSE BY
    CONSTRUCTION (only docs that collide in an LSH band / share a grid
    cell emit pairs), so even multi-TB corpora commonly land under the
    threshold. Above it, the distributed star rounds run unchanged; pass
    ``small_graph_threshold=0`` to force them (the stress tests do).
    """
    # canonical undirected edges (a < b). localCheckpoint (eager), not
    # cache: the UPSTREAM pair-generation lineage (LSH self-joins,
    # grid-cell neighbor joins, knn graphs — all self-referencing trees)
    # would otherwise be re-printed exponentially in every round's plan
    # string, which can exhaust driver memory before any data moves (the
    # dbscan chain did). Truncating to a leaf makes
    # each round's plan O(1) regardless of how the caller built the pairs.
    e0 = (
        pairs.select(
            F.least(F.col("doc_a"), F.col("doc_b")).alias("a"),
            F.greatest(F.col("doc_a"), F.col("doc_b")).alias("b"),
        )
        .distinct()
        .localCheckpoint()
    )
    # self-pairs are connectivity evidence for a singleton cluster, not
    # edges: split them off the checkpointed leaf (cheap re-scan) and
    # union them back into the final labeling below
    selfs = e0.filter(F.col("a") == F.col("b")).select("a")
    e = e0.filter(F.col("a") != F.col("b"))
    # ONE job on the checkpointed leaf both gates and (in the common case)
    # fetches: limit(threshold+1) can only return more than `threshold`
    # rows when the edge set is genuinely too big for the driver, and a
    # 0-row fetch means an empty (or self-only) pair set — skip the rounds
    spark = pairs.sparkSession
    pdf = e.limit(small_graph_threshold + 1).toPandas()
    if len(pdf) == 0:
        return selfs.select(
            F.col("a").alias("doc_id"), F.col("a").alias("cluster_id")
        ).distinct()
    if len(pdf) <= small_graph_threshold and small_graph_threshold > 0:
        # driver union-find-by-min over the Arrow-fetched edge list:
        # bounded by the threshold (≈ tens of MB), one pass, exact. The
        # root of every tree is the component min because a union always
        # attaches the larger root under the smaller.
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        nodes = set(pdf["a"].tolist()) | set(pdf["b"].tolist())
        node_type = e.schema[0].dataType
        node_labels = spark.createDataFrame(
            [(x, find(x)) for x in nodes],
            T.StructType(
                [
                    T.StructField("node", node_type),
                    T.StructField("label", node_type),
                ]
            ),
        )
    else:
        def _star_round(edges):
            """One large-star + small-star contraction (Kiveris et al.,
            "Connected Components in MapReduce and Beyond", SoCC'14)."""
            nb = edges.unionByName(
                edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
            ).select(F.col("a").alias("u"), F.col("b").alias("v"))
            # large-star: m(u) = min(closed neighborhood); larger neighbors
            # v > u re-attach as (m, v) — m <= u < v keeps the a < b
            # invariant. No distinct here: duplicates don't change
            # the small-star min and are swept by e2's distinct, so the
            # round costs 3 keyed shuffles instead of 4.
            m = nb.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
            e1 = (
                nb.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("m").alias("a"), F.col("v").alias("b"))
            )
            # small-star on the oriented (smaller a, larger b) edges: each b
            # re-attaches its smaller neighbors (and itself) to min(a)
            m2 = e1.groupBy("b").agg(F.min("a").alias("m"))
            return (
                e1.join(m2, "b")
                .filter(F.col("a") != F.col("m"))
                .select(F.col("m").alias("a"), F.col("a").alias("b"))
                .unionByName(m2.select(F.col("m").alias("a"), F.col("b").alias("b")))
                .distinct()
                .localCheckpoint(eager=False)
            )

        def _edge_stats(edges):
            st = edges.agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(a, b))").alias("h1"),
                F.expr("bit_xor(xxhash64(b, a, 42))").alias("h2"),
            ).collect()[0]
            return (st["n"], st["h1"], st["h2"])

        prev_stats = None
        converged = False
        for rnd in range(max_iter):
            e = _star_round(e)
            # probe convergence every 2nd round only: the collect also
            # materializes the intervening round's lazy checkpoint, so odd
            # rounds cost zero driver actions. A stats match 2 rounds
            # apart is then CONFIRMED by one more round below — so the
            # fixed-point certificate does not depend on the (true, but
            # comment-grade) no-2-cycle argument from the contraction's
            # monotone potential; a periodic orbit would change the stats
            # on the confirm round and the loop keeps iterating.
            if rnd % 2 == 0:
                continue
            stats = _edge_stats(e)
            if stats == prev_stats:
                e = _star_round(e)
                if _edge_stats(e) == stats:
                    converged = True
                    break
            prev_stats = stats
        if not converged:
            import warnings

            warnings.warn(
                f"connected_components: edge set still changing after {max_iter} "
                "star rounds — cluster ids may be partial (raise max_iter)",
                RuntimeWarning,
                stacklevel=2,
            )
        # stars -> labels: members point at their center; centers label
        # themselves. min() guards the (warned) non-converged exit, where a
        # node can still appear under several candidate centers.
        node_labels = e.select(
            F.col("b").alias("node"), F.col("a").alias("label")
        ).unionByName(e.select(F.col("a").alias("node"), F.col("a").alias("label")))
    # self-pair nodes re-enter as (node, node): min() keeps the component
    # label for nodes that also have real edges, and yields a singleton
    # cluster for nodes whose only evidence was the self-pair
    return (
        node_labels
        .unionByName(selfs.select(F.col("a").alias("node"), F.col("a").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
        .select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
    )


def dedup_corpus_cc(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_df: DataFrame | None = None,
    prepared: tuple | None = None,
) -> DataFrame:
    """Component-exact keep-one dedup: like `dedup_corpus` but transitively
    correct — exact canonicals → LSH/Jaccard near-dup pairs → connected
    components → keep the min-id doc per component plus every unpaired doc.
    Returns surviving ids (one column, ``doc_id``). ``shingle_df`` shares a
    precomputed superset shingle frame exactly as in `dedup_corpus`;
    ``prepared`` shares a `(docs_c, near)` pair from
    :func:`canonical_near_pairs`."""
    docs_c, near = prepared if prepared is not None else canonical_near_pairs(
        docs, text_col, threshold, shingle_df
    )
    clusters = connected_components(near)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs_c.join(drop, "doc_id", "left_anti").select("doc_id")


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """(doc_id, simhash) — n-bit SimHash over whitespace tokens.

    Classic bit-vote: for each bit b, sum ±1 over token hashes' bit b; the
    sign packs into the signature. Pure expression pipeline (explode →
    bit-extract → two hash aggregates), portable to the oracle.
    """
    toks = docs.repartition(F.col(id_col)).select(
        F.col(id_col),
        F.explode(whitespace_tokens(normalize_text(F.col(text_col)))).alias("tok"),
    ).withColumn("h", portable_hash64(F.col("tok")))
    bits_df = toks.select(
        id_col,
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
    ).withColumn("vote", F.expr("cast((shiftright(h, b) & 1) * 2 - 1 as int)"))
    return (
        bits_df.groupBy(id_col, "b")
        .agg(F.sum("vote").alias("v"))
        .withColumn(
            "bit",
            F.expr(
                "case when v > 0 then shiftleft(cast(1 as bigint), b) else cast(0 as bigint) end"
            ),
        )
        .groupBy(id_col)
        .agg(F.sum("bit").cast("bigint").alias("simhash"))
    )


def simhash_near_pairs(
    sig: DataFrame, id_col: str = "doc_id", bits: int = 16, max_hamming: int = 2
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidate generation by half-signature banding (pigeonhole guarantees
    recall for hamming ≤ 1 per half; with max_hamming=2 this is the standard
    probabilistic trade — documented, and verification is exact)."""
    half = bits // 2
    mask = (1 << half) - 1
    banded = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("part"), F.col("simhash").bitwiseAND(F.lit(mask)).alias("key")),
                F.struct(F.lit(1).alias("part"), F.shiftright(F.col("simhash"), half).alias("key")),
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.part", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.part") == F.col("b.part")) & (F.col("a.key") == F.col("b.key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def contamination_scores(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    train_shingles: DataFrame | None = None,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark-contamination check: for every training document, the
    fraction of its distinct k-word shingles that appear anywhere in the
    eval/benchmark set — the standard n-gram-overlap decontamination pass a
    training-data pipeline runs before a model ever sees the corpus.

    Scale design: the two sides are wildly asymmetric — benchmarks are
    thousands of documents while the training corpus is billions — so the
    eval side reduces to its DISTINCT shingle set and is broadcast. The
    training side then never shuffles for the membership probe (map-side
    hash lookup), and the only Exchange is the partial-aggregated
    groupBy(doc_id). Documents with fewer than k tokens have no shingles
    and are vacuously clean (absent from the output), mirroring the
    shingle-based dedup operators above.

    ``train_shingles``/``eval_shingles``: optional precomputed shingle
    frames for EXACTLY the respective doc sets — the shared-shingle hook
    the curation capstones use to tokenize the corpus once across the
    contamination and dedup stages.
    """
    tr = (
        train_shingles
        if train_shingles is not None
        else shingles(train, id_col, text_col, k)
    )
    ev = (
        (
            eval_shingles
            if eval_shingles is not None
            else shingles(eval_docs, id_col, text_col, k)
        )
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        tr.join(F.broadcast(ev), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"),
        )
        .withColumn(
            "contamination",
            F.floor((F.col("n_overlap") / F.col("n_shingles")) * 10000) / 10000,
        )
    )


def dup_ngram_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    drop_threshold_milli: int = 300,
) -> DataFrame:
    """Approximate substring-dedup signal: per document, the fraction of its
    distinct k-gram (k=8 word) shingles that also occur in at least one OTHER
    document — the per-doc duplicated-n-gram rate used to drop boilerplate-
    heavy pages (the aggregate form of exact-substring dedup a la
    "Deduplicating Training Data Makes Language Models Better": instead of
    excising the repeated spans, documents past a duplication threshold are
    dropped whole).

    Scale design: one explode → hash each shingle to the portable 60-bit
    int (8-byte shuffle keys instead of ~56-byte 8-word strings) → ONE
    count-window partitioned by the hash → per-doc aggregate. An agg+join
    shape would compile the corpus-wide shingle explode TWICE (the counts
    aggregate and the join probe each re-derive it) and, under AQE,
    broadcast a multi-million-row counts table; the window form explodes
    once and never builds a counts table at all. Hash collisions are result-identical across engines because
    the oracle counts over the SAME md5-derived hash. Docs with fewer
    than k tokens have no k-grams and are vacuously clean (absent),
    matching the other shingle operators.
    """
    from pyspark.sql import Window

    from ..functions.hashing import portable_hash64

    sh = shingles(docs, id_col, text_col, k).select(
        F.col(id_col),
        portable_hash64(F.concat(F.lit("dng:"), F.col("shingle"))).alias("sh64"),
    )
    w = Window.partitionBy("sh64")
    rate = F.floor(F.lit(1000) * F.col("n_dup") / F.col("n_shingles")).cast("bigint")
    return (
        sh.withColumn("_ndocs", F.count(F.lit(1)).over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("_ndocs") >= 2).cast("bigint")).alias("n_dup"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_dup",
            rate.alias("dup_rate_milli"),
            (rate >= drop_threshold_milli).alias("drop_doc"),
        )
    )


def containment_pairs(
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric shingle containment C(A→B) = |A∩B| / |A| — the
    subset/quote-duplication signal Jaccard misses: a short doc quoted
    whole inside a much longer one has low Jaccard (union is huge) but
    containment ≈ 1.0 from the short side. Emits (doc_a, doc_b, cont_a,
    cont_b) where either direction ≥ ``threshold``; containment ≥ Jaccard
    always, so every Jaccard-dup pair survives too.

    Same candidate-first scale shape as :func:`jaccard_pairs`: with an LSH
    ``candidates`` frame both shingle sides are left-semi pruned before the
    quadratic co-shingle join. (MinHash LSH under-recalls asymmetric pairs
    by construction — at production scale the candidate index for
    containment would band the SHORTER side's signature; the verify stage
    here is index-agnostic.) Ratios are floor-truncated onto the 1e-4 grid
    from exact integer counts, so cross-engine parity is exact.
    """
    sizes = shingle_df.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if candidates is not None:
        docs_a = candidates.select(F.col("doc_a").alias(id_col)).distinct()
        docs_b = candidates.select(F.col("doc_b").alias(id_col)).distinct()
        side_a = shingle_df.join(docs_a, id_col, "left_semi")
        side_b = shingle_df.join(docs_b, id_col, "left_semi")
    else:
        side_a = side_b = shingle_df
    a = side_a.alias("a")
    b = side_b.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["doc_a", "doc_b"], "left_semi")
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    grid = lambda c: F.floor(c * 10000) / 10000  # noqa: E731
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("cont_a", grid(F.col("inter") / F.col("sz_a")))
        .withColumn("cont_b", grid(F.col("inter") / F.col("sz_b")))
        .filter((F.col("cont_a") >= threshold) | (F.col("cont_b") >= threshold))
        .select("doc_a", "doc_b", "cont_a", "cont_b")
    )


def duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Exact-substring dedup SPANS — the excision form of substring dedup
    ("Deduplicating Training Data Makes Language Models Better"): instead
    of dropping whole documents past a duplication threshold
    (:func:`dup_ngram_stats`), emit the maximal duplicated token spans of
    each document so a curation pass can cut the spans and keep the rest.

    Semantics: a position ``p`` (1-based token index) is duplicated when
    its k-gram occurs >= 2 times anywhere in the corpus — including a
    second occurrence inside the SAME document (self-repeats are
    boilerplate too, same as the suffix-array formulation). Overlapping
    or adjacent duplicated ranges ``[p, p+k-1]`` merge into one span.

    Scale shape: positional k-grams keep (doc, p) per occurrence (no
    per-doc distinct — positions matter); grams hash to the portable
    60-bit int before the one count-window shuffle (8-byte keys, and the
    oracle hashes identically so collisions cancel); the span merge is
    the gaps-and-islands pattern — a running max over PRECEDING rows per
    doc, all keyed windows, no single-partition stage and no join.
    Output: (doc_id, span_start, span_end, n_dup_grams) with token
    indices inclusive.
    """
    from pyspark.sql import Window

    from ..functions.hashing import portable_hash64

    toks = whitespace_tokens(normalize_text(F.col(text_col)))
    parts = ", ".join(f"element_at(_toks, i + {j})" for j in range(k))
    gram_arr = F.expr(
        f"CASE WHEN size(_toks) >= {k} THEN "
        f"transform(sequence(1, size(_toks) - {k - 1}), "
        f"i -> struct(i AS p, concat_ws(' ', {parts}) AS g)) "
        "ELSE array() END"
    )
    pg = (
        docs.repartition(F.col(id_col))
        .select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode(gram_arr).alias("pg"))
        .select(
            F.col(id_col),
            F.col("pg.p").alias("p"),
            portable_hash64(F.concat(F.lit("ds:"), F.col("pg.g"))).alias("g64"),
        )
    )
    wg = Window.partitionBy("g64")
    dup = pg.withColumn("_n", F.count(F.lit(1)).over(wg)).filter(F.col("_n") >= 2)
    wd = Window.partitionBy(id_col).orderBy("p")
    prev_end = F.max(F.col("p") + (k - 1)).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dup.select(
        F.col(id_col),
        "p",
        F.when(prev_end.isNull() | (F.col("p") > prev_end + 1), 1)
        .otherwise(0)
        .alias("_new"),
    ).withColumn(
        "_island",
        F.sum("_new").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy(id_col, "_island")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + (k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_dup_grams")
    )


def soft_dedup_weights(
    docs: DataFrame, members: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicates (keep-one,
    dedup_corpus_cc above), keep every document and DOWNWEIGHT each by its
    duplicate-cluster size — the SoftDeDup / D4-style reweighting used when
    a training pipeline wants the sampling distribution corrected without
    losing coverage (a cluster of n near-identical docs contributes total
    mass ~1 instead of n).

    ``members`` is a (doc_id, cluster_id) frame from connected_components;
    docs absent from it are singletons (weight 1.0). Weights live on an
    integer 1e-6 grid (1_000_000 div cluster_size) so cross-engine parity
    is exact.

    Scale shape: one hash agg over the members frame (tiny — only docs in
    ≥1 near-dup pair), one broadcast-size join back, one left join against
    the corpus keyed by doc_id. The corpus itself is never shuffled beyond
    that join; at cluster scale with the corpus bucketed by doc_id the
    left join is co-located.
    """
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    m = members.join(sizes, "cluster_id").select(id_col, "cluster_size")
    return (
        docs.select(id_col)
        .join(m, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long").alias("cluster_size"),
            F.expr("CAST(1000000 DIV coalesce(cluster_size, 1) AS BIGINT)").alias(
                "weight_micro"
            ),
        )
    )

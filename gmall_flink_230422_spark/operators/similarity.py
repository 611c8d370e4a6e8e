"""Similarity search over embedding columns (LLM-pipeline extension).

``embeddings`` table: vec_id bigint, embedding array<float>, label int.

Scale design: the brute-force path broadcasts the *query* vector (never the
corpus) and evaluates the dot product JVM-side with higher-order array
functions — no Python, no collect; top-k via rank-limit which Spark executes
as per-partition partial top-k + final merge. The bucketed path (sign-LSH)
prunes candidates by a leading-dims sign signature before scoring — the
bucket id is a cheap deterministic expression, so at 100 TB the scoring join
touches only the query's bucket (partition-prunable if the corpus is written
bucketed/partitioned by ``bucket``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as double, sequential fold — deterministic and portable."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm (or empty) vector yields NULL similarity — the
    # DuckDB oracle's divide-by-zero semantics — instead of an ANSI-mode
    # DIVIDE_BY_ZERO abort killing the whole job over one degenerate row;
    # downstream consumers treat NULL with SQL aggregate/comparison
    # semantics (never selected, skipped in max) — see mmr_rerank's kernel.
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Baseline ANN: exact cosine top-k via broadcast of the query vector(s).

    Output: (query_id, vec_id, cos_sim) — cos rounded to 4 dp with vec_id
    tiebreak so ranking is exactly reproducible in the oracle.
    """
    q = query.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    scored = corpus.join(F.broadcast(q), F.col(id_col) != F.col("query_id")).select(
        "query_id",
        id_col,
        (F.floor((cosine(F.col(vec_col), F.col("qvec"))) * 10000) / 10000).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def sign_bucket(vec: Column, dims: int = 8) -> Column:
    """Deterministic sign-LSH bucket from the leading ``dims`` components:
    bit d set iff vec[d] > 0. Cheap, portable, and a valid random-hyperplane
    LSH when components are ~centered (true for normalized embeddings)."""
    bit_terms = [
        F.when(F.element_at(vec, d + 1) > 0, F.lit(1 << d)).otherwise(F.lit(0))
        for d in range(dims)
    ]
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out.cast("bigint")


def lsh_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    dims: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed ANN: score only corpus vectors in the query's sign bucket.

    Approximate (recall < 1) by construction; the scale win is that bucket
    assignment is computable at write time, so the scoring join becomes a
    partition-pruned scan on a 100 TB corpus.
    """
    c = corpus.withColumn("bucket", sign_bucket(F.col(vec_col), dims))
    q = query.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        sign_bucket(F.col(vec_col), dims).alias("bucket"),
    )
    scored = c.join(F.broadcast(q), "bucket").filter(
        F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        id_col,
        (F.floor((cosine(F.col(vec_col), F.col("qvec"))) * 10000) / 10000).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def ivf_centroids(
    corpus: DataFrame, n_centroids: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic IVF "training": the ``n_centroids`` lowest-id vectors
    seed the centroid set (data-derived, reproducible, oracle-expressible —
    the Lloyd-refined variant is a drop-in replacement at the cost of oracle
    checkability). Output: (cid, cvec)."""
    return (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    )


def _centroid_array(centroids: DataFrame) -> DataFrame:
    """Pack (cid, cvec) rows into ONE row holding array<struct<cid,cvec>>,
    sorted by cid (collect_list order is nondeterministic; the sort fixes
    it). The packed array broadcasts as a single small value, so downstream
    per-row argmax/top-k over centroids needs no explode and no shuffle."""
    return centroids.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("_cents")
    )


def _score6(vec: Column, cvec: Column) -> Column:
    """Centroid score: cosine floor-truncated to 6 dp (bit-stable across
    engines — same grid the oracle uses)."""
    return F.floor(cosine(vec, cvec) * 1000000) / 1000000


def ivf_assign(
    corpus: DataFrame, centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Inverted-list assignment: each vector → its max-cosine centroid
    (truncated to 6 dp, lowest-cid tiebreak — bit-stable across engines).

    At 100 TB this is the write-time step: the corpus is materialized
    partitioned by ``list_id``, so probes become partition-pruned scans.
    The argmax is evaluated per row over the broadcast centroid array with
    ``array_max`` over ``transform`` — a pure narrow map: no explode, no
    window, ZERO shuffle regardless of corpus size. ``array_max`` compares
    struct fields left-to-right, so (score, -cid) yields max score with the
    LOWEST cid on ties, matching the oracle's ORDER BY score DESC, cid.
    """
    cents = _centroid_array(centroids)
    best = F.array_max(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                _score6(F.col(vec_col), c["cvec"]).alias("_cs"),
                (-c["cid"]).alias("_ncid"),
            ),
        )
    )
    return (
        corpus.join(F.broadcast(cents))
        .withColumn("_best", best)
        .select(id_col, vec_col, (-F.col("_best._ncid")).alias("list_id"))
    )


def ivf_refine_centroids(
    assigned: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """One Lloyd iteration: new centroid = componentwise mean of the vectors
    in each inverted list. Means are floor-truncated to 1e-6 (not rounded:
    truncation of an irrational-ish sum never sits on the boundary, so the
    value is bit-identical across engines despite different summation
    orders). Empty lists drop out — both engines agree.

    Pipeline: posexplode components → one (list, pos) aggregate → re-pack
    ordered arrays. Two shuffles total, both on small keys; the component
    matrix never leaves the cluster.
    """
    comps = assigned.select(
        "list_id", F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    means = comps.groupBy("list_id", "pos").agg(
        (F.floor((F.sum(F.col("val").cast("double")) / F.count(F.lit(1))) * 1e6) / 1e6).alias("cval")
    )
    return (
        means.groupBy(F.col("list_id").alias("cid"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("cvec")
        )
    )


def ivf_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF ANN: probe the ``n_probe`` nearest inverted lists per query, score
    only vectors assigned there. Recall < 1 by construction; the scale win is
    that scoring touches n_probe/n_centroids of the corpus, and the list join
    partition-prunes when the corpus is stored partitioned by list.

    ``lloyd_iters`` k-means refinements tighten the lists before probing
    (each iteration = refine + reassign, two extra small-key shuffles; at
    100 TB run the iterations once at index-build time, not per query).
    """
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    for _ in range(lloyd_iters):
        cents = ivf_refine_centroids(assigned, id_col, vec_col)
        assigned = ivf_assign(corpus, cents, id_col, vec_col)
    return ivf_probe_topk(
        assigned, cents, query, k=k, n_probe=n_probe, id_col=id_col, vec_col=vec_col
    )


def ivf_probe_topk(
    assigned: DataFrame,
    cents: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The read-path half of IVF ANN: given a PREBUILT index — ``assigned``
    (id, vec, list_id; at scale a table stored partitioned by list_id) and
    ``cents`` (cid, cvec) — score each query against its n_probe nearest
    lists only. Split out of :func:`ivf_topk` so the index can be built once
    (write time) and probed many times (serving time / per micro-batch);
    joining the broadcast probe frame on the partition column lets dynamic
    partition pruning skip the unprobed lists at the scan.
    """
    q = query.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    # Top-n_probe lists per query via a sorted slice of the broadcast
    # centroid array — same narrow-map trick as ivf_assign (no window, no
    # shuffle). array_sort ascends, so (-score, cid) ranks score DESC with
    # lowest-cid tiebreak, exactly the oracle's ordering.
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    (-_score6(F.col("qvec"), c["cvec"])).alias("_ncs"),
                    c["cid"].alias("cid"),
                ),
            )
        ),
        1,
        n_probe,
    )
    probes = (
        q.join(F.broadcast(_centroid_array(cents)))
        .select("query_id", "qvec", F.explode(ranked).alias("_probe"))
        .select("query_id", "qvec", F.col("_probe.cid").alias("list_id"))
    )
    scored = assigned.join(F.broadcast(probes), "list_id").filter(
        F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        id_col,
        (F.floor((cosine(F.col(vec_col), F.col("qvec"))) * 10000) / 10000).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    dims: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, bucket-pruned.

    Pairs must share a sign bucket (near-identical vectors almost surely do),
    then are exact-verified by cosine ≥ threshold. Self-join is per-bucket,
    not all-pairs."""
    c = corpus.withColumn("bucket", sign_bucket(F.col(vec_col), dims))
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            (F.floor((cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))) * 10000) / 10000).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ------------------------------------------------------- product quantization
def _sub_d2(a: Column, b: Column, s: int, sub_dim: int) -> Column:
    """Squared L2 distance between subvectors ``s`` of two arrays, folded in
    ascending component order (deterministic, engine-portable), floor-
    truncated to 1e-6."""
    terms = F.transform(
        F.sequence(F.lit(0), F.lit(sub_dim - 1)),
        lambda i: (
            F.element_at(a, i + s * sub_dim + 1).cast("double")
            - F.element_at(b, i + s * sub_dim + 1).cast("double")
        )
        * (
            F.element_at(a, i + s * sub_dim + 1).cast("double")
            - F.element_at(b, i + s * sub_dim + 1).cast("double")
        ),
    )
    d2 = F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)
    return F.floor(d2 * 1e6) / 1e6


def _sub_d2_micro(a: Column, b: Column, s: int, sub_dim: int) -> Column:
    """Subspace squared L2 in integer micro-units: floor(raw_d2 * 1e6) as
    bigint, derived from the RAW double sum (never from the /1e6 grid value,
    whose re-scaling can land at x.999… and truncate one unit low)."""
    terms = F.transform(
        F.sequence(F.lit(0), F.lit(sub_dim - 1)),
        lambda i: (
            F.element_at(a, i + s * sub_dim + 1).cast("double")
            - F.element_at(b, i + s * sub_dim + 1).cast("double")
        )
        * (
            F.element_at(a, i + s * sub_dim + 1).cast("double")
            - F.element_at(b, i + s * sub_dim + 1).cast("double")
        ),
    )
    d2 = F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)
    return F.floor(d2 * 1e6).cast("bigint")


def pq_codebook(
    corpus: DataFrame, n_codes: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic PQ "training": the ``n_codes`` lowest-id vectors seed
    every subspace's codebook (same seeding convention as ivf_centroids —
    reproducible and oracle-expressible; k-means-refined codebooks are a
    drop-in upgrade at the cost of oracle checkability). Output (cid, cvec):
    centroid subvector s of codeword cid is cvec[s*sub_dim : (s+1)*sub_dim].
    """
    return (
        corpus.orderBy(id_col)
        .limit(n_codes)
        .select(F.col(id_col).cast("int").alias("cid"), F.col(vec_col).alias("cvec"))
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``n_sub`` codeword ids (nearest centroid per
    subspace by squared L2 on the 1e-6 grid, lowest-cid tiebreak).

    This is the write-time compression step: a 64-dim float vector (256 B)
    becomes n_sub small ints (8 B) — 32× smaller, so a 100 TB embedding
    corpus's code table fits in ~3 TB and scans stay memory-resident. The
    argmin is a pure narrow map over the broadcast packed codebook (array_min
    on (d2, cid) structs): no explode, no shuffle, any corpus size.
    Output: (vec_id, code) with code array<int> of length n_sub.
    """
    dim = 64  # documents fixture embedding width; parameterize via vec width upstream
    sub_dim = dim // n_sub
    packed = codebook.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("_cb")
    )
    def code_for(s: int) -> Column:
        best = F.array_min(
            F.transform(
                F.col("_cb"),
                lambda c: F.struct(
                    _sub_d2(F.col(vec_col), c["cvec"], s, sub_dim).alias("_d2"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        return best["cid"]

    codes = F.array(*[code_for(s) for s in range(n_sub)])
    return (
        corpus.join(F.broadcast(packed))
        .select(F.col(id_col), F.col(vec_col), codes.alias("code"))
    )


def pq_adc_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_codes: int = 16,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k: approx_d2(q, x) = Σ_s d2(q_s,
    codebook[code_s(x)]_s) — the query is compared against codewords, never
    against raw corpus vectors.

    Scale shape: the scoring pass reads only (vec_id, code) — the 32×-
    compressed table — plus a broadcast (query × codebook) distance table;
    per row it does n_sub array lookups and one 8-term sum. Top-k via
    per-partition partial rank + final merge (row_number window on the
    small scored side). Output: (query_id, vec_id, approx_d2) on the 1e-4
    grid, ascending-distance rank with vec_id tiebreak.
    """
    dim = 64
    sub_dim = dim // n_sub
    cb = pq_codebook(corpus, n_codes, id_col, vec_col)
    encoded = pq_encode(corpus, cb, n_sub, id_col, vec_col).select(id_col, "code")
    packed = cb.agg(F.array_sort(F.collect_list(F.struct("cid", "cvec"))).alias("_cb"))
    q = query.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    # distance "table" evaluated inline: for subspace s the encoded row's
    # codeword cid indexes the broadcast codebook (cid is its position in
    # the cid-sorted packed array only when codebook ids are 0..n-1 — true
    # for the lowest-id seeding; keep the lookup by position).
    # each sub-distance is folded to INTEGER micro-units before the cross-
    # subspace sum: summing 8 bigints is exact and order-free, where summing
    # floored doubles would still round differently across engines depending
    # on aggregation order
    def sub_term_micro(s: int) -> Column:
        cvec = F.element_at(F.col("_cb"), F.element_at(F.col("code"), s + 1) + 1)["cvec"]
        return _sub_d2_micro(F.col("qvec"), cvec, s, sub_dim)

    approx_micro = sub_term_micro(0)
    for s in range(1, n_sub):
        approx_micro = approx_micro + sub_term_micro(s)
    scored = (
        encoded.join(F.broadcast(q.join(packed)), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            (F.floor(approx_micro / 100) / 10000).alias("approx_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("approx_d2").asc(), F.col(id_col))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def random_projection_signs(
    spark, n_dirs: int = 16, dim: int = 64, salt: str = "rp"
) -> DataFrame:
    """Deterministic ±1 projection matrix as (r, j, sign) rows: sign from the
    portable hash of "salt:r:j" — both engines derive the identical matrix,
    no RNG state to ship. n_dirs × dim rows (1024 here): a broadcast-size
    table at any corpus scale."""
    from ..functions.hashing import portable_hash64

    return (
        spark.range(n_dirs)
        .withColumnRenamed("id", "r")
        .crossJoin(spark.range(dim).withColumnRenamed("id", "j"))
        .select(
            F.col("r").cast("int").alias("r"),
            F.col("j").cast("int").alias("j"),
            (
                F.pmod(
                    portable_hash64(
                        F.concat_ws(":", F.lit(salt), F.col("r"), F.col("j"))
                    ),
                    F.lit(2),
                )
                * 2
                - 1
            ).cast("int").alias("sign"),
        )
    )


def packed_projection_dirs(
    spark, n_dirs: int = 16, dim: int = 64, salt: str = "rp"
) -> DataFrame:
    """The :func:`random_projection_signs` matrix as ONE row holding
    array<struct<r, sv: array<int>>> — built entirely from nested
    sequence/transform EXPRESSIONS over the same portable hash, so the
    broadcast side has no aggregate and therefore no exchange at all
    (packing the (r, j, sign) frame with collect_list costs a
    SinglePartition exchange that, while bounded by n_dirs·dim, shows up
    as an AQE-wrapped stage in every consumer's plan audit)."""
    from ..functions.hashing import portable_hash64_spark_sql

    h = portable_hash64_spark_sql(
        f"concat_ws(':', '{salt}', cast(r as string), cast(j as string))"
    )
    return spark.range(1).select(
        F.expr(
            f"transform(sequence(0, {n_dirs - 1}), r -> struct(cast(r as int) as r, "
            f"transform(sequence(0, {dim - 1}), j -> "
            f"cast(pmod({h}, 2) * 2 - 1 as int)) as sv))"
        ).alias("_dirs")
    )


def random_projection(
    corpus: DataFrame,
    signs: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    packed: DataFrame | None = None,
) -> DataFrame:
    """Sign random projection (Achlioptas-style database-friendly JL
    transform): reduce each vector to n_dirs signed sums of its components.
    Components are quantized to integer milli-units FIRST, so every
    projection is an exact bigint sum — order-free, bit-identical across
    engines — rather than an aggregation-order-dependent float fold.

    Scale shape: the sign matrix packs into ONE broadcast row of
    per-direction sign arrays (the _centroid_array pattern); each corpus
    row computes all n_dirs projections as zip_with/aggregate folds over
    its own components — a pure narrow map with ZERO data-proportional
    shuffle (posexploding 64·N component rows through a (vec_id, r)-keyed
    hash aggregate instead makes that shuffle the whole cost of every
    projection consumer at 10⁹ vectors). The fold is sequential per
    row, so the exact-BIGINT milli sums are unchanged — bit-identical to
    the aggregate form and the oracle.

    Pass ``packed`` (from :func:`packed_projection_dirs`) to keep even
    the broadcast side exchange-free; a legacy ``signs`` (r, j, sign)
    frame is packed here with two collect_list aggregates (bounded by
    n_dirs·dim, but it costs a SinglePartition exchange).
    Output: (vec_id, r, proj_milli bigint).
    """
    if packed is None:
        if signs is None:
            raise ValueError("random_projection needs `signs` or `packed`")
        packed = signs.groupBy("r").agg(
            F.array_sort(F.collect_list(F.struct("j", "sign"))).alias("_sj")
        ).agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("r"), F.transform("_sj", lambda s: s["sign"]).alias("sv"))
                )
            ).alias("_dirs")
        )
    milli = F.transform(
        F.col(vec_col), lambda v: F.floor(v.cast("double") * 1000).cast("bigint")
    )
    # Length-mismatch contract: the fold runs over the OVERLAP of the sign
    # vector and the embedding (slice both to the shorter length) — the same
    # partial sums the legacy posexplode+join-on-j form and the DuckDB
    # oracle compute. Without the slice, zip_with null-pads the shorter
    # array and one null product nulls the whole aggregate, so any
    # non-`dim`-length vector would silently project to NULL.
    projs = F.transform(
        F.col("_dirs"),
        lambda d: F.struct(
            d["r"].alias("r"),
            F.aggregate(
                F.zip_with(
                    F.slice(d["sv"], F.lit(1), F.least(F.size(d["sv"]), F.size(milli))),
                    F.slice(milli, F.lit(1), F.least(F.size(d["sv"]), F.size(milli))),
                    lambda s, m: s.cast("bigint") * m,
                ),
                F.lit(0).cast("bigint"),
                lambda acc, t: acc + t,
            ).alias("proj_milli"),
        ),
    )
    return (
        corpus.join(F.broadcast(packed))
        .select(F.col(id_col), F.explode(projs).alias("_p"))
        .select(id_col, F.col("_p.r").alias("r"), F.col("_p.proj_milli").alias("proj_milli"))
    )


def embedding_drift(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 8,
) -> DataFrame:
    """Per-dimension distribution drift between two embedding cohorts (the
    "did my new encoder / new crawl shift the embedding space?" monitor a
    production pipeline runs before mixing snapshots).

    Cohorts are the deterministic id-parity split (even ids = base snapshot,
    odd = candidate); the drift statistic per dimension is the absolute
    difference of cohort means. Parity is pure integer arithmetic: components
    quantize to milli-units (exact — a float24 mantissa ×1000 fits a double),
    cohort sums are order-free bigints, and mean comparison uses
    cross-multiplication |sum_a·cnt_b − sum_b·cnt_a| instead of division, so
    no float rounding anywhere.

    Scale shape: posexplode → one hash aggregate keyed by dimension (64
    keys, partial/final), then TakeOrdered top-k — no window, no collect.
    Exactness bound: |sum|·cnt < 2⁶³ requires cohorts under ~3·10⁹ vectors
    (milli-components ≤ |v|·1000 ≈ 1e3 ⇒ n²·10³ < 9.2e18). Past that,
    pre-aggregate per shard and compare on a coarser shared grid (divide
    both sums by a common 2^s before the cross-multiply) — the monitor's
    ranking only needs the coarse grid once counts are that large.
    Output: (dim, cnt_a, cnt_b, sum_a, sum_b, drift_num), top_k by drift.
    """
    comps = corpus.select(
        ((F.col(id_col) % 2) == 0).alias("is_base"),
        F.posexplode(F.col(vec_col)).alias("jpos", "val"),
    ).select(
        "is_base",
        F.col("jpos").cast("int").alias("dim"),
        F.floor(F.col("val").cast("double") * 1000).cast("bigint").alias("milli"),
    )
    agg = comps.groupBy("dim").agg(
        F.count(F.when(F.col("is_base"), 1)).alias("cnt_a"),
        F.count(F.when(~F.col("is_base"), 1)).alias("cnt_b"),
        F.sum(F.when(F.col("is_base"), F.col("milli")).otherwise(F.lit(0))).alias("sum_a"),
        F.sum(F.when(~F.col("is_base"), F.col("milli")).otherwise(F.lit(0))).alias("sum_b"),
    )
    scored = agg.select(
        "dim", "cnt_a", "cnt_b", "sum_a", "sum_b",
        F.abs(F.col("sum_a") * F.col("cnt_b") - F.col("sum_b") * F.col("cnt_a")).alias("drift_num"),
    )
    return scored.orderBy(F.col("drift_num").desc(), F.col("dim")).limit(top_k)


def mmr_probe_partitions(n_queries: int, k_candidates: int) -> int:
    """Partition count for mmr_rerank's pruned candidate frame:
    ceil(k_candidates·|Q| / 1e6) — ~1e6 rows (tens of MB with a float
    embedding column) per partition, so the greedy loop's k_select−1
    sequential jobs schedule a handful of right-sized tasks at any |Q|
    instead of either one giant partition or thousands of 2-row ones."""
    return max(1, -(-(n_queries * k_candidates) // 1_000_000))


def mmr_candidates(
    corpus: DataFrame,
    query: DataFrame,
    k_candidates: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_partitions: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """mmr_rerank's pruned per-query candidate frame: broadcast relevance
    scoring, windowed top-k_candidates prune, then a coalesce sized by
    mmr_probe_partitions (or the caller's explicit ``probe_partitions``)
    so the greedy loop's partition count scales with k·|Q|. Split out so
    the sizing is directly testable (getNumPartitions on the result)."""
    q = query.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    if probe_partitions is None:
        if n_queries is None:
            n_queries = q.count()
        probe_partitions = mmr_probe_partitions(n_queries, k_candidates)
    rel = corpus.join(F.broadcast(q), F.col(id_col) != F.col("query_id")).select(
        "query_id",
        F.col(id_col),
        F.col(vec_col).alias("cvec"),
        F.floor(cosine(F.col(vec_col), F.col("qvec")) * 10000).cast("bigint").alias("rel"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col(id_col))
    return (
        rel.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k_candidates)
        .drop("rk")
        # k_candidates rows per query by construction — collapse the pruned
        # frame so the k_select-1 sequential greedy jobs schedule a handful
        # of right-sized tasks/stage instead of either one giant partition
        # or a full shuffle-partition fan-out of 2-row tasks.
        .coalesce(max(1, probe_partitions))
    )


def mmr_rerank(
    corpus: DataFrame,
    query: DataFrame,
    k_candidates: int = 16,
    k_select: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_partitions: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein '98):
    rerank each query's relevance candidates so the selected set trades
    relevance against redundancy — the retrieval-diversity stage RAG
    pipelines run after ANN, and the classic fix for near-duplicate hits.

    score(c) = 2·rel(c) − max_{s∈selected} sim(c, s)  (λ = 0.5, ×2 keeps the
    arithmetic in exact decimilli integers; rank 1 is pure relevance). Both
    rel and sim live on the floor(cos·10⁴) grid, so selection order is
    bit-reproducible cross-engine with the (score desc, id) tiebreak.

    Scale shape: the expensive part — corpus scoring — is the broadcast
    brute-force pass (or any ANN front-end); everything after operates on
    k_candidates rows per query: one windowed prune, one candidate×candidate
    self-join (k² per query, never corpus²), then ONE Arrow-batched
    grouped-map that runs the inherently-sequential greedy selection per
    query_id group over the ≤k² pre-computed integer sims. A join-loop
    form schedules k_select−1 GLOBAL stage barriers — at 10⁶ queries
    every step waits on the slowest straggler; the
    grouped map is one shuffle keyed by query_id, embarrassingly parallel
    across queries, with per-group work bounded by k². All sims/rels are
    pre-computed JVM-side on the decimilli grid, so the Python kernel
    touches only int64s — bit-identical to the join-loop and the oracle.
    Output: (query_id, sel_rank, vec_id, mmr_score).

    ``probe_partitions`` sizes the pruned candidate frame feeding the
    pairwise self-join: auto ceil(k_candidates·|Q| / 1e6) — ~1e6
    post-prune rows per partition — so a 10⁶-query batch neither builds
    the k² frame on one partition nor fans tiny queries across thousands.
    |Q| comes from ``n_queries`` when the caller already knows it;
    otherwise one count() job on the (small, broadcast-bound) query
    frame. Pass ``probe_partitions`` explicitly to skip both.
    """
    # cand feeds THREE consumers (both sides of the pairwise self-join and
    # the grouped-map input's left side); uncached, Catalyst recompiled —
    # and the executor re-RAN — the dominant broadcast-scoring + window-
    # prune subtree once per consumer (PLANS.md max_scan_repeat=3).
    # cache() collapses them onto one InMemoryRelation: the scoring pass
    # executes once, and the cached frame is k_candidates·|Q| pruned rows
    # (bounded), not the corpus.
    cand = mmr_candidates(
        corpus, query, k_candidates, id_col, vec_col, probe_partitions, n_queries
    ).cache()
    pw = (
        cand.alias("a")
        .join(
            cand.alias("b"),
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col(f"a.{id_col}").alias("cand_id"),
            F.col("a.rel").alias("rel"),
            F.col(f"b.{id_col}").alias("other_id"),
            F.floor(cosine(F.col("a.cvec"), F.col("b.cvec")) * 10000)
            .cast("bigint")
            .alias("sim"),
        )
    )
    # left join keeps single-candidate queries (no pair rows) in the
    # group stream: they still emit their rank-1 pick
    gm_in = cand.select("query_id", F.col(id_col), "rel").join(
        pw.select("query_id", F.col("cand_id").alias(id_col), "other_id", "sim"),
        ["query_id", id_col],
        "left",
    )
    q_type = cand.schema["query_id"].dataType
    id_type = cand.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", q_type),
            T.StructField("sel_rank", T.IntegerType(), False),
            T.StructField(id_col, id_type),
            T.StructField("mmr_score", T.LongType()),
        ]
    )
    k_sel = int(k_select)

    def _greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # Ids are kept as the RAW pandas values (never int()-coerced): the
        # operator's id_col is generic — string ids must survive, and the
        # left join can widen an int id's other_id to float64 (NaN fill),
        # which still hash-matches its int candidate key. NULL rel (e.g.
        # cosine of a zero-norm vector) excludes the candidate; NULL sim is
        # skipped inside the max — SQL aggregate semantics, matching the
        # pure-DataFrame loop form where NULL never wins a `>` comparison.
        qid = pdf["query_id"].iloc[0]
        rel = {}
        sim = {}
        for cid, r, oid, s in zip(
            pdf[id_col], pdf["rel"], pdf["other_id"], pdf["sim"]
        ):
            if cid not in rel and not pd.isna(r):
                rel[cid] = int(r)
            if not pd.isna(oid) and not pd.isna(s):
                sim[(cid, oid)] = int(s)
        if not rel:
            return pd.DataFrame({"query_id": [], "sel_rank": [], id_col: [], "mmr_score": []})
        # rank 1: pure relevance, (rel desc, id asc)
        first = min(rel, key=lambda c: (-rel[c], c))
        ranks, ids, scores = [1], [first], [2 * rel[first]]
        selected = [first]
        remaining = sorted(c for c in rel if c != first)
        for step in range(2, k_sel + 1):
            if not remaining:
                break
            best, best_score = None, None
            for c in remaining:  # ascending id ⇒ strict > keeps min-id tie
                penalty = max(
                    (sim[(c, s)] for s in selected if (c, s) in sim), default=None
                )
                if penalty is None:
                    continue  # all sims NULL ⇒ score NULL ⇒ never selectable
                score = 2 * rel[c] - penalty
                if best is None or score > best_score:
                    best, best_score = c, score
            if best is None:
                break
            ranks.append(step)
            ids.append(best)
            scores.append(best_score)
            selected.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            {
                "query_id": [qid] * len(ranks),
                "sel_rank": ranks,
                id_col: ids,
                "mmr_score": scores,
            }
        )

    return gm_in.groupBy("query_id").applyInPandas(_greedy, out_schema)


def knn_graph(
    corpus: DataFrame,
    k: int = 3,
    dims: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed k-NN graph over an embedding corpus: each vector's top-k
    cosine neighbors WITHIN its sign-LSH bucket, plus the mutual flag — the
    substrate for semantic clustering, label propagation, and
    diversity-aware sampling. The bucket restriction is the scale contract
    (candidate generation is corpus×bucket-mates, never corpus²) and is
    part of the operator's semantics, so the oracle applies the same
    predicate — recall vs the exact graph is the same trade every ANN probe
    makes (x_ann_recall measures it for this index family).

    ``dims`` is the scale knob: per-bucket pair work is (N/2^dims)² per
    bucket × 2^dims buckets = N²/2^dims total, so hold expected bucket
    size N/2^dims constant by choosing dims ≈ log2(N / target_bucket)
    (64-dim embeddings give headroom to dims≈30, i.e. corpora of ~10¹³ at
    bucket 10³); pathological skew is bounded the same way LSH banding is —
    centered components make each sign bit ~fair.

    Scale shape: one self-join keyed by the 2^dims-bucket id (skew-bounded:
    for centered embeddings each sign bit is ~fair, so buckets are ~equal),
    one keyed window for top-k, and one edge-set self-join on (dst, src)
    for mutuality. Bucket ids are write-time computable ⇒ the join
    partition-prunes on a bucketed layout.
    Output: (src, dst, cos_sim, mutual int).
    """
    b = corpus.select(
        F.col(id_col), F.col(vec_col), sign_bucket(F.col(vec_col), dims).alias("bucket")
    )
    pairs = (
        b.alias("a")
        .join(b.alias("c"), "bucket")
        .filter(F.col(f"a.{id_col}") != F.col(f"c.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("src"),
            F.col(f"c.{id_col}").alias("dst"),
            (F.floor(cosine(F.col(f"a.{vec_col}"), F.col(f"c.{vec_col}")) * 10000) / 10000)
            .alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("dst"))
    top = (
        pairs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
    rev = top.select(F.col("src").alias("dst"), F.col("dst").alias("src")).withColumn(
        "_m", F.lit(1)
    )
    return top.join(rev, ["src", "dst"], "left").select(
        "src", "dst", "cos_sim", F.coalesce("_m", F.lit(0)).cast("int").alias("mutual")
    )


def lsh_multiprobe_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    dims: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe sign-LSH ANN (Lv et al. '07): besides the query's own
    bucket, probe every hamming-1 neighbor bucket (one sign bit flipped) —
    the standard recall repair for the cheapest failure mode, a query
    sitting just across one hyperplane from its neighbors. dims+1 probes
    per query ⇒ candidate volume is (dims+1)/2^dims of the corpus, still
    bucket-pruned and partition-prunable at the scan; each corpus vector
    lives in exactly one bucket and probe buckets are distinct, so no
    candidate is scored twice.
    """
    c = corpus.withColumn("bucket", sign_bucket(F.col(vec_col), dims))
    home = sign_bucket(F.col(vec_col), dims)
    probe_arr = F.array(
        home, *[home.bitwiseXOR(F.lit(1 << d)) for d in range(dims)]
    )
    q = query.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(probe_arr).alias("bucket"),
    )
    scored = c.join(F.broadcast(q), "bucket").filter(
        F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        id_col,
        (F.floor((cosine(F.col(vec_col), F.col("qvec"))) * 10000) / 10000).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


# ------------------------------------------------------------------- DBSCAN
def dbscan_2d(
    corpus: DataFrame,
    eps_milli: int = 150,
    min_pts: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Density clustering (DBSCAN) over the deterministic 2-D sign-random
    projection of the embedding space — the density view of a corpus that
    centroid methods (IVF/Lloyd) miss: arbitrary-shape clusters plus an
    explicit NOISE class, the right tool for "find the dense boilerplate
    blobs and the isolated junk" corpus forensics.

    The metric is exact over the PROJECTED integer-milli plane (the JL
    projection is the documented approximation; everything after it is
    exact BIGINT arithmetic — d² = dx² + dy², no floats anywhere), so the
    whole chain is oracle-checkable against a brute-force + recursive-
    closure SQL reimplementation.

    Scale shape — the textbook distributed DBSCAN decomposition:
      1. grid cells of side eps (floor division via pmod, negative-safe):
         every true eps-neighbor pair shares adjacent cells, so the
         candidate join is cell ⋈ 3×3-neighborhood — per-cell work is
         O(points-in-cell × 9 local density), never all-pairs;
      2. neighbor counts by one hash-agg → core flags (|N(p)| ≥ min_pts,
         self included);
      3. clusters = min-label connected components over CORE-CORE
         neighbor edges only (DBSCAN expansion passes through core
         points; border points never chain) — the shared
         `connected_components` with its bounded-lineage rounds;
      4. border points adopt min(core-neighbor cluster); the rest is
         labeled noise with cluster_id = -1.
    """
    spark = corpus.sparkSession
    packed = packed_projection_dirs(spark, n_dirs=2)
    proj = random_projection(corpus, id_col=id_col, vec_col=vec_col, packed=packed)
    pts = (
        proj.groupBy(id_col)
        .agg(
            F.max(F.when(F.col("r") == 0, F.col("proj_milli"))).alias("x"),
            F.max(F.when(F.col("r") == 1, F.col("proj_milli"))).alias("y"),
        )
        .withColumn("cx", ((F.col("x") - F.pmod(F.col("x"), F.lit(eps_milli))) / eps_milli).cast("bigint"))
        .withColumn("cy", ((F.col("y") - F.pmod(F.col("y"), F.lit(eps_milli))) / eps_milli).cast("bigint"))
        .cache()
    )
    probes = pts.select(
        F.col(id_col).alias("ia"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(F.expr("array(-1L, 0L, 1L)")).alias("dx"),
        F.col("cx"),
        F.col("cy"),
    ).select(
        "ia",
        "ax",
        "ay",
        (F.col("cx") + F.col("dx")).alias("pcx"),
        F.explode(F.expr("array(cy - 1, cy, cy + 1)")).alias("pcy"),
    )
    nb = (
        probes.join(
            pts.select(
                F.col(id_col).alias("ib"),
                F.col("x").alias("bx"),
                F.col("y").alias("by"),
                F.col("cx").alias("pcx"),
                F.col("cy").alias("pcy"),
            ),
            ["pcx", "pcy"],
        )
        .filter(F.col("ia") != F.col("ib"))
        .filter(
            (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
            + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
            <= F.lit(eps_milli * eps_milli)
        )
        .select("ia", "ib")
        .cache()
    )
    cnt = nb.groupBy("ia").agg(F.count(F.lit(1)).alias("n_nb"))
    flags = (
        pts.join(cnt, pts[id_col] == cnt["ia"], "left")
        .select(
            id_col,
            "x",
            "y",
            ((F.coalesce(F.col("n_nb"), F.lit(0)) + 1) >= min_pts).alias("is_core"),
        )
        .cache()
    )
    core_ids = flags.filter("is_core").select(F.col(id_col).alias("cid"))
    core_edges = (
        nb.join(core_ids, nb["ia"] == core_ids["cid"])
        .drop("cid")
        .join(core_ids, nb["ib"] == core_ids["cid"])
        .filter(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b"))
    )
    from .dedup import connected_components

    comp = connected_components(core_edges).select(
        F.col("doc_id").alias("cid"), "cluster_id"
    )
    core_clusters = (
        flags.filter("is_core")
        .join(comp, flags[id_col] == comp["cid"], "left")
        .select(
            F.col(id_col).alias("core_id"),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("core_cluster"),
        )
        .cache()
    )
    border = (
        nb.join(
            flags.filter(~F.col("is_core")).select(F.col(id_col).alias("ia")),
            "ia",
        )
        .join(core_clusters, nb["ib"] == core_clusters["core_id"])
        .groupBy("ia")
        .agg(F.min("core_cluster").alias("border_cluster"))
    )
    return (
        flags.join(core_clusters, flags[id_col] == core_clusters["core_id"], "left")
        .join(border, flags[id_col] == border["ia"], "left")
        .select(
            id_col,
            F.col("x").alias("x_milli"),
            F.col("y").alias("y_milli"),
            F.when(F.col("is_core"), F.lit("core"))
            .when(F.col("border_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(
                F.col("core_cluster"), F.col("border_cluster"), F.lit(-1)
            ).cast("bigint").alias("cluster_id"),
        )
    )


# ----------------------------------------------------- gram matrix / top-PC
def tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — the exact semantics of both
    Spark's ``DIV`` and DuckDB's ``//`` (Python's ``//`` floors instead,
    off by one on negative numerators; the same trap as in ewma_stream).
    Driver-side integer math that must stay bit-identical to either engine
    goes through this helper."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def embedding_gram(
    embs: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Upper-triangle second-moment sums of the milli-quantized embedding
    matrix: one row per dimension pair ``i <= j`` with exact BIGINT
    ``(n, sij, si, sj)`` — the sufficient statistics for a covariance /
    gram matrix, whitening transform, or PCA.

    Components quantize to the integer milli grid FIRST (the module's
    shared convention, cf. random_projection), so all sums are exact in
    any aggregation/merge order and a DuckDB oracle can reproduce them
    bit-for-bit.

    Scale shape: Arrow-batched ``mapInPandas`` computes a dim x dim
    partial gram per batch with ONE int64 matmul and emits a CONSTANT
    ``dim*(dim+1)/2`` rows per batch — no 64x component explosion, no
    self-join keyed by vec_id; the final hash-agg merges partials
    map-side, so the reduce moves O(dim^2 * n_partitions) rows no matter
    how many vectors the corpus holds. Overflow: |m| <= ~4e3 milli for
    unit-ish embeddings => |m_i * m_j| <= 1.6e7; the global BIGINT sum
    holds to ~5e11 vectors.
    """

    def gram_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy())
            m = np.floor(mat.astype(np.float64) * 1000.0).astype(np.int64)
            dim = m.shape[1]
            gram = m.T @ m
            col_sum = m.sum(axis=0)
            iu, ju = np.triu_indices(dim)
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "n": np.full(len(iu), m.shape[0], dtype=np.int64),
                    "sij": gram[iu, ju],
                    "si": col_sum[iu],
                    "sj": col_sum[ju],
                }
            )

    partials = embs.select(vec_col).mapInPandas(
        gram_batches, "i int, j int, n long, sij long, si long, sj long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum("sij").alias("sij"),
        F.sum("si").alias("si"),
        F.sum("sj").alias("sj"),
    )


def cov_matrix_from_gram(rows, dim: int | None = None) -> list[list[int]]:
    """Full symmetric integer covariance matrix from collected
    ``embedding_gram`` rows, on the milli^2 grid: ``cov[i][j] =
    sij tdiv n - (si tdiv n)(sj tdiv n)`` — the same truncated-moment
    form (and the same truncation semantics) as x_dim_variance and the
    DuckDB oracle, so every engine sees identical integers."""
    if dim is None:
        dim = max((r["i"] for r in rows), default=-1) + 1
    cov = [[0] * dim for _ in range(dim)]
    for r in rows:
        n = r["n"]
        c = tdiv(r["sij"], n) - tdiv(r["si"], n) * tdiv(r["sj"], n)
        cov[r["i"]][r["j"]] = c
        cov[r["j"]][r["i"]] = c
    return cov


def power_iteration_top1(
    cov: list[list[int]], iters: int = 96, scale: int = 1 << 20
) -> list[int]:
    """Dominant eigenvector of a small integer matrix by power iteration
    in EXACT integer arithmetic: start at the all-ones vector, repeat
    ``v <- (cov @ v) * scale tdiv max|cov @ v|``, finally flip signs so
    the largest-|component| (lowest index on ties) is positive.

    Because every step is BIGINT mul/add plus truncating division, an SQL
    twin (unrolled CTEs, one join+group-by per step) reproduces the vector
    bit-for-bit — convergence quality does not affect cross-engine parity.
    Overflow: |cov| <= ~1.6e7 milli^2, |v| <= 2^20, dim <= 64 =>
    |cov @ v| <= 1.1e15, well inside BIGINT.

    The matrix is a bounded dim x dim aggregate (constant in corpus size),
    so driver-side iteration here is the same class as the Lloyd centroid
    loop in ivf_refine_centroids — not a data-sized collect."""
    dim = len(cov)
    if dim == 0:
        return []
    v = [scale] * dim
    for _ in range(iters):
        w = [sum(cov[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        mx = max(abs(x) for x in w) or 1
        v = [tdiv(x * scale, mx) for x in w]
    lead = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[lead] < 0:
        v = [-x for x in v]
    return v


def l2_fp(a: Column, b: Column) -> Column:
    """Euclidean distance on the shared fixed-point grid:
    floor(sqrt(Σ(xᵢ−yᵢ)²)·10⁴) as BIGINT — sqrt is IEEE-correctly-rounded
    on both engines, so equal sums give equal grids (the cosine
    convention applied to distance)."""
    d2 = F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.floor(F.sqrt(d2) * 10000).cast("bigint")


def kcenter_greedy(
    corpus: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) selection — the classic
    2-approximation to the k-center cover (Gonzalez '85): start from the
    lowest id, then repeatedly pick the point farthest from the selected
    set. Output one row per round: (sel_round, center_id, radius_fp)
    where radius_fp is the cover radius (max over points of
    distance-to-nearest-center) AFTER that round's center joins.

    Fully LAZY unrolled plan — no driver loop, no collect: each round is
    corpus ⨯ broadcast(1-row center frame) → running min-distance frame.
    ONLY the corpus projection is cached (one corpus-sized
    InMemoryRelation, reused by every round) and each 1-row center frame
    is cached; the per-round min-distance frames stay UNCACHED lineage
    chains of narrow broadcast crossJoin + least() maps over the cached
    corpus — whole-stage-codegen'd, no shuffle — so memory stays O(N),
    not O(k·N): caching every round's corpus-sized frame would hold k
    full-corpus InMemoryRelations simultaneously. Recompute cost of the
    uncached chains is O(k²·N) distance evaluations instead of O(k·N) —
    for the fixed small k this is the
    right trade at 100 TB, where k corpus-sized caches cannot fit but k²
    scans of one cached frame stream fine. Deterministic: (min-dist
    DESC, id) argmax tiebreak on the fixed-point grid."""
    e = corpus.select(F.col(id_col), F.col(vec_col)).cache()
    rounds = []
    c = e.orderBy(id_col).limit(1).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    ).cache()
    md = None
    for r in range(1, k + 1):
        if md is None:
            md = e.crossJoin(F.broadcast(c)).select(
                id_col, vec_col, l2_fp(F.col(vec_col), F.col("c_vec")).alias("mind")
            )
        else:
            md = md.crossJoin(F.broadcast(c)).select(
                id_col, vec_col,
                F.least(F.col("mind"), l2_fp(F.col(vec_col), F.col("c_vec"))).alias("mind"),
            )
        radius = md.agg(F.max("mind").cast("bigint").alias("radius_fp"))
        rounds.append(
            c.select(F.lit(r).cast("bigint").alias("sel_round"), F.col("c_id").alias("center_id"))
            .crossJoin(F.broadcast(radius))
        )
        if r < k:
            c = md.orderBy(F.col("mind").desc(), id_col).limit(1).select(
                F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
            ).cache()
    out = rounds[0]
    for fr in rounds[1:]:
        out = out.unionByName(fr)
    return out.orderBy("sel_round")


def label_propagate(
    edges: DataFrame,
    labels: DataFrame,
    rounds: int = 2,
    id_col: str = "vec_id",
    lab_col: str = "lab",
) -> DataFrame:
    """Synchronized majority label propagation over a directed edge frame
    (src, dst): each round, every node whose ``seed`` flag is false takes
    the majority label of its out-neighbors' current labels (tie →
    smallest label; no labeled neighbor → keeps its current label); seed
    nodes never change. ``labels`` must carry (id_col, lab_col, seed
    boolean). Returns the final (id_col, lab_col) assignment.

    Rounds are a FIXED constant — plan depth bounded. Each round is one
    keyed edge→label join, one (src, label) hash agg, one keyed top-1
    window, one left join back — all hash-partitioned on node id,
    nothing global. Callers cache ``edges`` (every round joins it)."""
    from pyspark.sql import Window

    lab = labels.select(id_col, "seed", F.col(lab_col).alias("lab"))
    for _ in range(rounds):
        nbr = (
            edges.join(
                lab.select(F.col(id_col).alias("dst"), F.col("lab").alias("nlab")), "dst"
            )
            .filter(F.col("nlab").isNotNull())
            .groupBy("src", "nlab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("src").orderBy(F.col("c").desc(), F.col("nlab"))
        maj = (
            nbr.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(F.col("src").alias(id_col), F.col("nlab").alias("maj"))
        )
        lab = lab.join(maj, id_col, "left").select(
            id_col, "seed",
            F.when(F.col("seed"), F.col("lab"))
            .otherwise(F.coalesce(F.col("maj"), F.col("lab")))
            .alias("lab"),
        )
    return lab.select(id_col, F.col("lab").alias(lab_col))

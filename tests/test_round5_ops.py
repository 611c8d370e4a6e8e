"""Round-5 operator additions vs naive Python references: the CUSUM
prefix closed form, star-contraction CC (see test_dedup_similarity for
its union-find pin), and the Benford digit extraction. Hand-sized
semantic checks complementing the DuckDB oracle parity the registry
queries get (s_stream_cusum, e_benford, x_vocab_growth)."""

from __future__ import annotations

from hypothesis import given
from hypothesis import strategies as st


@given(
    xs=st.lists(st.integers(-100_000, 100_000), min_size=1, max_size=200),
    k=st.integers(-1000, 100_000),
)
def test_cusum_closed_form_equals_recurrence(xs, k):
    """S_t = max(0, S_{t-1} + (x_t - k)) == P_t - min(0, min_{j<=t} P_j):
    the identity that lets cusum_stream keep 3 BIGINTs of state and the
    oracle use two plain windows. Pure-Python pin of the algebra both
    engines rely on."""
    s_rec = 0
    prefix = 0
    min_prefix = 0
    for x in xs:
        d = x - k
        s_rec = max(0, s_rec + d)
        prefix += d
        min_prefix = min(min_prefix, prefix)
        s_closed = prefix - min(0, min_prefix)
        assert s_closed == s_rec


@given(cents=st.integers(1, 10**15))
def test_benford_first_digit_extraction(cents):
    """substring(cast(cents as string), 1, 1) == the first significant
    digit by repeated division — the string form both engines use."""
    d = cents
    while d >= 10:
        d //= 10
    assert int(str(cents)[0]) == d


def test_heaps_first_seen_decomposition():
    """vocab(prefix b) == sum over k<=b of |{tokens first seen in k}| —
    the identity behind x_vocab_growth's distributed cumulative DISTINCT."""
    docs = {
        0: ["a", "b"],
        1: ["b", "c"],
        2: ["a", "d", "e"],
        3: ["e"],
        4: ["f", "a"],
    }
    buckets = {doc: doc // 2 for doc in docs}  # 3 buckets: {0,1},{2,3},{4}
    first_seen: dict[str, int] = {}
    for doc in sorted(docs):
        for t in docs[doc]:
            first_seen.setdefault(t, buckets[doc])
    for b in range(3):
        direct = len({t for doc in sorted(docs) if buckets[doc] <= b for t in docs[doc]})
        decomposed = sum(1 for fb in first_seen.values() if fb <= b)
        assert direct == decomposed


def _union_find_labels(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in ids}


def test_star_cc_random_graphs_match_union_find(spark):
    """Star-contraction CC vs union-find on mixed random shapes (sparse
    random graph + planted cliques + a chain), one Spark run per seed —
    the structures where label propagation and pointer jumping each have
    a worst case."""
    import random

    from gmall_flink_230422_spark.operators import dedup

    for seed in (3, 11):
        rng = random.Random(seed)
        ids = rng.sample(range(10_000), 120)
        pairs = []
        # sparse random edges
        for _ in range(60):
            a, b = rng.sample(ids, 2)
            pairs.append((a, b))
        # planted clique
        cl = rng.sample(ids, 8)
        pairs += [(cl[i], cl[j]) for i in range(8) for j in range(i + 1, 8)]
        # chain through fresh ids
        chain = rng.sample(range(20_000, 21_000), 15)
        pairs += [(chain[i], chain[i + 1]) for i in range(len(chain) - 1)]
        nodes = sorted({n for p in pairs for n in p})
        want = _union_find_labels(nodes, pairs)

        df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.connected_components(df).collect()
        }
        assert got == want, f"seed {seed}"


@given(
    mat=st.lists(
        st.lists(st.floats(-2.0, 2.0, allow_nan=False, width=32), min_size=4, max_size=4),
        min_size=2,
        max_size=40,
    ),
    split=st.integers(1, 39),
)
def test_gram_partials_merge_invariant(mat, split):
    """The (n, sij, si, sj) gram partials merged across ANY batch split
    equal the single-batch sums — the algebra that makes embedding_gram's
    map-side combine exact at any partitioning. Pure-Python pin (numpy
    int64 matmul == summed per-split matmuls)."""
    import numpy as np

    m = np.floor(np.array(mat, dtype=np.float64) * 1000.0).astype(np.int64)
    whole = m.T @ m
    cut = min(split, len(mat) - 1) or 1
    parts = [m[:cut], m[cut:]]
    merged = sum((p.T @ p for p in parts if len(p)), np.zeros_like(whole))
    assert (whole == merged).all()
    assert (m.sum(axis=0) == sum(p.sum(axis=0) for p in parts if len(p))).all()


def test_tdiv_matches_spark_and_duckdb_semantics():
    """tdiv truncates toward zero on every sign combination — the Spark
    DIV / DuckDB // contract (Python's // floors; cf. the r4 ewma fix)."""
    from gmall_flink_230422_spark.operators.similarity import tdiv

    assert tdiv(7, 2) == 3 and tdiv(-7, 2) == -3
    assert tdiv(7, -2) == -3 and tdiv(-7, -2) == 3
    assert tdiv(0, 5) == 0


def test_power_iteration_tracks_numpy_eigenvector(spark):
    """The integer power iteration's direction agrees with numpy's float
    dominant eigenvector of the SAME integer covariance matrix (|cos| >=
    0.99 on the sf0.001 fixture) — the quality check the exact-parity
    oracle can't provide (both engines would agree even if unconverged)."""
    import numpy as np

    from gmall_flink_230422_spark.io import load_table
    from gmall_flink_230422_spark.operators import similarity

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = similarity.embedding_gram(e).collect()
    cov = np.array(similarity.cov_matrix_from_gram(rows), dtype=np.float64)
    v_int = np.array(
        similarity.power_iteration_top1(similarity.cov_matrix_from_gram(rows)),
        dtype=np.float64,
    )
    eigvals, eigvecs = np.linalg.eigh(cov)
    top = eigvecs[:, np.argmax(eigvals)]
    cos = abs(v_int @ top) / (np.linalg.norm(v_int) * np.linalg.norm(top))
    assert cos >= 0.99, cos


def test_embedding_gram_matches_exploded_join(spark):
    """embedding_gram's Arrow partial-gram path == the naive exploded
    self-join on a small frame, for every (i, j, n, sij, si, sj) cell —
    pins the mapInPandas implementation to the declarative definition."""
    from pyspark.sql import functions as F

    from gmall_flink_230422_spark.io import load_table
    from gmall_flink_230422_spark.operators import similarity

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").repartition(7)
    fast = {
        (r["i"], r["j"]): (r["n"], r["sij"], r["si"], r["sj"])
        for r in similarity.embedding_gram(e).collect()
    }
    comps = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("val").cast("double") * 1000).cast("bigint").alias("m"),
    )
    a, b = comps.alias("a"), comps.alias("b")
    naive = (
        a.join(b, (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.dim") <= F.col("b.dim")))
        .groupBy(F.col("a.dim").alias("i"), F.col("b.dim").alias("j"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("a.m") * F.col("b.m")).alias("sij"),
            F.sum("a.m").alias("si"),
            F.sum("b.m").alias("sj"),
        )
    )
    slow = {
        (r["i"], r["j"]): (r["n"], r["sij"], r["si"], r["sj"]) for r in naive.collect()
    }
    assert fast == slow


def test_max_norm_rayleigh_tracks_numpy_eigenvalue(spark):
    """lambda1 from the rescale factor (max|cov@v| / 2^20 with
    max|v| == 2^20) agrees with numpy's top eigenvalue of the same
    integer covariance within 1% on the sf0.001 fixture."""
    import numpy as np

    from gmall_flink_230422_spark.io import load_table
    from gmall_flink_230422_spark.operators import similarity

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cov = similarity.cov_matrix_from_gram(similarity.embedding_gram(e).collect())
    v = similarity.power_iteration_top1(cov)
    dim = len(cov)
    w = [sum(cov[i][j] * v[j] for j in range(dim)) for i in range(dim)]
    lam = similarity.tdiv(max(abs(x) for x in w), 1 << 20)
    top = float(np.linalg.eigvalsh(np.array(cov, dtype=np.float64))[-1])
    assert abs(lam - top) <= 0.01 * top, (lam, top)


def test_gram_helpers_empty_input():
    """Empty-corpus degenerates: cov_matrix_from_gram([]) and
    power_iteration_top1([]) return empty instead of raising — the
    guards that keep q_pca_power/q_spectral_ratio aligned with their
    oracles' empty-input semantics (0 rows / one all-NULL row)."""
    from gmall_flink_230422_spark.operators.similarity import (
        cov_matrix_from_gram,
        power_iteration_top1,
    )

    assert cov_matrix_from_gram([]) == []
    assert power_iteration_top1([]) == []


def test_stream_cov_equals_batch_cov(spark):
    """s_stream_embedding_cov (4 replayed micro-batches, per-batch
    partial grams, additive merge) returns exactly x_embedding_cov's
    single-pass matrix — the batch-boundary invariance the exact BIGINT
    gram algebra guarantees."""
    from gmall_flink_230422_spark.plans.vectorq import q_embedding_cov
    from gmall_flink_230422_spark.plans.streamq import q_stream_embedding_cov

    sf = "/root/testdata/sf0.001"
    key = lambda r: (r["i"], r["j"])
    batch = {key(r): (r["n"], r["cov_milli2"]) for r in q_embedding_cov(spark, sf).collect()}
    stream = {key(r): (r["n"], r["cov_milli2"]) for r in q_stream_embedding_cov(spark, sf).collect()}
    assert batch == stream and len(batch) == 2080


def test_tdiv_three_engine_parity(spark):
    """tdiv == DuckDB's // == Spark's DIV over a sign/magnitude grid of
    operands — the contract the integer power iteration (and every
    driver-side cov computation) rests on, pinned against both engines
    in one pass instead of asserted from documentation."""
    import duckdb

    from gmall_flink_230422_spark.operators.similarity import tdiv

    pairs = [
        (a, b)
        for a in (-(10**12) - 7, -1000001, -17, -1, 0, 1, 17, 1000001, 10**12 + 7)
        for b in (-(10**6) - 3, -13, -1, 1, 13, 10**6 + 3)
    ]
    duck = duckdb.connect().execute(
        "SELECT a // b FROM (SELECT unnest(?) AS a, unnest(?) AS b)",
        [[p[0] for p in pairs], [p[1] for p in pairs]],
    ).fetchall()
    sdf = spark.createDataFrame(pairs, "a long, b long").selectExpr("a DIV b AS q")
    got_spark = [r["q"] for r in sdf.collect()]
    want = [tdiv(a, b) for a, b in pairs]
    assert [d[0] for d in duck] == want
    assert got_spark == want

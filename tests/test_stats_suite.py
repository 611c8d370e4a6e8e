"""Round-4 statistics queries vs naive Python references: KS distance,
Gini rank formula, Pareto skyline dominance, Mann-Whitney AUC, Wilson
bound monotonicity, and the multi-column distributed_cumsum — the
hand-sized semantic checks complementing DuckDB oracle parity
(e_ks_test, e_gini, e_skyline, x_classifier_auc, x_wilson_rank)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gmall_flink_230422_spark.operators.windows import distributed_cumsum

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

SF = "/root/testdata/sf0.001"


# ------------------------------------------------- distributed_cumsum (multi)
@SLOW
@given(
    st.lists(
        st.tuples(st.integers(-50, 50), st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=60,
    )
)
def test_multi_cumsum_matches_single_pass(spark, rows):
    df = spark.createDataFrame(rows, "k int, a int, b int")
    out = {
        r["k"]: (r["ca"], r["cb"])
        for r in distributed_cumsum(df, ["k"], ["a", "b"], ["ca", "cb"], 4)
        .groupBy("k")
        .agg(F.max("ca").alias("ca"), F.max("cb").alias("cb"))
        .collect()
    }
    ca = cb = 0
    expect = {}
    for k, a, b in sorted(rows):
        ca += a
        cb += b
        expect[k] = (ca, cb)
    # per distinct key, the MAX cumulative value equals the prefix through
    # that key's last row in (k)-order — tie rows share a partition
    assert {k: expect[k] for k in out} == out


# ------------------------------------------------------------------ KS / Gini
def _brute_ks_ppm(xs, ys):
    grid = sorted(set(xs) | set(ys))
    na, nb, best = len(xs), len(ys), 0
    ca = cb = 0
    from collections import Counter

    cxa, cxb = Counter(xs), Counter(ys)
    for v in grid:
        ca += cxa[v]
        cb += cxb[v]
        best = max(best, abs(ca * 1_000_000 // na - cb * 1_000_000 // nb))
    return best


@SLOW
@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=40),
    st.lists(st.integers(0, 30), min_size=1, max_size=40),
)
def test_ks_pipeline_matches_brute(spark, xs, ys):
    rows = [(v, True) for v in xs] + [(v, False) for v in ys]
    df = spark.createDataFrame(rows, "cents long, is_a boolean")
    hist = df.groupBy("cents").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("cnt_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("bigint").alias("cnt_b"),
    )
    cum = distributed_cumsum(hist, ["cents"], ["cnt_a", "cnt_b"], ["cum_a", "cum_b"], 4)
    got = (
        cum.withColumn("ta", F.lit(len(xs)))
        .withColumn("tb", F.lit(len(ys)))
        .agg(
            F.max(
                F.expr("abs(cum_a * 1000000 DIV ta - cum_b * 1000000 DIV tb)")
            ).alias("ks")
        )
        .collect()[0]["ks"]
    )
    assert got == _brute_ks_ppm(xs, ys)


def _brute_gini_ppm(vals):
    xs = sorted(vals)
    n, sx = len(xs), sum(xs)
    six = sum((i + 1) * x for i, x in enumerate(xs))
    den = n * sx // 1_000_000
    return (2 * six - (n + 1) * sx) // max(den, 1)


def test_gini_query_matches_brute(spark):
    from gmall_flink_230422_spark.io import load_table
    from gmall_flink_230422_spark.plans.analytics import q_gini

    got = {r["segment"]: r["gini_ppm"] for r in q_gini(spark, SF).collect()}
    cust = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load_table(spark, SF, "customer").collect()
    }
    seg_vals = {}
    for r in load_table(spark, SF, "orders").collect():
        seg = cust[r["o_custkey"]]
        seg_vals.setdefault(seg, []).append(round(r["o_totalprice"] * 100))
    expect = {s: _brute_gini_ppm(v) for s, v in seg_vals.items()}
    assert got == expect


# ------------------------------------------------------------------- skyline
def test_skyline_matches_brute_dominance(spark):
    from gmall_flink_230422_spark.plans.analytics import q_skyline

    got = q_skyline(spark, SF).collect()
    pts = {}
    for r in got:
        pts.setdefault(r["segment"], []).append((r["n_orders"], r["bal_cents"]))
    # recompute the full per-customer frame independently
    from gmall_flink_230422_spark.io import load_table

    cust = {
        r["c_custkey"]: (r["c_mktsegment"], round(r["c_acctbal"] * 100))
        for r in load_table(spark, SF, "customer").collect()
    }
    cnt = {}
    for r in load_table(spark, SF, "orders").collect():
        cnt[r["o_custkey"]] = cnt.get(r["o_custkey"], 0) + 1
    universe = {}
    for ck, n in cnt.items():
        seg, bal = cust[ck]
        universe.setdefault(seg, []).append((ck, n, bal))
    for seg, rows in universe.items():
        brute = [
            (ck, n, b)
            for ck, n, b in rows
            if not any(
                (n2 >= n and b2 >= b and (n2 > n or b2 > b))
                for _, n2, b2 in rows
            )
        ]
        assert sorted((n, b) for _, n, b in brute) == sorted(pts.get(seg, []))
        # every skyline point is genuinely non-dominated
        for n, b in pts.get(seg, []):
            assert not any(
                (n2 >= n and b2 >= b and (n2 > n or b2 > b)) for _, n2, b2 in rows
            )


# ------------------------------------------------------------------ AUC
@SLOW
@given(
    st.lists(
        st.tuples(st.integers(-5, 5), st.booleans()), min_size=2, max_size=50
    ).filter(lambda xs: len({p for _, p in xs}) == 2)
)
def test_auc_histogram_matches_pairwise(spark, scored):
    # brute pairwise: P(pos > neg) + 0.5 P(tie)
    pos = [s for s, p in scored if p]
    neg = [s for s, p in scored if not p]
    u2 = sum(2 if s > t else (1 if s == t else 0) for s in pos for t in neg)
    expect = u2 * 1_000_000 // (2 * len(pos) * len(neg))

    df = spark.createDataFrame(scored, "logit_milli long, is_pos boolean")
    hist = df.groupBy("logit_milli").agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("n_pos"),
        F.sum(F.when(F.col("is_pos"), 0).otherwise(1)).cast("bigint").alias("n_neg"),
    )
    cum = distributed_cumsum(hist, ["logit_milli"], "n_neg", "cum_neg", 4)
    got = (
        cum.withColumn("neg_below", F.col("cum_neg") - F.col("n_neg"))
        .agg(
            F.sum("n_pos").alias("np"),
            F.sum("n_neg").alias("nn"),
            F.sum(
                F.col("n_pos") * (F.lit(2) * F.col("neg_below") + F.col("n_neg"))
            ).alias("u2"),
        )
        .selectExpr("CAST(u2 * 1000000 DIV (2 * np * nn) AS BIGINT) AS auc")
        .collect()[0]["auc"]
    )
    assert got == expect


# ------------------------------------------------------------------ Wilson
def test_wilson_bound_sanity(spark):
    """3/3 must NOT outrank 950/1000; bound is below p-hat and within [0,1)."""
    from gmall_flink_230422_spark.plans.evalq import _WILSON_EXPR

    df = spark.createDataFrame(
        [("tiny", 3, 3), ("big", 1000, 950), ("half", 10, 5)],
        "source string, n_docs long, n_keep long",
    )
    rows = {
        r["source"]: r["w"]
        for r in df.select("source", F.expr(_WILSON_EXPR).alias("w")).collect()
    }
    assert rows["big"] > rows["tiny"]  # the whole point of the bound
    assert 0 <= rows["tiny"] < 1_000_000
    assert rows["half"] < 500_000


# ------------------------------------------------------------------- DBSCAN
def test_dbscan_semantics_on_handmade_plane(spark):
    """Two dense blobs + a bridge-free gap + isolated points, fed through
    the grid-cell pipeline via a stub projection: roles and components
    must match the textbook definition exactly."""
    import gmall_flink_230422_spark.operators.similarity as sim

    # points: blob A (4 pts within eps of each other), blob B (4 pts),
    # 1 border point near blob A but with < min_pts neighbors, 1 noise
    pts = {
        1: (0, 0), 2: (10, 0), 3: (0, 10), 4: (10, 10),      # blob A
        5: (1000, 0), 6: (1010, 0), 7: (1000, 10), 8: (1010, 10),  # blob B
        9: (55, 0),                                           # border of A
        10: (5000, 5000),                                     # noise
    }
    # embeddings such that the deterministic projection reproduces pts:
    # use 64-dim vectors with only the first component set — proj r is
    # sign(r, 0) * milli(v0). Instead of inverting signs, monkeypatch the
    # projection step by building the operator chain on a fake corpus and
    # substituting random_projection with an identity via embedding choice
    # is fragile — so call the internals directly.
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(k, x, y) for k, (x, y) in pts.items()], "vec_id long, x long, y long"
    )
    eps, min_pts = 50, 4

    real_rp = sim.random_projection

    def fake_rp(corpus, signs=None, id_col="vec_id", vec_col="embedding", packed=None):
        return corpus.selectExpr(
            f"{id_col}", "stack(2, 0, x, 1, y) AS (r, proj_milli)"
        )

    sim.random_projection = fake_rp
    try:
        out = {
            r["vec_id"]: (r["role"], r["cluster_id"])
            for r in sim.dbscan_2d(df, eps_milli=eps, min_pts=min_pts).collect()
        }
    finally:
        sim.random_projection = real_rp

    for k in (1, 2, 3, 4):
        assert out[k] == ("core", 1)
    for k in (5, 6, 7, 8):
        assert out[k] == ("core", 5)
    assert out[9] == ("border", 1)
    assert out[10] == ("noise", -1)


# --------------------------------------------------------- span corruption
def test_span_corruption_round_trip(spark):
    """Denoising invariant: replacing each <extra_id_k> in input_text with
    target span k reconstructs the original normalized token sequence —
    no token lost, duplicated, or reordered, for every doc at sf0.001."""
    import re

    from gmall_flink_230422_spark.io import load_table
    from gmall_flink_230422_spark.plans.textq import q_span_corruption

    out = {r["doc_id"]: r for r in q_span_corruption(spark, SF).collect()}
    docs = {
        r["doc_id"]: r["text"] for r in load_table(spark, SF, "documents").collect()
    }
    sent = re.compile(r"^<extra_id_(\d+)>$")
    checked = 0
    for doc_id, r in out.items():
        orig = [t for t in docs[doc_id].strip().lower().split() if t]
        # parse target into spans keyed by sentinel id
        spans: dict[int, list[str]] = {}
        cur = None
        for tok in r["target_text"].split():
            m = sent.match(tok)
            if m:
                cur = int(m.group(1))
                spans[cur] = []
            else:
                assert cur is not None, "target must start with a sentinel"
                spans[cur].append(tok)
        assert len(spans) == r["n_spans"]
        rebuilt: list[str] = []
        for tok in r["input_text"].split():
            m = sent.match(tok)
            if m:
                rebuilt.extend(spans[int(m.group(1))])
            else:
                rebuilt.append(tok)
        assert rebuilt == orig, f"doc {doc_id} round trip failed"
        checked += 1
    assert checked == len(docs)


def test_record_linkage_blocked_pairs(spark):
    """Handmade frame: near-identical names in one nation must pair within
    the 3-neighbor window, cross-nation twins must NOT (blocking), and a
    distance-3 name must be rejected by the threshold."""
    from gmall_flink_230422_spark.plans.analytics import q_record_linkage
    import gmall_flink_230422_spark.plans.analytics as qa
    from pyspark.sql import functions as F

    # route through the real query by monkeypatching load_table input
    rows = [
        (1, "alpha0001"), (1, "alpha0002"), (1, "alpha9999"),
        (2, "alpha0001"),               # same name, other nation: blocked
        (1, "zzzz"),
    ]
    df = spark.createDataFrame(rows, "c_nationkey int, c_name string")
    real = qa.load_table
    qa.load_table = lambda s, sf, t: df
    try:
        got = {
            (r["name_a"], r["name_b"]): r["dist"]
            for r in q_record_linkage(spark, "ignored").collect()
        }
    finally:
        qa.load_table = real
    assert got.get(("alpha0001", "alpha0002")) == 1
    # alpha9999 differs from alpha0002 in 3 digit positions -> filtered
    assert ("alpha0002", "alpha9999") not in got
    # cross-nation identical names never compared
    assert all(a != b for a, b in got)

"""Property tests for the round-8 batch 6-9 operators: k-center greedy
2-approximation and partition invariance, label-propagation contracts on
hand graphs, the precomputed NDCG/RBO integer tables, and the DP noise
distribution."""

from __future__ import annotations

import hashlib
import itertools
import math
import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from gmall_flink_230422_spark.operators import similarity as sim


def _grid_dist(a, b):
    # the operator's fixed-point grid: floor(sqrt(sum sq) * 1e4)
    return math.floor(math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b))) * 10000)


def _mk_points(seed, n=10, dim=3):
    rng = random.Random(seed)
    return {i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)}


def test_kcenter_greedy_is_2_approximation(spark):
    """Gonzalez greedy cover radius <= 2x the brute-force optimal k-center
    radius on the shared grid — the operator's advertised guarantee."""
    for seed in (7, 23):
        pts = _mk_points(seed)
        df = spark.createDataFrame([Row(vec_id=i, embedding=v) for i, v in pts.items()])
        out = sorted(sim.kcenter_greedy(df, k=3).collect(), key=lambda r: r["sel_round"])
        greedy_radius = out[-1]["radius_fp"]
        opt = min(
            max(min(_grid_dist(p, pts[c]) for c in centers) for p in pts.values())
            for centers in itertools.combinations(pts, 3)
        )
        assert out[0]["center_id"] == min(pts)  # deterministic start
        assert greedy_radius <= 2 * opt + 1  # +1 absorbs grid flooring
        # radii are non-increasing round over round
        radii = [r["radius_fp"] for r in out]
        assert radii == sorted(radii, reverse=True)


def test_kcenter_greedy_partition_invariant(spark):
    """Same centers and radii regardless of input partitioning — the
    TakeOrdered argmax and scalar max are partitioning-blind."""
    pts = _mk_points(99, n=12)
    rows = [Row(vec_id=i, embedding=v) for i, v in pts.items()]
    a = sim.kcenter_greedy(spark.createDataFrame(rows), k=3).collect()
    b = sim.kcenter_greedy(spark.createDataFrame(rows).repartition(7), k=3).collect()
    key = lambda r: (r["sel_round"], r["center_id"], r["radius_fp"])
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_label_propagate_contracts(spark):
    """Hand graph: seeds never move, ties go to the smallest label, nodes
    with no labeled in-reach stay NULL, second round extends by one hop."""
    # 1 -> 2 (seed lab 5), 1 -> 3 (seed lab 3): tie -> 3
    # 4 -> 1: unlabeled neighbor in round 1, labeled 3 by round 2
    # 9: isolated, stays NULL; seeds 2 and 3 keep labels
    edges = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=1, dst=3), Row(src=4, dst=1)]
    )
    labels = spark.createDataFrame(
        [
            Row(vec_id=1, seed=False, lab=None),
            Row(vec_id=2, seed=True, lab=5),
            Row(vec_id=3, seed=True, lab=3),
            Row(vec_id=4, seed=False, lab=None),
            Row(vec_id=9, seed=False, lab=None),
        ]
    ).select("vec_id", "seed", F.col("lab").cast("bigint").alias("lab"))
    r1 = {r["vec_id"]: r["lab"] for r in sim.label_propagate(edges, labels, rounds=1).collect()}
    assert r1 == {1: 3, 2: 5, 3: 3, 4: None, 9: None}
    r2 = {r["vec_id"]: r["lab"] for r in sim.label_propagate(edges, labels, rounds=2).collect()}
    assert r2 == {1: 3, 2: 5, 3: 3, 4: 3, 9: None}


def test_ndcg_tables_consistent():
    """The inlined discount/prefix tables are exactly floor(1e6/log2(i+1))
    and its prefix sums — pinning the constants both engines share."""
    from gmall_flink_230422_spark.plans.vectorq import _NDCG_DISC, _NDCG_PS

    assert len(_NDCG_DISC) == 10 and len(_NDCG_PS) == 11
    for i, d in enumerate(_NDCG_DISC, start=1):
        assert d == math.floor(1e6 / math.log2(i + 1))
    for r in range(11):
        assert _NDCG_PS[r] == sum(_NDCG_DISC[:r])


def test_rbo_suffix_table_consistent():
    """SUFFIX_W[m] - SUFFIX_W[m+1] == floor((1-p)p^(d-1)/d * 1e9) at
    p=0.9, and the identical-rankings total equals sum(w_d * d)."""
    from gmall_flink_230422_spark.plans.evalq import _RBO_SUF

    p, D = 0.9, 50
    w = [int((1 - p) * p ** (d - 1) / d * 1e9) for d in range(1, D + 1)]
    assert len(_RBO_SUF) == D
    for m in range(1, D + 1):
        nxt = _RBO_SUF[m] if m < D else 0
        assert _RBO_SUF[m - 1] - nxt == w[m - 1]
    # identical top-50 lists: every item i contributes SUF[i]
    assert sum(_RBO_SUF) == sum(wd * d for d, wd in enumerate(w, start=1))
    assert sum(_RBO_SUF) < 10**9  # RBO@50 stays below 1.0


def test_dp_noise_distribution():
    """The hash-derived noise is two-sided geometric(1/2): over many
    synthetic cells, P(|noise|=k) ~ 2^-(k+1) and signs balance. Pure
    mirror of the query's bit math (md5 low-16 trailing zeros + bit 16)."""
    n = 8192
    mags, signs = [0] * 17, 0
    for i in range(n):
        h = int(hashlib.md5(f"dp:src{i}/l{i}".encode()).hexdigest()[:15], 16)
        hm = h % 65536
        mag = 16 if hm == 0 else (hm & -hm).bit_length() - 1
        mags[mag] += 1
        signs += ((h // 65536) % 2) * 2 - 1
    # geometric(1/2): ~n/2 zeros, ~n/4 ones, ~n/8 twos (loose 5-sigma bands)
    for k, expect in ((0, n / 2), (1, n / 4), (2, n / 8)):
        sd = math.sqrt(n * (2 ** -(k + 1)) * (1 - 2 ** -(k + 1)))
        assert abs(mags[k] - expect) < 5 * sd, (k, mags[k], expect)
    assert abs(signs) < 5 * math.sqrt(n)
    assert all(m == 0 for m in mags[17:])

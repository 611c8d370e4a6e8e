"""Round-8 fixes and operators: regression tests for the r7 advisor
findings (random_projection length-mismatch NULLs, mmr_rerank generic-id /
NULL-similarity kernel, memo eviction) plus hand-sized semantic checks for
the new r8 operators."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from gmall_flink_230422_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


def test_random_projection_dim_mismatch_overlap(spark):
    """r7 advisor (medium): a vector shorter or longer than the sign-matrix
    dim must project over the OVERLAP (the legacy join-on-j partial sums),
    never silently NULL via zip_with null-padding."""
    packed = sim.packed_projection_dirs(spark, n_dirs=2, dim=4)
    # the packed frame is 1 row: [{r, sv: [s0..s3]}, ...] — read the signs
    dirs = packed.collect()[0]["_dirs"]
    signs = {d["r"]: list(d["sv"]) for d in dirs}
    corpus = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 2.0]),              # shorter than dim
            Row(vec_id=2, embedding=[1.0, 1.0, 1.0, 1.0]),    # exact
            Row(vec_id=3, embedding=[1.0, 0.0, 0.0, 0.0, 5.0]),  # longer
        ]
    )
    out = {
        (r["vec_id"], r["r"]): r["proj_milli"]
        for r in sim.random_projection(corpus, packed=packed).collect()
    }
    assert len(out) == 6 and None not in out.values()
    for r in (0, 1):
        sv = signs[r]
        assert out[(1, r)] == sv[0] * 1000 + sv[1] * 2000
        assert out[(2, r)] == sum(s * 1000 for s in sv)
        assert out[(3, r)] == sv[0] * 1000  # dims 4.. ignored (overlap)


def test_mmr_rerank_string_ids(spark):
    """r7 advisor (low): id_col is generic — string ids must survive the
    grouped-map kernel (the former int() coercion raised ValueError)."""
    rows = [
        Row(vec_id=f"d{i}", embedding=[float(i % 3 + 1), float((i * 7) % 5 + 1)])
        for i in range(8)
    ]
    corpus = spark.createDataFrame(rows)
    query = spark.createDataFrame(rows[:1])
    out = sim.mmr_rerank(corpus, query, k_candidates=4, k_select=3).collect()
    assert len(out) == 3
    assert {type(r["vec_id"]) for r in out} == {str}
    assert [r["sel_rank"] for r in sorted(out, key=lambda r: r["sel_rank"])] == [1, 2, 3]


def test_mmr_rerank_null_rel_excluded(spark):
    """A zero-norm candidate (cosine → NULL rel) must be skipped by the
    kernel — the pure-DataFrame loop propagated NULLs so NULL never won a
    comparison; the kernel must not crash and must not select it."""
    corpus = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.9, 0.1]),
            Row(vec_id=3, embedding=[0.0, 0.0]),  # zero norm → NULL rel/sim
            Row(vec_id=4, embedding=[0.5, 0.5]),
        ]
    )
    query = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 0.0])])
    out = sim.mmr_rerank(corpus, query, k_candidates=4, k_select=4).collect()
    picked = {r["vec_id"] for r in out}
    assert 3 not in picked
    assert picked == {2, 4}


def _rows(spark, name, sf="/root/testdata/sf0.001"):
    from gmall_flink_230422_spark.plans import registry

    return registry()[name].fn(spark, sf).collect()


def test_bfs_layers_partition_invariants(spark):
    """Layers partition reached nodes: depth-0 is min(10, |nodes|) seeds,
    counts are positive, and depths are contiguous from 0."""
    rows = sorted(_rows(spark, "x_bfs_layers"), key=lambda r: r["depth"])
    assert rows, "graph should be non-empty at sf0.001"
    assert rows[0]["depth"] == 0 and rows[0]["n_nodes"] <= 10
    assert [r["depth"] for r in rows] == list(range(len(rows)))
    assert all(r["n_nodes"] > 0 for r in rows)


def test_simhash_radius2_superset_of_radius1(spark):
    """Hamming<=1 pairs (x_simhash_pairs) must all appear among the
    radius-2 pairs — the pigeonhole candidates are recall-exact."""
    r1 = {(r["doc_a"], r["doc_b"]) for r in _rows(spark, "x_simhash_pairs")}
    r2 = {(r["doc_a"], r["doc_b"]) for r in _rows(spark, "x_simhash_radius2")}
    assert r1 <= r2
    h = {r["hamming"] for r in _rows(spark, "x_simhash_radius2")}
    assert h <= {0, 1, 2}


def test_band_health_union_bound(spark):
    """Distinct LSH candidate pairs can't exceed the per-band implied
    pair volume summed over bands (union bound), and every band's max
    bucket is at least 2."""
    bands = _rows(spark, "x_lsh_band_health")
    f1 = _rows(spark, "x_dedup_f1")[0]
    assert sum(r["n_cand_pairs"] for r in bands) >= f1["n_candidate_pairs"]
    assert all(r["max_bucket"] >= 2 for r in bands)


def test_dedup_savings_matches_cc_survivors(spark):
    """Σ per-source kept docs == |x_dedup_corpus_cc| survivors, and kept
    mass never exceeds total mass."""
    sav = _rows(spark, "x_dedup_savings")
    surv = _rows(spark, "x_dedup_corpus_cc")
    assert sum(r["n_docs_kept"] for r in sav) == len(surv)
    for r in sav:
        assert r["n_docs_kept"] <= r["n_docs"]
        assert r["n_tokens_kept"] <= r["n_tokens"]
        assert 0 <= r["tokens_kept_milli"] <= 1000


def test_ttr_bounds(spark):
    for r in _rows(spark, "x_ttr_sources"):
        assert 0 < r["n_types"] <= r["n_tokens"]
        assert 0 < r["ttr_milli"] <= 1000


def test_temporal_split_set_identities(spark):
    row = _rows(spark, "x_temporal_split")[0]
    assert row["n_train_users"] + row["n_eval_users"] >= row["n_users"]
    assert row["n_both"] == row["n_train_users"] + row["n_eval_users"] - row["n_users"]
    assert row["n_both"] <= min(row["n_train_users"], row["n_eval_users"])


def test_pigeonhole_blocks_cover_radius2():
    """Mathematical core of x_simhash_radius2: ANY two 16-bit signatures
    within hamming distance 2 agree exactly on at least one of the 6/5/5
    blocks — so the block-keyed candidate joins are recall-exact at this
    radius. Property-tested over random signatures and random <=2-bit
    corruptions."""
    from hypothesis import given, strategies as st

    def blocks(h):
        return (h & 63, (h >> 6) & 31, (h >> 11) & 31)

    @given(
        st.integers(min_value=0, max_value=(1 << 16) - 1),
        st.sets(st.integers(min_value=0, max_value=15), max_size=2),
    )
    def check(sig, flips):
        other = sig
        for b in flips:
            other ^= 1 << b
        assert bin(sig ^ other).count("1") <= 2
        assert any(x == y for x, y in zip(blocks(sig), blocks(other)))

    check()

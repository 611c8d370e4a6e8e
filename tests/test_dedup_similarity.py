"""Dedup + similarity operator unit tests on handcrafted corpora."""

import math

from pyspark.sql import functions as F

from gmall_flink_230422_spark.io import query_scope
from gmall_flink_230422_spark.operators import dedup, similarity


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "completely different words entirely here now"),
    (3, "The Quick Brown Fox Jumps Over The Lazy Dog"),  # exact dup of 0 (case)
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(spark):
    out = dedup.exact_dedup_groups(docs_df(spark))
    groups = {r["canonical_id"]: r["n_docs"] for r in out.collect()}
    assert groups[0] == 2  # doc 3 collapses into doc 0
    assert groups[1] == 1 and groups[2] == 1


def test_shingles(spark):
    sh = dedup.shingles(docs_df(spark).filter(F.col("doc_id") == 2))
    got = {r["shingle"] for r in sh.collect()}
    assert got == {
        "completely different words",
        "different words entirely",
        "words entirely here",
        "entirely here now",
    }


def test_jaccard_pairs(spark):
    sh = dedup.shingles(docs_df(spark))
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.jaccard_pairs(sh, threshold=0.1).collect()}
    assert pairs[(0, 3)] == 1.0  # exact dup
    assert 0.4 < pairs[(0, 1)] < 1.0  # near dup (6 of 7 shingles shared? ~0.5-0.8)
    assert (0, 2) not in pairs


def test_minhash_lsh_finds_exact_dup(spark):
    sh = dedup.shingles(docs_df(spark))
    sigs = dedup.minhash_signatures(sh, num_hashes=16)
    assert sigs.count() == 4 * 16
    cands = {(r["doc_a"], r["doc_b"])
             for r in dedup.lsh_candidate_pairs(sigs).collect()}
    assert (0, 3) in cands  # identical shingle sets always collide
    assert (0, 2) not in cands


def _pairs(df):
    return sorted(tuple(r) for r in df.select("doc_a", "doc_b", "jaccard").collect())


def test_near_dup_chain_matches_hand_composition(spark):
    """The chain's verified pairs equal shingles → MinHash → LSH →
    Jaccard composed by hand, at the default threshold and a looser one."""
    with query_scope(spark):
        sh = dedup.shingles(docs_df(spark))
        for kw in ({}, {"threshold": 0.3}):
            thr = kw.get("threshold", 0.5)
            cands = dedup.lsh_candidate_pairs(
                dedup.minhash_signatures(sh, num_hashes=16), rows_per_band=4
            )
            hand = dedup.jaccard_pairs(sh, threshold=thr, candidates=cands)
            chain = dedup.near_dup_chain(dedup.shingles(docs_df(spark)), **kw)
            assert _pairs(chain.near) == _pairs(hand)
            assert (0, 3, 1.0) in _pairs(chain.near)


def test_doc_bands_caches_nothing(spark):
    """doc_bands runs inside foreachBatch, where a cache entry would
    outlive its batch: building and collecting it must leave the
    session's CacheManager empty."""
    with query_scope(spark):  # release what earlier tests cached
        pass
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert cache_manager.isEmpty()
    with query_scope(spark):
        rows = dedup.doc_bands(dedup.shingles(docs_df(spark))).collect()
        assert len(rows) == 4 * 4  # four docs with >= 3 tokens, four bands each
        assert cache_manager.isEmpty()


def test_simhash_similar_docs_close(spark):
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs_df(spark)).collect()}
    assert sig[0] == sig[3]  # same normalized tokens
    ham01 = bin(sig[0] ^ sig[1]).count("1")
    ham02 = bin(sig[0] ^ sig[2]).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated
    assert all(0 <= s < 2**16 for s in sig.values())


def test_cosine_known_vectors(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [2.0, 0.0])],
        ["vec_id", "embedding"],
    )
    q = df.filter(F.col("vec_id") == 0)
    out = {r["vec_id"]: r["cos_sim"]
           for r in similarity.brute_force_topk(df, q, k=3).collect()}
    assert out[3] == 1.0  # parallel
    assert out[1] == 0.0  # orthogonal
    assert math.isclose(out[2], round(1 / math.sqrt(2), 4))


def test_sign_bucket(spark):
    df = spark.createDataFrame(
        [(0, [1.0, -1.0, 1.0]), (1, [1.0, -1.0, 2.0]), (2, [-1.0, 1.0, 1.0])],
        ["vec_id", "embedding"],
    )
    out = df.select("vec_id", similarity.sign_bucket(F.col("embedding"), 3).alias("b"))
    b = {r["vec_id"]: r["b"] for r in out.collect()}
    assert b[0] == b[1] == 0b101
    assert b[2] == 0b110


def test_ivf_topk_recall(spark):
    """IVF with 4/16 probes must return k results per query and recover most
    of the exact top-k on the real embeddings table (recall sanity, not a
    strict bound — seed centroids, nprobe=4)."""
    from gmall_flink_230422_spark.io import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id").isin(0, 1, 2))
    exact = similarity.brute_force_topk(e, q, k=10)
    ivf = similarity.ivf_topk(e, q, k=10, n_centroids=16, n_probe=4)
    exact_s = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    ivf_s = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    per_q = {}
    for qid, vid in ivf_s:
        per_q.setdefault(qid, set()).add(vid)
    assert set(per_q) == {0, 1, 2}
    assert all(len(v) == 10 for v in per_q.values())
    recall = len(ivf_s & exact_s) / len(exact_s)
    assert recall >= 0.3, f"suspiciously low IVF recall {recall}"


def test_ivf_assignment_total(spark):
    """Every vector lands in exactly one inverted list."""
    from gmall_flink_230422_spark.io import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity.ivf_centroids(e, n_centroids=8)
    assigned = similarity.ivf_assign(e, cents)
    assert assigned.count() == e.count()
    assert assigned.select("vec_id").distinct().count() == e.count()
    lists = {r["list_id"] for r in assigned.select("list_id").distinct().collect()}
    assert lists <= set(range(8))


def test_ivf_lloyd_refinement_shapes(spark):
    """Refined centroids: one per non-empty list, full-width components,
    reassignment stays total."""
    from gmall_flink_230422_spark.io import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents0 = similarity.ivf_centroids(e, n_centroids=8)
    a0 = similarity.ivf_assign(e, cents0)
    cents1 = similarity.ivf_refine_centroids(a0)
    rows = cents1.collect()
    lists0 = {r["list_id"] for r in a0.select("list_id").distinct().collect()}
    assert {r["cid"] for r in rows} == lists0
    assert all(len(r["cvec"]) == 64 for r in rows)
    a1 = similarity.ivf_assign(e, cents1)
    assert a1.count() == e.count()


def test_null_and_empty_text_safety(spark):
    """Null/empty text flows through every text-derived operator without
    error: nulls group under a null fingerprint, token-less docs simply
    produce no shingles/signatures (not crashes, not fabricated rows)."""
    from gmall_flink_230422_spark.operators import text

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "hello world"), (4, None)], ["doc_id", "text"]
    )
    groups = {r["fp"]: r for r in dedup.exact_dedup_groups(docs).collect()}
    assert groups[None]["n_docs"] == 2 and groups[None]["canonical_id"] == 1
    assert dedup.shingles(docs).count() == 0  # max 2 tokens < k=3
    assert dedup.simhash(docs).count() == 1  # only doc 3 has tokens
    assert text.quality_features(docs).count() == 4
    langs = {r["doc_id"]: r["lang"] for r in docs.select(
        "doc_id", text.detect_language(docs["text"]).alias("lang")).collect()}
    assert set(langs.values()) <= {"und", "en"}


def test_dedup_corpus_keep_one(spark):
    """4-doc corpus: doc 3 is an exact dup of 0 (case), doc 1 a near-dup of
    0 (1-word edit, jaccard ~0.54) -> survivors are 0 and 2."""
    out = {r["doc_id"] for r in dedup.dedup_corpus(docs_df(spark), threshold=0.5).collect()}
    assert out == {0, 2}


def test_connected_components_chain(spark):
    """A-B, B-C, plus isolated D-E: components must close transitively
    (the case the single-hop keep-one rule misses)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"]
    )
    # both paths: driver union-find (default threshold) and the forced
    # distributed star rounds must agree
    for thr in (500_000, 0):
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup.connected_components(pairs, small_graph_threshold=thr).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_connected_components_self_pairs(spark):
    """A node whose only evidence is a self-pair (doc_a == doc_b) must come
    out as its own singleton cluster, and a self-pair on a connected node
    must not disturb its component label — on both paths (r6: the r5
    star-contraction rewrite silently dropped self-pair-only nodes)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 2), (5, 5)], ["doc_a", "doc_b"]
    )
    for thr in (500_000, 0):
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup.connected_components(pairs, small_graph_threshold=thr).collect()}
        assert got == {1: 1, 2: 1, 5: 5}


def test_connected_components_long_path(spark):
    """A 10-node path converges within max_iter (min propagates hop-by-hop)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 20)], ["doc_a", "doc_b"]
    )
    got = dedup.connected_components(pairs)
    assert {r["cluster_id"] for r in got.collect()} == {10}
    assert got.count() == 11


def test_connected_components_shuffled_path_log_rounds(spark):
    """The r5 regression class: a 60-node path with SHUFFLED ids (no
    monotone descent for min-propagation to ride) must fully converge —
    the old O(diameter) label propagation was still changing labels at its
    20-round cap on exactly this shape (DBSCAN core-core chains), returning
    silently-partial clusters. Star contraction is O(log n) rounds, so 30
    covers anything; verify against union-find."""
    import random

    rng = random.Random(7)
    ids = list(range(100, 160))
    rng.shuffle(ids)
    pairs = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]

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
    want = {n: find(n) for n in ids}

    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    # force the distributed star rounds: this test exists to stress THAT
    # path (the r6 small-graph fast path would otherwise absorb it)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(df, small_graph_threshold=0).collect()
    }
    assert got == want


def test_connected_components_warns_on_round_cap(spark):
    """Exhausting max_iter without edge-set convergence must WARN, not
    silently return partial clusters (max_iter=1 on a path long enough
    that one star alternation cannot finish)."""
    import warnings

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50, 80)], ["doc_a", "doc_b"]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup.connected_components(
            pairs, max_iter=1, small_graph_threshold=0
        ).collect()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "star rounds" in str(w.message)
        for w in caught
    )


def test_dedup_corpus_cc_transitive(spark):
    """dedup_corpus_cc keeps exactly one doc per near-dup chain."""
    chain = [
        (0, "aa bb cc dd ee ff gg hh"),
        (1, "aa bb cc dd ee ff gg zz"),   # near-dup of 0
        (2, "yy bb cc dd ee ff gg zz"),   # near-dup of 1, farther from 0
        (3, "totally unrelated content words here"),
    ]
    d = spark.createDataFrame(chain, ["doc_id", "text"])
    surv = {r["doc_id"] for r in dedup.dedup_corpus_cc(d, threshold=0.3).collect()}
    assert 3 in surv
    assert len(surv & {0, 1, 2}) >= 1  # at least the representative survives
    # representative is the min id of whatever component(s) formed
    assert 0 in surv


def test_stop_shingles_filters_common(spark):
    """Shingles above the doc-frequency cap are dropped; the rest survive."""
    docs = spark.createDataFrame(
        [(i, f"common boiler plate unique{i} tail{i} end{i}") for i in range(4)],
        ["doc_id", "text"],
    )
    sh = dedup.shingles(docs)
    filtered = dedup.stop_shingles(sh, max_doc_freq=2)
    kept = {r["shingle"] for r in filtered.collect()}
    assert "common boiler plate" not in kept  # df=4 > 2
    assert any(s.startswith("plate unique") for s in kept)  # df=1 survives


# ------------------------------------------------------ product quantization
def _toy_vectors(spark, n=40, dim=64):
    """Deterministic synthetic vectors: two well-separated groups so PQ codes
    must separate them."""
    rows = []
    for i in range(n):
        base = 1.0 if i % 2 == 0 else -1.0
        vec = [base + ((i * 31 + j * 7) % 97) * 0.01 for j in range(dim)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_pq_encode_shapes_and_determinism(spark):
    corpus = _toy_vectors(spark)
    cb = similarity.pq_codebook(corpus)
    enc = similarity.pq_encode(corpus, cb)
    rows = {r["vec_id"]: r["code"] for r in enc.collect()}
    assert len(rows) == 40 and all(len(c) == 8 for c in rows.values())
    # codewords come from the 16 lowest ids
    assert all(0 <= cid < 16 for c in rows.values() for cid in c)
    # codebook members encode to themselves in every subspace (d2 = 0)
    for cid in range(16):
        assert rows[cid] == [cid] * 8
    # deterministic across evaluations
    rows2 = {r["vec_id"]: r["code"] for r in similarity.pq_encode(corpus, cb).collect()}
    assert rows == rows2


def test_pq_adc_topk_separates_groups(spark):
    corpus = _toy_vectors(spark)
    q = corpus.filter(F.col("vec_id") == 0)  # positive-group query
    out = similarity.pq_adc_topk(corpus, q, k=10).collect()
    assert len(out) == 10
    # every approx-nearest neighbor of a positive vector is positive-group
    assert all(r["vec_id"] % 2 == 0 for r in out)
    # distances ascend with the (approx_d2, vec_id) tiebreak order
    ds = [(r["approx_d2"], r["vec_id"]) for r in out]
    assert ds == sorted(ds)


# ------------------------------------------------------------ feature hashing
def test_feature_hash_sparse_form(spark):
    from gmall_flink_230422_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "alpha"), (3, "")], ["doc_id", "text"]
    )
    out = text_ops.feature_hash_vectors(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["bucket"]] = r["weight"]
    # empty doc yields no rows
    assert set(by_doc) == {1, 2}
    # same token hashes identically across docs: doc1's alpha weight is
    # exactly 2x doc2's
    (b2, w2), = by_doc[2].items()
    assert by_doc[1][b2] == 2 * w2 and abs(w2) == 1
    # total L1 mass = token count (no collisions among 2 distinct tokens
    # or the assertion below catches it)
    assert sum(abs(w) for w in by_doc[1].values()) in (1, 3)  # 3 if no collision


def test_random_projection_linearity_and_signs(spark):
    signs = similarity.random_projection_signs(spark)
    rows = signs.collect()
    assert len(rows) == 16 * 64
    assert all(r["sign"] in (-1, 1) for r in rows)
    # deterministic: same matrix on re-evaluation
    assert sorted(map(tuple, rows)) == sorted(map(tuple, signs.collect()))
    # exact-binary components => exact milli quantization => projections
    # scale exactly with the input
    v1 = [0.5 if j % 3 else -0.5 for j in range(64)]
    v2 = [2 * x for x in v1]
    corpus = spark.createDataFrame([(1, v1), (2, v2)], ["vec_id", "embedding"])
    out = similarity.random_projection(corpus, signs).collect()
    p1 = {r["r"]: r["proj_milli"] for r in out if r["vec_id"] == 1}
    p2 = {r["r"]: r["proj_milli"] for r in out if r["vec_id"] == 2}
    assert set(p1) == set(range(16))
    assert all(p2[r] == 2 * p1[r] for r in p1)


def test_duplicated_spans_merge_and_self_repeat(spark):
    """duplicated_spans: cross-doc shared 8-grams become merged maximal
    spans; a within-doc self-repeat also counts (the suffix-array
    semantics); unique text yields no spans."""
    from gmall_flink_230422_spark.operators.dedup import duplicated_spans

    boiler = "the quick brown fox jumps over the lazy dog again and more"  # 12 toks
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique tail one alpha beta"),
            (2, "prefix words here " + boiler),
            (3, "totally different text with no overlap at all whatsoever kept"),
            # self-repeat: the same 8 tokens twice in ONE doc
            (4, "a b c d e f g h SEP a b c d e f g h"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_dup_grams"])
        for r in duplicated_spans(docs).collect()
    }
    # docs 1+2 share the 12-token boilerplate: 5 gram starts, one span
    assert out[1] == (1, 12, 5)       # boilerplate at doc start
    assert out[2] == (4, 15, 5)       # shifted by the 3-token prefix
    assert 3 not in out               # unique doc: no duplicated span
    # doc 4: positions 1 and 10 share 'a b c d e f g h' -> two spans
    # (ranges [1,8] and [10,17] are not adjacent: 10 > 8 + 1)
    rows4 = sorted(
        (r["span_start"], r["span_end"])
        for r in duplicated_spans(docs).filter("doc_id = 4").collect()
    )
    assert rows4 == [(1, 8), (10, 17)]


def test_embedding_drift_detects_shifted_dim(spark):
    # even ids (base) and odd ids (candidate) identical except dim 2, which
    # is shifted by +1.0 in the candidate cohort -> dim 2 must rank first
    # with drift_num = |sum_a*cnt_b - sum_b*cnt_a| = 2*2*1000 = 4000
    rows = [
        (vid, [0.5, -0.25, 1.0 + (1.0 if vid % 2 else 0.0), 0.125])
        for vid in range(4)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.embedding_drift(df, top_k=4).collect()
    assert out[0]["dim"] == 2 and out[0]["drift_num"] == 4000
    # undrifted dims: identical cohorts -> zero cross-multiplied difference
    assert {r["drift_num"] for r in out[1:]} == {0}
    assert all(r["cnt_a"] == 2 and r["cnt_b"] == 2 for r in out)


def test_mmr_rerank_prefers_diversity(spark):
    # a and a2 are exact clones; b is equally relevant to q but wobbles in
    # an orthogonal direction. Pure top-2 relevance is a 3-way tie broken by
    # id ({a, a2}); MMR must pick a first, then b — the clone's sim=1.0
    # penalty (score 2*rel-10000) loses to b's partial sim even at λ=0.5.
    rows = [
        (0, [1.0, 0.0, 0.0]),      # the query itself (excluded)
        (1, [0.99, 0.14, 0.0]),    # a: most relevant (by id tiebreak)
        (2, [0.99, 0.14, 0.0]),    # a2: exact clone of a
        (3, [0.99, 0.0, 0.14]),    # b: same relevance, diverse direction
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 0)
    out = similarity.mmr_rerank(df, q, k_candidates=3, k_select=2)
    got = {r["sel_rank"]: r["vec_id"] for r in out.collect()}
    assert got == {1: 1, 2: 3}


def test_mmr_rank1_is_pure_relevance_scaled(spark):
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 0)
    out = {r["sel_rank"]: r for r in similarity.mmr_rerank(df, q, k_candidates=2, k_select=2).collect()}
    # rank 1: cos=1.0 -> rel=10000, score=2*rel
    assert out[1]["vec_id"] == 1 and out[1]["mmr_score"] == 20000
    # rank 2: rel=0, max_sim to selected = 0 -> score 0
    assert out[2]["vec_id"] == 2 and out[2]["mmr_score"] == 0


def test_knn_graph_mutual_flags(spark):
    # bucket split on sign of dim 0: {1,2,3} share a bucket, {4} is alone
    # (negative first component) -> 4 emits no edges (no bucket-mates).
    # Within the bucket, 1<->2 are closest (mutual); 3's nearest is 2.
    rows = [
        (1, [1.0, 0.0, 0.1]),
        (2, [1.0, 0.05, 0.1]),
        (3, [0.2, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.knn_graph(df, k=1, dims=1)
    got = {(r["src"], r["dst"]): r["mutual"] for r in out.collect()}
    assert got == {(1, 2): 1, (2, 1): 1, (3, 2): 0}


def test_embedding_clusters_via_mutual_cc(spark):
    from gmall_flink_230422_spark.operators import dedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.99, 0.01]),   # clusters with 1
        (5, [0.02, 1.0]),
        (6, [0.01, 0.99]),   # clusters with 5 — all four share sign bucket 1
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    g = similarity.knn_graph(df, k=1, dims=1)
    edges = g.filter((F.col("mutual") == 1) & (F.col("src") < F.col("dst"))).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    labels = {r["doc_id"]: r["cluster_id"] for r in dedup.connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 5: 5, 6: 5}


def test_multiprobe_superset_of_single_probe(spark):
    """Multi-probe LSH includes the home bucket, so its result set can only
    improve on single-probe: every single-probe hit at full k appears in
    the multiprobe scoring pool, and recall@10 vs brute force is >= ."""
    from gmall_flink_230422_spark.io import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id").isin(0, 1, 2))
    exact = {(r["query_id"], r["vec_id"])
             for r in similarity.brute_force_topk(e, q, k=10).collect()}
    single = {(r["query_id"], r["vec_id"])
              for r in similarity.lsh_topk(e, q, k=10, dims=8).collect()}
    multi = {(r["query_id"], r["vec_id"])
             for r in similarity.lsh_multiprobe_topk(e, q, k=10, dims=8).collect()}
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)


def test_connected_components_paths_agree_on_random_graphs(spark):
    """The r6 small-graph fast path (driver union-find) and the distributed
    star rounds must produce IDENTICAL labelings on arbitrary graphs —
    mixed components, self-pairs, duplicate and reversed edges."""
    import random

    rng = random.Random(13)
    for trial in range(3):
        n = 40 + trial * 30
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(n + trial * 20)
        ]
        edges += [(i, i) for i in rng.sample(range(n), 5)]  # self-pairs
        df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        fast = {
            (r["doc_id"], r["cluster_id"])
            for r in dedup.connected_components(df).collect()
        }
        dist = {
            (r["doc_id"], r["cluster_id"])
            for r in dedup.connected_components(
                df, small_graph_threshold=0
            ).collect()
        }
        assert fast == dist, f"trial {trial}: paths disagree"

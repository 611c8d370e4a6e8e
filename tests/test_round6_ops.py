"""Round-6 operators: hand-sized semantic checks complementing the DuckDB
oracle parity the registry queries get (x_winnowing, x_source_divergence,
x_mix_waterfill, x_coverage_curve)."""

from __future__ import annotations

import hashlib

from gmall_flink_230422_spark.plans import registry

SF = "/root/testdata/sf0.001"


def _rows(spark, name):
    return registry()[name].fn(spark, SF).collect()


def test_winnowing_matches_reference_python(spark):
    """Mirror the winnowing selection in plain Python for one document and
    compare counts — pins the window/tie semantics, not just cross-engine
    parity (both engines could share a bug; this can't)."""
    doc = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter("doc_id = 0")
        .collect()[0]
    )
    toks = doc["text"].lower().strip().split()
    grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]

    def h(g):
        return int(hashlib.md5(f"win:{g}".encode()).hexdigest()[:15], 16) % (1 << 40)

    POS_M = 1 << 20
    enc = [h(g) * POS_M + (POS_M - 1 - (i + 1)) for i, g in enumerate(grams)]
    sel = set()
    w = 4
    for end in range(min(w, len(enc)), len(enc) + 1):
        sel.add(min(enc[max(0, end - w) : end]))
    got = {r["doc_id"]: r for r in _rows(spark, "x_winnowing")}
    assert got[0]["n_grams"] == len(grams)
    assert got[0]["n_selected"] == len(sel)
    assert got[0]["density_milli"] == len(sel) * 1000 // len(grams)


def test_winnowing_density_near_theoretical(spark):
    """Winnowing selects ~2/(w+1) of positions on random-ish hashes: with
    w=4 that's 400/1000. Allow a wide band; the point is it's neither
    ~0 (selection broken) nor ~1000 (window broken)."""
    rows = _rows(spark, "x_winnowing")
    densities = [r["density_milli"] for r in rows]
    avg = sum(densities) / len(densities)
    assert 250 < avg < 600, avg


def test_mix_waterfill_invariants(spark):
    rows = _rows(spark, "x_mix_waterfill")
    summary = [r for r in rows if r["source"] == "__summary__"][0]
    domains = [r for r in rows if r["source"] != "__summary__"]
    level = summary["level_tokens"]
    budget = summary["avail_tokens"] // 2
    assert summary["alloc_tokens"] + summary["leftover_tokens"] == budget
    # leftover is only the integer-division remainder spread over the
    # unsaturated domains
    assert 0 <= summary["leftover_tokens"] < len(domains)
    for r in domains:
        assert r["alloc_tokens"] == min(r["avail_tokens"], level)
        assert r["saturated"] == (1 if r["avail_tokens"] <= level else 0)
    assert sum(r["alloc_tokens"] for r in domains) == summary["alloc_tokens"]


def test_coverage_curve_monotone_and_bounded(spark):
    rows = sorted(_rows(spark, "x_coverage_curve"), key=lambda r: r["target_k"])
    assert [r["target_k"] for r in rows] == [10, 100, 1000]
    last = 0
    for r in rows:
        assert r["eff_rank"] <= r["target_k"]
        assert last <= r["coverage_ppm"] <= 1_000_000
        last = r["coverage_ppm"]
    # the fixture vocabulary is tiny: the curve must saturate at full mass
    assert rows[-1]["coverage_ppm"] >= 999_990


def test_source_divergence_bounds(spark):
    rows = _rows(spark, "x_source_divergence")
    srcs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("source")
        .distinct()
        .count()
    )
    assert len(rows) == srcs
    for r in rows:
        assert 0 <= r["tv_ppm"] <= 1_000_000
        assert r["chi2_ppm"] >= 0
        assert r["n_tokens"] > 0


def test_holt_winters_recursion_matches_python(spark):
    """Re-run the level/trend recursion in plain Python for one key."""
    rows = [r for r in _rows(spark, "e_holt_winters") if r["event_type"] == "click"]
    rows.sort(key=lambda r: r["dt"])

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    level = trend = None
    for r in rows:
        y = r["day_cents"]
        if level is None:
            assert r["pred_cents"] is None
            level, trend = y, 0
        else:
            pred = level + trend
            assert r["pred_cents"] == pred
            new_level = pred + tdiv(y - pred, 2)
            trend = trend + tdiv(new_level - level - trend, 4)
            level = new_level
        assert r["level_cents"] == level
        assert r["trend_cents"] == trend


def test_lorenz_curve_shape(spark):
    rows = _rows(spark, "e_lorenz")
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["segment"], []).append(r)
    for seg, rs in by_seg.items():
        rs.sort(key=lambda r: r["decile"])
        assert [r["decile"] for r in rs] == list(range(len(rs)))
        shares = [r["cum_share_ppm"] for r in rs]
        assert shares == sorted(shares)  # monotone
        assert shares[-1] == 1_000_000  # full mass at the top decile
        # equal-count cut: decile sizes differ by at most 1
        sizes = [r["n_orders"] for r in rs]
        assert max(sizes) - min(sizes) <= 1


def test_safety_screen_consistency(spark):
    rows = {r["category"]: r for r in _rows(spark, "x_safety_screen")}
    assert "__any__" in rows
    cats = [r for c, r in rows.items() if c != "__any__"]
    assert rows["__any__"]["docs_flagged"] <= sum(r["docs_flagged"] for r in cats)
    assert rows["__any__"]["docs_flagged"] >= max(r["docs_flagged"] for r in cats)
    for r in cats:
        assert r["term_hits"] >= r["docs_flagged"]
        assert 0 <= r["flag_rate_milli"] <= 1000


def test_stream_benford_equals_batch(spark):
    batch = {tuple(sorted(r.asDict().items())) for r in _rows(spark, "e_benford")}
    stream = {tuple(sorted(r.asDict().items()))
              for r in _rows(spark, "s_stream_benford")}
    assert batch == stream


def test_winnow_pairs_detect_duplicate_docs(spark):
    """The sf0.001 fixture contains near-identical docs (the dedup suite
    relies on them); shared-run pairs must surface with high overlap and
    every pair must satisfy basic sanity."""
    rows = _rows(spark, "x_winnow_pairs")
    assert rows, "no candidate pairs found"
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert r["shared_fps"] >= 1
        assert 0 < r["overlap_milli"] <= 1000


def test_entropy_filter_orders_repetitive_first(spark):
    rows = _rows(spark, "x_entropy_filter")
    ents = [r["entropy_milli"] for r in rows]
    assert ents == sorted(ents)
    for r in rows:
        assert r["distinct_tokens"] <= r["n_tokens"]
        # entropy of a distribution over k outcomes is <= ln(k)
        import math
        assert r["entropy_milli"] <= math.log(r["distinct_tokens"]) * 1000 + 1


def test_prefix_templates_summary(spark):
    rows = _rows(spark, "x_prefix_templates")
    summary = [r for r in rows if r["prefix"] == "__summary__"][0]
    tops = [r for r in rows if r["prefix"] != "__summary__"]
    assert 0 <= summary["templated_milli"] <= 1000
    assert summary["n_docs"] >= sum(0 for _ in tops)  # summary counts all templated docs
    for r in tops:
        assert r["n_docs"] >= 2
        assert r["templated_milli"] is None


def test_stream_safety_screen_equals_batch(spark):
    batch = {tuple(sorted(r.asDict().items()))
             for r in _rows(spark, "x_safety_screen")}
    stream = {tuple(sorted(r.asDict().items()))
              for r in _rows(spark, "s_stream_safety_screen")}
    assert batch == stream


def test_stream_holt_equals_batch(spark):
    batch = {tuple(sorted(r.asDict().items()))
             for r in _rows(spark, "e_holt_winters")}
    stream = {tuple(sorted(r.asDict().items()))
              for r in _rows(spark, "s_stream_holt")}
    assert batch == stream


def test_dedup_f1_consistency(spark):
    r = _rows(spark, "x_dedup_f1")[0]
    assert 0 < r["n_tp"] <= min(r["n_true_pairs"], r["n_candidate_pairs"])
    p, rc, f1 = r["precision"], r["recall"], r["f1"]
    assert 0 <= p <= 1 and 0 <= rc <= 1
    # F1 lies between min and max of P and R (harmonic-mean property;
    # integer flooring can push it 1e-4 under the min)
    assert min(p, rc) - 0.0002 <= f1 <= max(p, rc) + 0.0002


def test_ngram_novelty_bounds(spark):
    r = _rows(spark, "x_ngram_novelty")[0]
    assert 0 < r["novel_incidences"] <= r["held_incidences"]
    assert 0 < r["novel_types"] <= r["held_types"]
    assert 0 <= r["incidence_novelty_milli"] <= 1000
    # type novelty >= incidence novelty is NOT guaranteed in general, but
    # novel types can't exceed novel incidences
    assert r["novel_types"] <= r["novel_incidences"]


def test_dup_inflation_consistency(spark):
    rows = _rows(spark, "x_dup_inflation")
    tot = [r for r in rows if r["source"] == "__total__"][0]
    per = [r for r in rows if r["source"] != "__total__"]
    assert tot["n_docs"] == sum(r["n_docs"] for r in per)
    assert tot["tokens_all"] == sum(r["tokens_all"] for r in per)
    assert tot["inflation_milli"] >= 1000
    for r in per:
        assert r["tokens_unique"] <= r["tokens_all"]


def test_hard_negatives_cross_class_only(spark):
    rows = _rows(spark, "x_hard_negatives")
    emb = {r["vec_id"]: r["label"] for r in
           spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "label").collect()}
    by_q = {}
    for r in rows:
        assert r["neg_label"] != emb[r["query_id"]]
        assert emb[r["vec_id"]] == r["neg_label"]
        by_q.setdefault(r["query_id"], []).append(r["cos_sim"])
    for q, sims in by_q.items():
        assert len(sims) == 5
        assert sims == sorted(sims, reverse=True)


def test_label_balance_weights(spark):
    rows = _rows(spark, "x_label_balance")
    total = sum(r["n_vecs"] for r in rows)
    k = len(rows)
    for r in rows:
        assert r["weight_milli"] == total * 1000 // (k * r["n_vecs"])


def test_cluster_size_hist_accounts_every_doc(spark):
    rows = _rows(spark, "x_cluster_size_hist")
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["cluster_size"] * r["n_clusters"] for r in rows) == n_docs
    assert all(r["n_clusters"] >= 0 for r in rows)


def test_theil_nonnegative_and_zero_for_uniform(spark):
    # Theil >= 0 up to the micro-floor (each term floors down by < 1 micro)
    for r in _rows(spark, "e_theil"):
        assert r["theil_micro"] >= -1
        assert r["theil_micro"] < 10_000_000  # ln(n) bound, loose


def test_funnel_latency_buckets(spark):
    rows = _rows(spark, "e_funnel_latency")
    assert rows
    for r in rows:
        b = r["gap_bucket"]
        lo = 0 if b == 1 else 1 << (b - 1)
        hi = (1 << b) - 1
        assert lo <= r["min_gap_s"] <= r["max_gap_s"] <= hi


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing theorem (Schleimer et al. §3): any shared substring of
    length >= w + k - 1 tokens (here 4 + 3 - 1 = 6) forces the two docs to
    share at least one selected fingerprint, regardless of surrounding
    text. Build doc pairs embedding the same 6-token run at different
    positions and check the selection frames intersect on raw hashes."""
    from pyspark.sql import functions as F
    from gmall_flink_230422_spark.plans.dedupq import winnow_selected

    run = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, f"one two {run} three four five"),
            (2, f"{run} six seven eight nine ten eleven"),
            (3, "totally different words with no common run at all here"),
        ],
        "doc_id long, text string",
    )
    sel = winnow_selected(docs)
    fps = (
        sel.select("doc_id", F.expr("CAST(enc_sel DIV 1048576 AS BIGINT)").alias("fp"))
        .distinct()
        .collect()
    )
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "docs sharing a 6-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_sequential_pattern_support_sane(spark):
    rows = _rows(spark, "e_sequential_pattern")
    assert rows
    supports = [r["n_users"] for r in rows]
    assert supports == sorted(supports, reverse=True)
    for r in rows:
        assert r["seq3"].count(">") == 2
        assert r["n_occurrences"] >= r["n_users"]


def test_dau_wau_stickiness(spark):
    rows = sorted(_rows(spark, "e_dau_wau"), key=lambda r: r["dt"])
    for r in rows:
        assert 0 < r["dau"] <= r["wau"]
        assert 0 < r["stickiness_milli"] <= 1000
    # the first day's trailing week is just itself
    assert rows[0]["dau"] == rows[0]["wau"]
    assert rows[0]["stickiness_milli"] == 1000


def test_dedup_threshold_curve_monotone(spark):
    rows = sorted(_rows(spark, "x_dedup_threshold_curve"),
                  key=lambda r: r["threshold_e1"])
    assert [r["threshold_e1"] for r in rows] == [3, 5, 7]
    # raising the truth threshold shrinks the truth set monotonically
    truths = [r["n_true_pairs"] for r in rows]
    assert truths == sorted(truths, reverse=True)
    # candidate set is threshold-independent
    assert len({r["n_candidate_pairs"] for r in rows}) == 1
    for r in rows:
        assert 0 <= r["precision"] <= 1 and 0 <= r["recall"] <= 1


def test_stream_entropy_equals_batch(spark):
    batch = {tuple(sorted(r.asDict().items()))
             for r in _rows(spark, "x_entropy_filter")}
    stream = {tuple(sorted(r.asDict().items()))
              for r in _rows(spark, "s_stream_entropy_filter")}
    assert batch == stream

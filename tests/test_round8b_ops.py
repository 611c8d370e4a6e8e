"""Round-8 batch-6 operators: independent local mirrors for the new
rank-eval / privacy / rank-statistics queries (x_ndcg_labels,
x_l_diversity, e_mann_whitney, e_theil_sen, e_kendall_tau). Each test
recomputes the statistic with plain Python on the sf0.001 fixtures and
compares the Spark result exactly on the shared integer grids."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F

from gmall_flink_230422_spark.plans.r8 import (
    _NDCG_DISC,
    _NDCG_PS,
    q_kendall_tau,
    q_l_diversity,
    q_mann_whitney,
    q_ndcg_labels,
    q_theil_sen,
)

SF = "/root/testdata/sf0.001"


def _seq_dot(a, b):
    # sequential left-fold, matching F.aggregate's evaluation order
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def test_ndcg_labels_matches_local_mirror(spark):
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    rows = {r["query_id"]: r for r in q_ndcg_labels(spark, SF).collect()}
    for qid in (0, 1, 2):
        q = emb[emb.vec_id == qid].iloc[0]
        cand = emb[emb.vec_id != qid]
        scored = []
        for _, c in cand.iterrows():
            cs = _seq_dot(c.embedding, q.embedding) / (
                math.sqrt(_seq_dot(c.embedding, c.embedding))
                * math.sqrt(_seq_dot(q.embedding, q.embedding))
            )
            scored.append((math.floor(cs * 10000) / 10000, int(c.vec_id), int(c.label)))
        scored.sort(key=lambda t: (-t[0], t[1]))
        rel = [1 if lab == q.label else 0 for _, _, lab in scored]
        dcg = sum(r * d for r, d in zip(rel[:10], _NDCG_DISC))
        idcg = _NDCG_PS[min(sum(rel), 10)]
        got = rows[qid]
        assert got["n_rel"] == sum(rel)
        assert got["dcg_micro"] == dcg
        assert got["idcg_micro"] == idcg
        assert idcg > 0  # 10 labels over 500 docs: every query has relevant docs
        assert got["ndcg_milli"] == (1000 * dcg) // idcg
        assert 0 <= got["ndcg_milli"] <= 1000


def test_l_diversity_mirror(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    docs["len_bucket"] = docs.n_chars // 200
    g = docs.groupby(["source", "len_bucket"]).agg(
        k_size=("doc_id", "size"), l_div=("lang", "nunique")
    )
    out = q_l_diversity(spark, SF).collect()
    assert len(out) == len(g)
    for r in out:
        e = g.loc[(r["source"], r["len_bucket"])]
        assert r["k_size"] == e.k_size and r["l_div"] == e.l_div
        assert r["k_violation"] == int(e.k_size < 5)
        assert r["l_violation"] == int(e.l_div < 2)


def test_mann_whitney_exact_pair_count(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    a = sorted(round(v * 100) for v in ev[ev.event_type == "click"].value)
    b = sorted(round(v * 100) for v in ev[ev.event_type == "view"].value)
    # brute-force 2*U1: #(a>b) pairs twice + ties once
    u1x2 = sum(2 if x > y else (1 if x == y else 0) for x in a for y in b)
    r = q_mann_whitney(spark, SF).collect()[0]
    assert (r["n_click"], r["n_view"], r["u1_x2"]) == (len(a), len(b), u1x2)
    z = (1000 * (u1x2 - len(a) * len(b))) / (
        2 * math.sqrt(len(a) * len(b) * (len(a) + len(b) + 1) / 12.0)
    )
    assert r["z_milli"] == math.floor(z)


def _trunc_div(num: int, den: int) -> int:
    """Integer division truncating toward zero — Spark `div` / DuckDB `//`."""
    q = abs(num) // abs(den)
    return q if (num >= 0) == (den > 0) else -q


def test_theil_sen_is_lower_median_of_pair_slopes(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["day"] = ev.ts.dt.normalize()
    daily = ev.groupby(["event_type", "day"]).value.sum().mul(100).round().astype(int)
    got = {r["event_type"]: r for r in q_theil_sen(spark, SF).collect()}
    for et in ev.event_type.unique():
        s = daily[et]
        days = list(s.index)
        slopes = sorted(
            _trunc_div(1000 * (int(s.iloc[j]) - int(s.iloc[i])), (days[j] - days[i]).days)
            for i in range(len(days))
            for j in range(i + 1, len(days))
        )
        n = len(slopes)
        assert got[et]["n_pairs"] == n
        assert got[et]["med_slope_milli"] == slopes[(n + 1) // 2 - 1]


def test_kendall_tau_pair_counts(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["day"] = ev.ts.dt.normalize()
    x = ev[ev.event_type == "click"].groupby("day").size()
    y = ev[ev.event_type == "purchase"].groupby("day").size()
    days = sorted(set(ev.day))
    xs = [int(x.get(d, 0)) for d in days]
    ys = [int(y.get(d, 0)) for d in days]
    conc = disc = tx = ty = 0
    n = len(days)
    for i in range(n):
        for j in range(i + 1, n):
            sx = (xs[j] > xs[i]) - (xs[j] < xs[i])
            sy = (ys[j] > ys[i]) - (ys[j] < ys[i])
            conc += sx * sy == 1
            disc += sx * sy == -1
            tx += sx == 0
            ty += sy == 0
    r = q_kendall_tau(spark, SF).collect()[0]
    assert (r["concordant"], r["discordant"], r["ties_x"], r["ties_y"]) == (
        conc, disc, tx, ty,
    )
    assert r["n_pairs"] == n * (n - 1) // 2
    assert r["tau_a_milli"] == _trunc_div(1000 * (conc - disc), r["n_pairs"])


def test_dp_counts_noise_mirror(spark):
    """Noise must be the exact hash-derived two-sided geometric draw:
    magnitude = trailing zeros of the low 16 hash bits, sign = bit 16."""
    import hashlib

    from gmall_flink_230422_spark.plans.r8 import q_dp_counts

    out = q_dp_counts(spark, SF).collect()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    truth = docs.groupby(["source", "lang"]).size()
    assert len(out) == len(truth)
    for r in out:
        h = int(hashlib.md5(f"dp:{r['source']}/{r['lang']}".encode()).hexdigest()[:15], 16)
        hm = h % 65536
        mag = 16 if hm == 0 else (hm & -hm).bit_length() - 1
        sign = ((h // 65536) % 2) * 2 - 1
        assert r["true_n"] == truth.loc[(r["source"], r["lang"])]
        assert r["noise"] == sign * mag
        assert abs(r["noise"]) <= 16
        assert r["noisy_n"] == max(r["true_n"] + r["noise"], 0) >= 0


def test_kcenter_coreset_matches_greedy_mirror(spark):
    """Exact farthest-point greedy mirror: per-dim sequential fold (the
    zip_with order), same fixed-point grid, same (mind DESC, vec_id)
    tie-break — centers and radii must match round for round."""
    import numpy as np

    from gmall_flink_230422_spark.plans.r8 import _KC_ROUNDS, q_kcenter_coreset

    emb = pd.read_parquet(f"{SF}/embeddings.parquet").sort_values("vec_id")
    ids = emb.vec_id.to_numpy()
    X = np.stack(emb.embedding.to_numpy()).astype(np.float64)

    def grid_dist(c):
        d2 = np.zeros(len(X))
        for dim in range(X.shape[1]):  # sequential over dims = zip_with fold
            d2 += (X[:, dim] - c[dim]) ** 2
        return np.floor(np.sqrt(d2) * 10000).astype(np.int64)

    centers, radii = [int(ids[0])], []
    mind = grid_dist(X[0])
    radii.append(int(mind.max()))
    for _ in range(_KC_ROUNDS - 1):
        best = np.lexsort((ids, -mind))[0]  # max mind, tie -> min vec_id
        centers.append(int(ids[best]))
        mind = np.minimum(mind, grid_dist(X[best]))
        radii.append(int(mind.max()))
    got = sorted(q_kcenter_coreset(spark, SF).collect(), key=lambda r: r["sel_round"])
    assert [r["center_id"] for r in got] == centers
    assert [r["radius_fp"] for r in got] == radii
    assert all(a >= b for a, b in zip(radii, radii[1:]))  # cover radius shrinks


def test_label_prop_seeds_mirror_given_edges(spark):
    """Given the (already oracle-tested) kNN edges, the 2-round majority
    propagation must match a plain-Python mirror exactly."""
    from collections import Counter

    from gmall_flink_230422_spark.operators import similarity as sim2
    from gmall_flink_230422_spark.plans.llm import _embs_par
    from gmall_flink_230422_spark.plans.r8 import _LP_ROUNDS, q_label_prop_seeds

    e = _embs_par(spark, SF)
    edges = [(r["src"], r["dst"]) for r in sim2.knn_graph(e, k=3, dims=6).collect()]
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    true = dict(zip(emb.vec_id, emb.label.astype(int)))
    lab = {v: (true[v] if v % 10 == 0 else None) for v in true}
    out_edges = {}
    for s, d in edges:
        out_edges.setdefault(s, []).append(d)
    for _ in range(_LP_ROUNDS):
        new = dict(lab)
        for v in true:
            if v % 10 == 0:
                continue
            votes = Counter(lab[u] for u in out_edges.get(v, []) if lab[u] is not None)
            if votes:
                best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
                new[v] = best
        lab = new
    mirror = Counter((true[v], lab[v] if lab[v] is not None else -1) for v in true)
    got = {(r["true_label"], r["pred_label"]): r["n_vecs"] for r in q_label_prop_seeds(spark, SF).collect()}
    assert got == dict(mirror)


def test_graph_modularity_mirror_given_edges(spark):
    """Given the mutual kNN edges, per-label tallies and the integer Q
    must match a plain-Python mirror; Q bounded in [-1000, 1000]."""
    from gmall_flink_230422_spark.operators import similarity as sim2
    from gmall_flink_230422_spark.plans.llm import _embs_par
    from gmall_flink_230422_spark.plans.r8 import q_graph_modularity

    e = _embs_par(spark, SF)
    g = sim2.knn_graph(e, k=3, dims=6).collect()
    edges = [(r["src"], r["dst"]) for r in g if r["mutual"] == 1 and r["src"] < r["dst"]]
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    lab = dict(zip(emb.vec_id, emb.label.astype(int)))
    m = len(edges)
    e_in, d_sum = {}, {}
    for s, d in edges:
        if lab[s] == lab[d]:
            e_in[lab[s]] = e_in.get(lab[s], 0) + 1
        d_sum[lab[s]] = d_sum.get(lab[s], 0) + 1
        d_sum[lab[d]] = d_sum.get(lab[d], 0) + 1
    labels = sorted(set(lab.values()))
    q = _trunc_div(
        1000 * sum(4 * m * e_in.get(c, 0) - d_sum.get(c, 0) ** 2 for c in labels),
        4 * m * m,
    )
    got = q_graph_modularity(spark, SF).collect()
    assert len(got) == len(labels)
    for r in got:
        c = r["label"]
        assert r["n_nodes"] == sum(1 for v in lab.values() if v == c)
        assert r["e_in"] == e_in.get(c, 0)
        assert r["d_sum"] == d_sum.get(c, 0)
        assert r["q_milli"] == q
        assert -1000 <= r["q_milli"] <= 1000
    assert sum(r["d_sum"] for r in got) == 2 * m


def test_degree_assortativity_bounds(spark):
    """r_milli is a Pearson correlation scaled to milli: |r| <= 1000, and
    the edge count equals twice the undirected verified-pair count."""
    from gmall_flink_230422_spark.operators import dedup
    from gmall_flink_230422_spark.plans.llm import _docs_par
    from gmall_flink_230422_spark.plans.r8 import q_degree_assortativity

    n_pairs = dedup.near_dup_chain(dedup.shingles(_docs_par(spark, SF))).near.count()
    r = q_degree_assortativity(spark, SF).collect()[0]
    assert r["n_edges"] == 2 * n_pairs
    if r["r_milli"] is not None:
        assert -1000 <= r["r_milli"] <= 1000


def test_coverage_max_greedy_mirror(spark):
    """Given the (source, token) set, the 3 greedy picks, marginal gains
    and cumulative coverage must match a plain-Python greedy mirror."""
    from gmall_flink_230422_spark.operators.text import normalize_text, whitespace_tokens
    from gmall_flink_230422_spark.plans.llm import _docs_par
    from gmall_flink_230422_spark.plans.r8 import _MC_ROUNDS, q_coverage_max

    d = _docs_par(spark, SF)
    st = (
        d.select("source", F.explode(whitespace_tokens(normalize_text(F.col("text")))).alias("tok"))
        .distinct()
        .collect()
    )
    by_src = {}
    for r in st:
        by_src.setdefault(r["source"], set()).add(r["tok"])
    covered: set = set()
    picked: set = set()
    expect = []
    for rnd in range(1, _MC_ROUNDS + 1):
        gains = sorted(
            ((len(toks - covered), s) for s, toks in by_src.items() if s not in picked),
            key=lambda t: (-t[0], t[1]),
        )
        g, s = gains[0]
        covered |= by_src[s]
        picked.add(s)
        expect.append((rnd, s, g, len(covered)))
    got = [
        (r["sel_round"], r["source"], r["gain"], r["covered_total"])
        for r in sorted(q_coverage_max(spark, SF).collect(), key=lambda r: r["sel_round"])
    ]
    assert got == expect
    # marginal gains are non-increasing (submodularity of set cover)
    assert all(a[2] >= b[2] for a, b in zip(expect, expect[1:]))


def test_rbo_rankings_mirror(spark):
    """RBO@50 must equal the suffix-weight mirror over the two top-50
    lists built from the same integer score grids."""
    from gmall_flink_230422_spark.operators import text as _text
    from gmall_flink_230422_spark.plans.llm import _docs_par
    from gmall_flink_230422_spark.plans.r8 import _RBO_SUF, q_rbo_rankings

    d = _docs_par(spark, SF)
    qf = {r["doc_id"]: r["qx"] for r in _text.quality_features(d).select(
        "doc_id", F.floor(F.col("quality_score") * 10000).cast("bigint").alias("qx")).collect()}
    lm = {r["doc_id"]: r["qy"] for r in _text.lm_surprisal_score(d)
          .filter(F.col("avg_surprisal").isNotNull()).select(
        "doc_id", F.floor(F.col("avg_surprisal") * 10000).cast("bigint").alias("qy")).collect()}
    both = sorted(set(qf) & set(lm))
    a = sorted(both, key=lambda i: (-qf[i], i))[:50]
    b = sorted(both, key=lambda i: (lm[i], i))[:50]
    ra = {i: k + 1 for k, i in enumerate(a)}
    rb = {i: k + 1 for k, i in enumerate(b)}
    common = set(a) & set(b)
    nano = sum(_RBO_SUF[max(ra[i], rb[i]) - 1] for i in common)
    r = q_rbo_rankings(spark, SF).collect()[0]
    assert r["n_common"] == len(common)
    assert r["rbo_nano"] == nano
    assert r["rbo_milli"] == nano // 1000000
    assert 0 <= r["rbo_milli"] <= 995  # 1 - 0.9^50 truncation ceiling


def test_chisq_independence_mirror(spark):
    from gmall_flink_230422_spark.plans.r8 import q_chisq_independence

    ev = pd.read_parquet(f"{SF}/events.parquet")
    # parquet ts is timestamp[us]; epoch seconds = int64 value // 1e6
    ev["dow"] = ((ev.ts.astype("int64") // 10**6) // 86400 + 4) % 7
    tab = ev.groupby(["event_type", "dow"]).size()
    n = len(ev)
    rows = tab.groupby("event_type").sum()
    cols = tab.groupby("dow").sum()
    chi2 = sum(
        math.floor(
            float(n * o - rows[et] * cols[dw]) * float(n * o - rows[et] * cols[dw])
            * 1000000.0 / (float(n) * float(rows[et]) * float(cols[dw]))
        )
        for (et, dw), o in tab.items()
    )
    r = q_chisq_independence(spark, SF).collect()[0]
    assert (r["n_events"], r["n_types"], r["n_dows"]) == (n, tab.index.get_level_values(0).nunique(), tab.index.get_level_values(1).nunique())
    assert r["chi2_micro"] == chi2
    dof_min = min(r["n_types"] - 1, r["n_dows"] - 1)
    assert r["cramers_v_milli"] == math.floor(1000 * math.sqrt((chi2 / 1e6) / (n * dof_min)))
    assert 0 <= r["cramers_v_milli"] <= 1000


def test_two_proportion_z_mirror(spark):
    from gmall_flink_230422_spark.plans.r8 import q_two_proportion_z

    ev = pd.read_parquet(f"{SF}/events.parquet")
    a = ev[ev.user_id % 2 == 0]
    b = ev[ev.user_id % 2 == 1]
    xa, xb = (a.event_type == "purchase").sum(), (b.event_type == "purchase").sum()
    na, nb = len(a), len(b)
    p = (xa + xb) / (na + nb)
    z = (1000.0 * (xa / na - xb / nb)) / math.sqrt(p * (1 - p) * (1 / na + 1 / nb))
    r = q_two_proportion_z(spark, SF).collect()[0]
    assert (r["n_a"], r["x_a"], r["n_b"], r["x_b"]) == (na, xa, nb, xb)
    assert r["z_milli"] == math.floor(z)

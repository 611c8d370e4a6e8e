"""Property tests for the round-9 statistics: trimmed mean vs a sorted
Python reference (random values incl. heavy boundary ties), CUSUM change
day vs a brute-force reference, t-closeness VD vs a direct computation,
and Mann-Kendall S vs the pairwise definition. Each runs the QUERY over a
tmp-dir parquet fixture, so the whole Spark path is what is being pinned.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import Row

from gmall_flink_230422_spark.plans import analytics, evalq


def _ev_rows(vals_by_type_day):
    rows, i = [], 0
    for (etype, day), vals in vals_by_type_day.items():
        for v in vals:
            rows.append(
                Row(
                    event_id=i,
                    ts=dt.datetime.fromisoformat(f"{day} 12:00:00"),
                    user_id=1,
                    event_type=etype,
                    value=float(v),
                    props="{}",
                )
            )
            i += 1
    return rows


def _write_events(spark, tmp_path, rows, sub=""):
    p = tmp_path / f"ev{sub}"
    p.mkdir(exist_ok=True)
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
        str(p / "events.parquet")
    )
    return str(p)


def test_trimmed_mean_matches_sorted_reference(spark, tmp_path):
    """Random integer-cent values with deliberate duplicate runs: the
    histogram trim must equal dropping exactly n div 10 rows off each end
    of the SORTED multiset."""
    rng = random.Random(41)
    for trial in range(3):
        vals = [rng.choice([1, 2, 2, 2, 3, 7, 7, 50, 99]) for _ in range(rng.randint(12, 40))]
        rows = _ev_rows({("click", "2023-04-01"): vals})
        sf = _write_events(spark, tmp_path, rows, sub=str(trial))
        out = analytics.q_trimmed_mean(spark, sf).collect()[0]
        cents = sorted(round(v * 100) for v in vals)
        k = len(cents) // 10
        kept = cents[k : len(cents) - k]
        assert out["trimmed_n"] == len(kept)
        assert out["trimmed_mean_milli"] == (sum(kept) * 1000) // len(kept)


def test_changepoint_matches_bruteforce(spark, tmp_path):
    """Random daily series: the reported day maximizes |cum·D − C·d| with
    earliest-day tiebreak, per the definition."""
    rng = random.Random(17)
    days = [f"2023-05-{d:02d}" for d in range(1, 11)]
    series = {("view", day): [rng.randint(1, 50)] for day in days}
    sf = _write_events(spark, tmp_path, _ev_rows(series))
    out = analytics.q_changepoint_cusum(spark, sf).collect()[0]
    daily = [sum(round(v * 100) for v in series[("view", day)]) for day in days]
    D, C = len(daily), sum(daily)
    cum, best = 0, None
    for d, (day, c) in enumerate(zip(days, daily), start=1):
        cum += c
        dev = abs(cum * D - C * d)
        if best is None or dev > best[0]:
            best = (dev, day)
    assert (out["dev_max"], str(out["change_day"])) == best


def test_mann_kendall_s_matches_pairwise(spark, tmp_path):
    """S equals the brute-force pairwise sign sum over the day grid."""
    rng = random.Random(5)
    days = [f"2023-06-{d:02d}" for d in range(1, 9)]
    series = {("click", day): [rng.randint(1, 30)] for day in days}
    sf = _write_events(spark, tmp_path, _ev_rows(series))
    out = analytics.q_mann_kendall(spark, sf).collect()[0]
    y = [sum(round(v * 100) for v in series[("click", day)]) for day in days]
    s = sum(
        (0 if y[j] == y[i] else (1 if y[j] > y[i] else -1))
        for i in range(len(y))
        for j in range(i + 1, len(y))
    )
    assert out["s_stat"] == s and out["n_days"] == len(days)


def test_t_closeness_matches_direct_vd(spark, tmp_path):
    """vd_milli equals floor(500 · Σ_b |p_s(b) − p(b)|) computed directly
    (over the common denominator, so no float in the reference either)."""
    rng = random.Random(73)
    rows = []
    i = 0
    for src, lens in (("a", [50, 50, 150]), ("b", [250, 250, 250, 350]), ("c", [50, 999])):
        for ln in lens:
            rows.append(Row(doc_id=i, text="x" * ln, lang="en", source=src, n_chars=ln))
            i += 1
    p = tmp_path / "docs"
    p.mkdir()
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
        str(p / "documents.parquet")
    )
    out = {r["source"]: r["vd_milli"] for r in evalq.q_t_closeness(spark, str(p)).collect()}
    from collections import Counter

    allb = Counter()
    per = {}
    for r in rows:
        b = r.n_chars // 100
        allb[b] += 1
        per.setdefault(r.source, Counter())[b] += 1
    n_tot = sum(allb.values())
    for src, cnts in per.items():
        n_s = sum(cnts.values())
        num = sum(
            abs(cnts.get(b, 0) * n_tot - allb[b] * n_s) for b in allb
        )
        assert out[src] == (num * 500) // (n_s * n_tot), src

"""Round-9 regression tests for the r8 advisor findings:

1. (high) e_theil_sen's median-rank filter must use INTEGER division —
   with an even pair count C(n,2) the old double division targeted rank
   x.5 and silently dropped the key.
2. (low) e_mann_whitney's variance product must be computed in DOUBLE —
   in BIGINT it wraps silently past ~1.5M samples per side.
3. (low) x_degree_assortativity's numerator (and guards) must be DOUBLE
   for the same int64-overflow reason.
4. (low) kcenter_greedy must not hold k corpus-sized caches at once —
   only the corpus projection itself is cached.
"""

from __future__ import annotations

import datetime as dt

import duckdb
from pyspark.sql import Row
from pyspark.sql import functions as F

from gmall_flink_230422_spark.operators import similarity as sim
from gmall_flink_230422_spark.plans import analytics, graphq


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(rows)
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_theil_sen_even_pair_count(spark, tmp_path):
    """r8 advisor (high): 4 distinct days → C(4,2) = 6 pairs (EVEN). The
    old `rk == (n_pairs + 1) / 2` double division targeted rank 3.5 and
    dropped the event type entirely; integer division targets rank 3."""
    days = ["2023-04-0%d" % d for d in (1, 2, 3, 4)]
    rows = [
        Row(
            event_id=i,
            ts=dt.datetime.fromisoformat(f"{day} 12:00:00"),
            user_id=1,
            event_type="click",
            value=float(v),
            props="{}",
        )
        for i, (day, v) in enumerate(zip(days, [1.0, 3.0, 2.0, 8.0]))
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = analytics.q_theil_sen(spark, sf).collect()
    assert len(out) == 1, "even C(n,2) must still yield the median row"
    row = out[0]
    assert row["event_type"] == "click" and row["n_pairs"] == 6
    # cross-check the exact lower-median slope against the oracle engine
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
    )
    oracle = con.execute(analytics.ORACLE_THEIL_SEN).fetchall()
    assert len(oracle) == 1
    assert row["med_slope_milli"] == oracle[0][2]


def test_theil_sen_odd_pair_count_unchanged(spark, tmp_path):
    """5 days → C(5,2) = 10 pairs: (10+1) div 2 = 5, same element the old
    filter found at 5.5→never... sanity-pin the odd case too (3 days → 3
    pairs, rank 2) so the div-2 change didn't shift the odd-grid median."""
    days = ["2023-04-0%d" % d for d in (1, 2, 3)]
    rows = [
        Row(
            event_id=i,
            ts=dt.datetime.fromisoformat(f"{day} 12:00:00"),
            user_id=1,
            event_type="view",
            value=float(v),
            props="{}",
        )
        for i, (day, v) in enumerate(zip(days, [2.0, 5.0, 4.0]))
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = analytics.q_theil_sen(spark, sf).collect()
    assert len(out) == 1 and out[0]["n_pairs"] == 3
    # cents 200,500,400 → slopes_milli {300000, -100000, 100000}; lower
    # median = rank (3+1) div 2 = 2 of the sorted grid = 100000
    assert out[0]["med_slope_milli"] == 100000


def test_mann_whitney_variance_in_double(spark, tmp_path):
    """r8 advisor (low): the z denominator must multiply DOUBLE factors.
    We can't materialize 1.5M-row samples in a unit test, so pin the
    expression tree instead: no bigint multiply of the three counts may
    survive in the optimized plan (the old shape cast AFTER the product)."""
    rows = [
        Row(
            event_id=i,
            ts=dt.datetime.fromisoformat("2023-04-01 12:00:00"),
            user_id=1,
            event_type=t,
            value=float(v),
            props="{}",
        )
        for i, (t, v) in enumerate(
            [("click", 1.0), ("click", 3.0), ("view", 2.0), ("view", 5.0), ("view", 4.0)]
        )
    ]
    sf = _write_events(spark, tmp_path, rows)
    import re

    df = analytics.q_mann_whitney(spark, sf)
    # r9 advice: pin the OPTIMIZED PLAN, not source text (a rename or
    # reformat must not break this). The variance product must multiply
    # DOUBLE-cast factors; the only permitted raw BIGINT product is the
    # U-shift numerator (n_click * n_view), which is never itself a
    # factor of another multiply.
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(
        r"cast\(n_click#\d+L as double\) \* cast\(n_view#\d+L as double\)", plan
    ), "variance factors must be cast to double BEFORE multiplying"
    assert re.search(
        r"cast\(\(\(n_click#\d+L \+ n_view#\d+L\) \+ 1\) as double\)", plan
    ), "the (n1+n2+1) factor must be cast to double before the product"
    assert not re.search(
        r"\(n_click#\d+L \* n_view#\d+L\) \*", plan
    ), "bigint triple product (the pre-r8-fix overflow shape) reappeared"
    out = df.collect()
    assert len(out) == 1
    # n1=2, n2=3, exact U and z against the oracle
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'")
    oracle = con.execute(analytics.ORACLE_MANN_WHITNEY).fetchall()
    assert (out[0]["n_click"], out[0]["n_view"], out[0]["u1_x2"], out[0]["z_milli"]) == oracle[0]


def test_degree_assortativity_double_numerator(spark):
    """r8 advisor (low): every derived Pearson term must be DOUBLE before
    multiplication. r9 advice: pin the OPTIMIZED PLAN (no bigint multiply
    of n_edges with any Pearson sum), not source text."""
    import re

    df = graphq.q_degree_assortativity(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(
        r"n_edges#\d+L \* s[xy]", plan
    ), "raw bigint product of n_edges with a Pearson sum reappeared"
    assert re.search(
        r"cast\(n_edges#\d+L as double\) \* cast\(s[xy][xy]?#\d+L as double\)", plan
    ), "Pearson terms must be double-cast before multiplication"
    assert "1000.0 * " in plan, "milli scaling must be the double literal"


def test_kcenter_greedy_single_corpus_cache(spark):
    """r8 advisor (low): kcenter_greedy must cache only the corpus
    projection (one corpus-sized InMemoryRelation) plus 1-row center
    frames — never one corpus-sized cache per round."""
    rows = [
        Row(vec_id=i, embedding=[float(i % 5), float((i * 3) % 7), float(i % 2)])
        for i in range(40)
    ]
    corpus = spark.createDataFrame(rows)
    out = sim.kcenter_greedy(corpus, k=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # count InMemoryRelation leaves that carry the embedding column (corpus-sized);
    # distinct cached frames appear once each in the plan's relation set
    import re

    # normalize exprIds: the same cached frame prints with fresh #ids per
    # reference — distinct CACHES differ in their column-name set
    rels = {re.sub(r"#\d+L?", "", r) for r in re.findall(r"InMemoryRelation \[([^\]]*)\]", plan)}
    mind_rels = {r for r in rels if "mind" in r}
    assert len(mind_rels) == 0, f"per-round corpus-sized caches leaked: {mind_rels}"
    corpus_rels = {r for r in rels if "embedding" in r and "c_vec" not in r}
    assert corpus_rels == {"vec_id, embedding"}
    res = sorted(out.collect(), key=lambda r: r["sel_round"])
    assert [r["sel_round"] for r in res] == [1, 2, 3, 4]
    assert res[0]["center_id"] == 0  # deterministic seed: lowest id
    # radius is non-increasing as centers are added
    radii = [r["radius_fp"] for r in res]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    corpus.unpersist()


def test_audit_plans_subset_preserves_full_artifact(tmp_path):
    """r8 verdict hygiene item: a subset `audit_plans.py name...` run must
    write PLANS_partial.md and leave the committed PLANS.md untouched."""
    import shutil
    import subprocess
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    work = tmp_path / "repo"
    work.mkdir()
    sentinel = "# PLANS — sentinel: must survive subset runs\n"
    (work / "PLANS.md").write_text(sentinel)
    r = subprocess.run(
        [shutil.which("python") or "python", str(repo / "tools" / "audit_plans.py"),
         "p2_route_filter"],
        cwd=work,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert (work / "PLANS.md").read_text() == sentinel
    partial = (work / "PLANS_partial.md").read_text()
    assert "p2_route_filter" in partial and "SUBSET" in partial


def test_lazy_checkpoint_runs_no_jobs(spark):
    """graph.lazy_checkpoint must be ACTUALLY lazy: zero Spark jobs at
    construction (a plain localCheckpoint(eager=False) under AQE runs all
    its shuffle stages eagerly via toRdd), and the checkpointed frame must
    still compute correctly at first action."""
    from pyspark.sql import functions as F

    from gmall_flink_230422_spark.operators.graph import lazy_checkpoint

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = spark.range(10000).groupBy((F.col("id") % 13).alias("k")).count()
    sc.setJobGroup("lazy-ckpt-test", "t")
    ck = lazy_checkpoint(df)
    assert len(tracker.getJobIdsForGroup("lazy-ckpt-test")) == 0
    # conf restored
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert ck.count() == 13
    # downstream plans see an O(1) leaf, not the grouped lineage
    plan = ck._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan

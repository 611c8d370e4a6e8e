"""Hand-sized semantic checks for the round-9 queries — fixture-level
edge cases the sf-sweep oracles can't isolate: trim-boundary ties, known
change points, zero-distance t-closeness, exact contamination run
lengths, and the bloom's no-false-negative guarantee."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from gmall_flink_230422_spark.plans import analytics, curationq, dedupq, evalq


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def _ev(i, t, v, day="2023-04-01"):
    return Row(
        event_id=i,
        ts=dt.datetime.fromisoformat(f"{day} 12:00:00"),
        user_id=1,
        event_type=t,
        value=float(v),
        props="{}",
    )


def _doc(i, text, source="s0", lang="en"):
    return Row(doc_id=i, text=text, lang=lang, source=source, n_chars=len(text))


def test_trimmed_mean_tie_across_boundary(spark, tmp_path):
    """10 rows, k = 1 each side. Values: [1, 2, 2, 2, 3, 4, 5, 6, 7, 100]
    — the bottom trim cuts ONE of the three 2s (ties across the boundary
    must be cut partially, not wholly), the top trim cuts the 100."""
    vals = [1, 2, 2, 2, 3, 4, 5, 6, 7, 100]
    rows = [_ev(i, "click", v) for i, v in enumerate(vals)]
    sf = _write_events(spark, tmp_path, rows)
    out = analytics.q_trimmed_mean(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_rows"] == 10 and r["trimmed_n"] == 8
    # kept: 2,2,3,4,5,6,7 plus ONE more 2 dropped... kept = all minus min(1)
    # and max(100): [2,2,2,3,4,5,6,7] -> sum 31 cents*100 = 3100
    assert r["trimmed_mean_milli"] == (3100 * 1000) // 8


def test_changepoint_finds_level_shift(spark, tmp_path):
    """Flat 10/day for 6 days then 100/day for 6 days: the CUSUM max
    deviation from the straight line lands exactly at the shift day."""
    rows = []
    i = 0
    for d in range(1, 13):
        v = 10.0 if d <= 6 else 100.0
        rows.append(_ev(i, "view", v, day=f"2023-04-{d:02d}"))
        i += 1
    sf = _write_events(spark, tmp_path, rows)
    out = analytics.q_changepoint_cusum(spark, sf).collect()
    assert len(out) == 1
    assert str(out[0]["change_day"]) == "2023-04-06"
    assert out[0]["n_days"] == 12


def test_t_closeness_uniform_is_zero(spark, tmp_path):
    """Two sources with IDENTICAL length distributions → variational
    distance exactly 0 for both."""
    rows = []
    i = 0
    for src in ("a", "b"):
        for ln in (50, 150, 250):
            rows.append(_doc(i, "x" * ln, source=src))
            i += 1
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["source"]: r["vd_milli"] for r in evalq.q_t_closeness(spark, sf).collect()}
    assert out == {"a": 0, "b": 0}


def test_contam_runs_exact_run_length(spark, tmp_path):
    """Eval doc 17 shares a verbatim 15-token passage with train doc 1 →
    3 consecutive contaminated 13-gram positions (15 − 13 + 1), and no
    other hits."""
    passage = " ".join(f"w{i}" for i in range(15))
    filler = " ".join(f"z{i}" for i in range(20))
    rows = [
        _doc(1, f"{filler} {passage}"),                      # train
        _doc(2, " ".join(f"y{i}" for i in range(30))),       # train, unrelated
        _doc(17, f"{passage} " + " ".join(f"q{i}" for i in range(10))),  # eval
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = dedupq.q_contam_runs(spark, sf).collect()
    assert len(out) == 1
    assert out[0]["doc_id"] == 17
    assert out[0]["n_hits"] == 3 and out[0]["max_run"] == 3


def test_bloom_no_false_negatives(spark, tmp_path):
    """Probe the bitset with the MEMBER split: every member must hit all
    k bits (the bloom guarantee the pruning contract rests on). Uses the
    same hash/family/word layout as q_bloom_fpr by flipping the member
    predicate so members become the probe side."""
    from gmall_flink_230422_spark.functions.hashing import portable_hash64
    from gmall_flink_230422_spark.operators.dedup import (
        MINHASH_A_STEP,
        MINHASH_B_STEP,
        MINHASH_P,
    )

    rows = [_doc(i, f"doc number {i}") for i in range(90)]
    sf = _write_docs(spark, tmp_path, rows)
    d = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id",
        F.pmod(
            portable_hash64(F.concat(F.lit("bloom:"), F.col("doc_id").cast("string"))),
            F.lit(MINHASH_P),
        ).alias("hb"),
    )
    mem = d.filter(F.col("doc_id") % 3 == 0)
    s_seq = F.explode(F.sequence(F.lit(0), F.lit(dedupq._BLOOM_K - 1))).alias("s")
    pos = F.expr(
        f"((1 + s * {MINHASH_A_STEP}) * hb + 7 + s * {MINHASH_B_STEP}) "
        f"% {MINHASH_P} % {dedupq._BLOOM_M}"
    )
    cells = (
        mem.select("hb", s_seq).withColumn("pos", pos)
        .select(F.expr("pos div 32").alias("word"),
                F.expr("shiftleft(1L, CAST(pos % 32 AS INT))").alias("mask"))
        .groupBy("word").agg(F.expr("bit_or(mask)").alias("bits"))
    )
    probes = (
        mem.select("doc_id", "hb", s_seq).withColumn("pos", pos)
        .select("doc_id", F.expr("pos div 32").alias("word"),
                F.expr("CAST(pos % 32 AS INT)").alias("bitpos"))
    )
    misses = (
        probes.join(F.broadcast(cells), "word", "left")
        .filter(~F.coalesce(F.expr("(bits & shiftleft(1L, bitpos)) != 0"), F.lit(False)))
        .count()
    )
    assert misses == 0


def test_shard_skew_single_shard_degenerate(spark, tmp_path):
    """One document → one occupied shard; skew = n_shards·max/total where
    n_shards counts only OCCUPIED shards, so the degenerate case is
    exactly 1000 (max == total, one shard)."""
    sf = _write_docs(spark, tmp_path, [_doc(7, "just one doc here")])
    out = curationq.q_shard_skew(spark, sf).collect()
    assert len(out) == 1
    assert out[0]["n_shards"] == 1 and out[0]["skew_milli"] == 1000


def test_cohens_kappa_perfect_agreement(spark, tmp_path):
    """Rules constructed to agree on every doc → kappa_milli == 1000
    (text with ≥40 tokens always also has ≥200 chars here, and short docs
    fail both)."""
    long_text = " ".join(f"tok{i:03d}" for i in range(50))   # 50 toks, >200 chars
    rows = [_doc(i, long_text) for i in range(5)] + [
        _doc(10 + i, "tiny") for i in range(5)
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = analytics.q_cohens_kappa(spark, sf).collect()
    assert len(out) == 1
    assert out[0]["n11"] == 5 and out[0]["n00"] == 5
    assert out[0]["kappa_milli"] == 1000


def test_cohens_kappa_degenerate_pe_is_null(spark, tmp_path):
    """All docs in one agreement cell → p_e == 1 → kappa undefined: both
    engines must emit NULL (unguarded, Spark's NaN cast to bigint is 0
    while DuckDB's is NULL — the r9 review find)."""
    long_text = " ".join(f"tok{i:03d}" for i in range(50))
    sf = _write_docs(spark, tmp_path, [_doc(i, long_text) for i in range(4)])
    out = analytics.q_cohens_kappa(spark, sf).collect()
    assert len(out) == 1 and out[0]["n11"] == 4
    assert out[0]["kappa_milli"] is None
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'")
    assert con.execute(analytics.ORACLE_COHENS_KAPPA).fetchall()[0][-1] is None

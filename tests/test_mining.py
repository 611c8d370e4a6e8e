"""Batch-3 round-3 ops: basket rules, Markov transitions, snapshot diff,
PMI registration, RAG chunks — semantic checks beside DuckDB oracle parity."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def test_basket_rules_lift_math(spark):
    import gmall_flink_230422_spark.plans.analytics as an

    # 4 orders; parts (1,2) co-occur twice, part 1 in 3 orders, part 2 in 2
    rows = [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 3), (4, 3), (4, 4)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    an_load = an.load_table
    try:
        an.load_table = lambda spark, sf, name: li
        out = {(r["part_a"], r["part_b"]): r for r in an.q_basket_rules(spark, "unused").collect()}
    finally:
        an.load_table = an_load
    r = out[(1, 2)]
    assert r["c_ab"] == 2
    assert r["support"] == 0.5        # 2/4
    assert r["confidence"] == 0.6666  # floor(2/3 on 1e-4)
    assert r["lift"] == 1.3333        # (2*4)/(3*2)


def test_markov_rows_sum_to_from_totals(spark):
    import gmall_flink_230422_spark.plans.analytics as an

    out = an.q_markov_transitions(spark, "/root/testdata/sf0.001").collect()
    by_from: dict[str, float] = {}
    for r in out:
        by_from[r["from_type"]] = by_from.get(r["from_type"], 0.0) + r["prob"]
    # probs floor-truncate on 1e-4, so each from-state sums to 1 - eps
    for s, p in by_from.items():
        assert 0.99 <= p <= 1.0, (s, p)


def test_snapshot_diff_classifies(spark):
    import gmall_flink_230422_spark.plans.analytics as an

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # u_changed: values differ across the cutoffs
        (1, "u_changed", "click", dt.datetime(2024, 1, 1, 6), 1.0),
        (2, "u_changed", "click", dt.datetime(2024, 1, 2, 6), 2.0),
        # u_same: no event between T1 and T2
        (3, "u_same", "view", dt.datetime(2024, 1, 1, 6), 5.0),
        # u_added: first event after T1
        (4, "u_added", "view", dt.datetime(2024, 1, 2, 6), 7.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, ts timestamp, value double"
    )
    an_load = an.load_table
    t1, t2 = an._SNAP_T1, an._SNAP_T2
    try:
        an.load_table = lambda spark, sf, name: ev
        an._SNAP_T1, an._SNAP_T2 = "2024-01-01 12:00:00", "2024-01-03 00:00:00"
        out = {r["status"]: r["n_users"] for r in an.q_snapshot_diff(spark, "unused").collect()}
    finally:
        an.load_table = an_load
        an._SNAP_T1, an._SNAP_T2 = t1, t2
    assert out == {"changed": 1, "unchanged": 1, "added": 1}


def test_rag_chunks_overlap_and_fingerprint(spark):
    from gmall_flink_230422_spark.plans.textq import _RC_HOP, _RC_WIN, q_rag_chunks

    out = q_rag_chunks(spark, "/root/testdata/sf0.001").collect()
    assert out
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, chunks in by_doc.items():
        idxs = sorted(c["chunk_idx"] for c in chunks)
        assert idxs == list(range(len(idxs)))  # dense chunk index
        for c in chunks:
            assert c["start_tok"] == c["chunk_idx"] * _RC_HOP + 1
            assert c["chunk_hash"] >= 0
    assert _RC_WIN == 2 * _RC_HOP  # 50% overlap contract of the chunker


def test_bpe_apply_compresses(spark):
    from gmall_flink_230422_spark.operators.text import bpe_encoded_length

    docs = spark.createDataFrame(
        [(1, "aaab aaab aaab"), (2, "xyz")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bpe_encoded_length(docs, n_merges=2).collect()}
    # 'aaab' (freq 3) drives the merges: 'a a'->'aa' then 'aa a'->'aaa';
    # each 4-char word encodes to 2 symbols
    assert out[1]["n_sym_raw"] == 12
    assert out[1]["n_sym_enc"] == 6
    # untouched word: encoded length == raw length
    assert out[2]["n_sym_enc"] == out[2]["n_sym_raw"] == 3

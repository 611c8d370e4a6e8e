"""Focused pins for the r12 optimization-round changes.

Each r12 change kept results bit-identical while removing recomputation;
these tests pin both halves so a future edit cannot silently regress
either:

- shingles() builds the k>=13 gram with array_join(slice(...)) and the
  k<13 gram with the element_at chain — the two expression forms must
  produce IDENTICAL (doc_id, shingle) sets at the switch point (r11
  ADVICE item 1: the equivalence was previously guarded only by
  out-of-CI oracle artifacts);
- backoff_trigram_score caches its c1/c2 model tables and derives
  n_train from c1 — the corpus must not be scanned more than 4x in one
  plan (was 7x), and results must match the uncached brute computation;
- plans.curationq._materialize and the audit's identity patch of it return
  the same rows (the audit's full-lineage plan must never drift from
  the default).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_flink_230422_spark.operators import dedup, text


DOCS = [
    (1, "a b c d e f g h i j k l m n o p q r s t"),
    (2, "the quick brown fox jumps over the lazy dog again and again today"),
    (3, " ".join(["tok%d" % (i % 17) for i in range(40)])),
    (4, "exactly thirteen tokens here one two three four five six seven eight nine"),
    (5, "short doc"),
    (6, "  "),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _shingle_set(df):
    return {(r["doc_id"], r["shingle"]) for r in df.collect()}


def test_shingle_k13_slice_form_equals_element_at_chain(spark):
    """The k-dependent gram expression (r11 change 7) must be a pure
    expression-form swap: build k=13 shingles via BOTH forms on the same
    docs and assert identical sets. The element_at chain is reproduced
    inline exactly as shingles() builds it for k < 13."""
    d = _docs(spark)
    k = 13
    via_slice = _shingle_set(dedup.shingles(d, k=k))  # k>=13 -> slice form

    toks = dedup.whitespace_tokens(dedup.normalize_text(F.col("text")))
    parts = ", ".join(f"element_at(_toks, i + {j})" for j in range(k))
    gram = f"concat_ws(' ', {parts})"
    arr = F.expr(
        f"CASE WHEN size(_toks) >= {k} THEN "
        f"transform(sequence(1, size(_toks) - {k - 1}), i -> {gram}) "
        "ELSE array() END"
    )
    via_chain = _shingle_set(
        d.repartition(F.col("doc_id"))
        .select(F.col("doc_id"), toks.alias("_toks"))
        .select(F.col("doc_id"), F.explode(F.array_distinct(arr)).alias("shingle"))
    )
    assert via_slice == via_chain
    # doc 1 (20 tokens) yields 8 13-grams; doc 3 (40 tokens) yields 28
    # positional 13-grams, 17 of them distinct (its tokens repeat with
    # period 17); docs 5 and 6 (under 13 tokens) none
    assert len({s for d_, s in via_slice if d_ == 1}) == 8
    assert len({s for d_, s in via_slice if d_ == 3}) == 17
    assert not {d_ for d_, _ in via_slice} & {5, 6}


def test_backoff_lm_scan_repeat_bounded(spark):
    """c1/c2 are cached and n_train derives from c1 (r12): the same
    parquet/scan signature must appear at most 4x in the plan (c3, c2,
    c1, held stream) — the uncached form compiled 7 corpus scans."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from audit_plans import scan_repeat_audit

    df = text.backoff_trigram_score(_docs(spark), heldout_buckets=500)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert scan_repeat_audit(plan) <= 4, plan


def test_backoff_lm_n_train_from_c1_is_exact(spark):
    """n_train = sum(c1) must equal the direct token-count aggregate the
    old code ran — i.e. the backoff OOV branch denominator is unchanged.
    Verified end-to-end: per-doc scores match a brute-force recompute of
    the stupid-backoff formula on the same split."""
    rows = {
        r["doc_id"]: r
        for r in text.backoff_trigram_score(_docs(spark), heldout_buckets=500).collect()
    }
    # brute force in python
    import hashlib

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    toks = {i: [t for t in t_.lower().strip().split() if t] for i, t_ in DOCS}
    held = {i for i in toks if h64(f"lmsplit:{i}") % 1000 < 500}
    train = [i for i in toks if i not in held]
    c1, c2, c3 = {}, {}, {}
    n_train = 0
    for i in train:
        ts = toks[i]
        n_train += len(ts)
        for w in ts:
            c1[w] = c1.get(w, 0) + 1
        for a, b in zip(ts, ts[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
        for a, b, c in zip(ts, ts[1:], ts[2:]):
            c3[(a, b, c)] = c3.get((a, b, c), 0) + 1
    for i in held:
        ts = toks[i]
        tris = list(zip(ts, ts[1:], ts[2:]))
        if not tris:
            assert i not in rows
            continue
        ss = 0
        for a, b, c in tris:
            if (a, b, c) in c3:
                s = (1000000 * c3[(a, b, c)]) // c2[(a, b)]
            elif (b, c) in c2:
                s = (400000 * c2[(b, c)]) // c1[b]
            else:
                s = (160000 * c1.get(c, 0)) // n_train
            ss += s
        r = rows[i]
        assert r["n_trigrams"] == len(tris)
        assert r["sum_score_micro"] == ss
        assert r["avg_score_micro"] == ss // len(tris)


def test_materialize_modes_agree(spark):
    """The materialized capstone (the default) and the audit's identity
    patch of ``_materialize`` must produce identical rows."""
    from unittest import mock

    from gmall_flink_230422_spark.plans import curationq, registry

    sf = "/root/testdata/sf0.001"
    spec = registry()["x_select_pipeline"]
    want = sorted(map(tuple, spec.fn(spark, sf).collect()))
    with mock.patch.object(curationq, "_materialize", lambda df: df):
        got = sorted(map(tuple, spec.fn(spark, sf).collect()))
    assert want == got

"""Tokenizer and hashing helpers."""

import duckdb
from pyspark.sql import functions as F

from gmall_flink_230422_spark.functions.hashing import (
    portable_hash64,
    portable_hash64_sql,
)
from gmall_flink_230422_spark.functions.tokenize import (
    tokenize_text,
    whitespace_tokens,
)


def test_tokenizer_latin_runs():
    assert tokenize_text("Hello, World! 42x") == ["hello", "world", "42x"]


def test_tokenizer_cjk_dictionary_max_word():
    # IK max-word approximation (U2, KeyWordUtil.java smart=false): every
    # lexicon word at every position; dictionary hits suppress the bigram
    # fallback over the characters they cover
    assert tokenize_text("小米手机") == ["小米", "手机"]
    assert tokenize_text("小米笔记本电脑") == ["小米", "笔记本电脑", "笔记本", "电脑"]
    assert tokenize_text("茶") == ["茶"]
    assert tokenize_text("apple苹果5G") == ["apple", "苹果", "5g"]


def test_tokenizer_cjk_bigram_fallback_and_smart():
    # out-of-vocabulary runs keep the deterministic bigram fallback
    assert tokenize_text("今天天气") == ["今天", "天天", "天气"]
    # smart mode: non-overlapping forward longest-match
    assert tokenize_text("苹果智能手机", mode="smart") == ["苹果", "智能手机"]
    assert tokenize_text("智能手机", mode="smart") == ["智能手机"]


def test_tokenizer_custom_lexicon_longer_than_builtin_max():
    # max word length is derived from the lexicon ARGUMENT, not the built-in
    # table: a 7-char custom entry must match even though the built-in max
    # is 5 (ADVICE r2)
    lex = frozenset({"人工智能实验室", "人工智能", "实验室"})
    assert tokenize_text("人工智能实验室", lexicon=lex) == [
        "人工智能实验室", "人工智能", "实验室",
    ]
    assert tokenize_text("人工智能实验室", mode="smart", lexicon=lex) == [
        "人工智能实验室",
    ]
    # single-char lexicon entries are intentionally never dictionary-matched
    # (they surface via the fallback paths instead)
    assert tokenize_text("茶叶", lexicon=frozenset({"茶"})) == ["茶叶"]


def test_tokenizer_golden_corpus():
    """Golden-file pin of the documented IK approximation (U2): max_word and
    smart outputs on a fixed CJK e-commerce corpus. The tokenizer is a
    SEMANTIC approximation of the reference's IK analyzer — this pin makes
    any drift (lexicon edit, matcher change) an explicit, reviewed diff of
    tests/golden/tokenizer_golden.json rather than a silent change."""
    import json
    from pathlib import Path

    golden = json.loads(
        (Path(__file__).parent / "golden" / "tokenizer_golden.json").read_text()
    )
    assert set(golden) == {"max_word", "smart"}
    for mode, cases in golden.items():
        assert len(cases) == 15
        for text, expected in cases.items():
            assert tokenize_text(text, mode=mode) == expected, (mode, text)


def test_tokenizer_empty():
    assert tokenize_text("") == []
    assert tokenize_text(None) == []
    assert tokenize_text("  ,;  ") == []


def test_whitespace_tokens(spark):
    out = spark.createDataFrame([("a  b c",), ("",)], ["t"]).select(
        whitespace_tokens(F.col("t")).alias("toks")
    ).collect()
    assert out[0]["toks"] == ["a", "b", "c"]
    assert out[1]["toks"] == []


def test_portable_hash_matches_duckdb(spark):
    """The md5-derived 60-bit hash must be identical in Spark and DuckDB —
    the foundation of every oracle-checked MinHash/SimHash query."""
    vals = ["abc", "the quick fox", "小米", ""]
    sdf = spark.createDataFrame([(v,) for v in vals], ["s"])
    spark_hashes = [r[0] for r in sdf.select(portable_hash64(F.col("s"))).collect()]
    con = duckdb.connect()
    duck_hashes = [
        con.sql(f"SELECT {portable_hash64_sql('?')}", params=[v]).fetchone()[0]
        for v in vals
    ]
    assert spark_hashes == duck_hashes

"""Sink contracts, text analysis, multimodal plumbing."""

import shutil
import tempfile

from pyspark.sql import functions as F

from gmall_flink_230422_spark import sinks
from gmall_flink_230422_spark.operators import multimodal, text


def test_select_contract_order_and_transient(spark):
    """S10: declared-column-order contract with @TransientSink exclusion
    (KeywordBean: stt, edt, [source→transient], keyword, keyword_count, ts)."""
    df = spark.createDataFrame(
        [("s", "e", "src", "k", 1, 2)],
        ["stt", "edt", "source", "keyword", "keyword_count", "ts"],
    )
    out = sinks.select_contract(
        df, ["stt", "edt", "source", "keyword", "keyword_count", "ts"],
        transient={"source"},
    )
    assert out.columns == ["stt", "edt", "keyword", "keyword_count", "ts"]


def test_upsert_parquet_merge(spark):
    """S8/S11: per-key latest-row MERGE across two batches."""
    d = tempfile.mkdtemp(prefix="gmall_upsert_")
    path = f"{d}/dim"
    try:
        b1 = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], ["id", "seq", "v"])
        sinks.upsert_parquet(spark, b1, path, ["id"], ["seq"])
        b2 = spark.createDataFrame([(1, 2, "a2"), (3, 1, "c")], ["id", "seq", "v"])
        sinks.upsert_parquet(spark, b2, path, ["id"], ["seq"])
        got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
        assert got == {1: "a2", 2: "b", 3: "c"}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_detect_language(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog sat in the house"),
            (1, "el perro y la casa de los amigos"),
            (2, "xyzzy qwerty plugh"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["pred"] for r in
           df.select("doc_id", text.detect_language(F.col("text")).alias("pred")).collect()}
    assert out == {0: "en", 1: "es", 2: "und"}


def test_quality_features(spark):
    df = spark.createDataFrame([(0, "the cat sat"), (1, "")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.quality_features(df).collect()}
    assert out[0]["n_tokens"] == 3
    assert out[0]["stopword_ratio"] == round(1 / 3, 4)
    assert out[1]["n_tokens"] == 0 and out[1]["quality_score"] == 0.0


def test_multimodal_decode_stub(spark):
    docs = spark.createDataFrame([(0, "abc"), (1, "x" * 100)], ["doc_id", "text"])
    media = multimodal.to_media_table(docs)
    assert dict(media.dtypes)["media"] == "binary"
    out = {r["doc_id"]: r for r in multimodal.decode_media(media).collect()}
    assert out[0]["n_bytes"] == 3
    assert out[0]["width"] == 3 % 64 + 1 and out[0]["height"] == 1
    assert out[1]["n_bytes"] == 100
    assert out[1]["width"] == 100 % 64 + 1 and out[1]["height"] == (100 // 64) % 64 + 1


def test_resize_media_caps_bytes(spark):
    docs = spark.createDataFrame(
        [(1, "x" * 300), (2, "short")], ["doc_id", "text"]
    )
    media = multimodal.resize_media(multimodal.to_media_table(docs), max_bytes=128)
    out = {r["doc_id"]: r for r in media.collect()}
    assert out[1]["n_bytes"] == 128 and len(out[1]["media"]) == 128
    assert out[2]["n_bytes"] == 5 and bytes(out[2]["media"]) == b"short"
    # schema contract preserved for downstream decode
    assert media.schema == multimodal.MEDIA_SCHEMA


def test_extract_features_deterministic_portable(spark):
    import hashlib

    docs = spark.createDataFrame([(7, "hello world")], ["doc_id", "text"])
    media = multimodal.to_media_table(docs)
    row = multimodal.extract_features(media, dim=2).collect()[0]

    def expect(i):
        h = hashlib.md5(b"hello world" + f":{i}".encode()).hexdigest()
        return (int(h[:15], 16) % 1000) / 1000.0

    assert row["f0"] == expect(0) and row["f1"] == expect(1)


def test_hash_split_stable_and_proportional(spark):
    """Split assignment is deterministic, stable under corpus growth, and
    roughly proportional to the requested fractions."""
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(500)], ["doc_id", "text"])
    s1 = {r["doc_id"]: r["split"] for r in text.hash_split(docs).collect()}
    # growth stability: same ids keep their split in a doubled corpus
    docs2 = spark.createDataFrame([(i, f"doc {i}") for i in range(1000)], ["doc_id", "text"])
    s2 = {r["doc_id"]: r["split"] for r in text.hash_split(docs2).collect()}
    assert all(s2[k] == v for k, v in s1.items())
    from collections import Counter

    c = Counter(s1.values())
    assert 0.7 < c["train"] / 500 < 0.9
    assert 0.05 < c["val"] / 500 < 0.15
    assert 0.05 < c["test"] / 500 < 0.15


def test_jdbc_sink_contract(spark, monkeypatch):
    """S10 integration-shape contract (r3 verdict item 7): without a live
    database, assert everything jdbc_sink hands to Spark's JDBC writer —
    the ordered-column contract (MyClickHouseUtil.java:97-110's
    positional PreparedStatement binding) and the 5-row batch option
    (the reference's JdbcExecutionOptions batch of 5,
    MyClickHouseUtil.java:121-124) — by intercepting the terminal
    DataFrameWriter.jdbc call."""
    from pyspark.sql.readwriter import DataFrameWriter

    captured = {}

    def fake_jdbc(self, url, table, mode=None, properties=None):
        captured["columns"] = self._df.columns
        captured["url"] = url
        captured["table"] = table
        captured["properties"] = properties
        opts = self._jwrite.extraOptions()
        captured["batchsize"] = opts.get("batchsize").get()

    monkeypatch.setattr(DataFrameWriter, "jdbc", fake_jdbc)
    df = spark.createDataFrame(
        [(2.0, 1, "a")], "v double, id bigint, name string"
    )
    sinks.jdbc_sink(
        df,
        "jdbc:clickhouse://host:8123/db",
        "dws_table",
        ["id", "name"],
        batch_size=5,
        properties={"driver": "com.clickhouse.jdbc.ClickHouseDriver"},
    )
    # ordered-column contract: exactly the declared columns, in order,
    # regardless of the input frame's own column order
    assert captured["columns"] == ["id", "name"]
    assert captured["batchsize"] == "5"
    assert captured["url"] == "jdbc:clickhouse://host:8123/db"
    assert captured["table"] == "dws_table"
    assert captured["properties"]["driver"].endswith("ClickHouseDriver")

"""Structured Streaming categorization test: file-source micro-batches
through the scoring pass, results match the batch categorizer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biobloom_spark.corpus import generate_corpus
from biobloom_spark.operators.categorizer import categorize
from biobloom_spark.operators.maker import build_filters, load_registry
from biobloom_spark.streaming.categorize_stream import (
    categorize_stream,
    stream_from_parquet_dir,
)


def test_stream_matches_batch(spark, tmp_path):
    corpus = generate_corpus(
        spark, 200, seed=13, langs=("en", "de"), num_partitions=4
    ).cache()
    src = str(tmp_path / "drop")
    corpus.write.mode("overwrite").parquet(src)
    reg = build_filters(spark, corpus, id_col="url")
    filters = load_registry(reg)

    stream = stream_from_parquet_dir(spark, src, max_files_per_trigger=2)
    res_stream = categorize_stream(spark, stream, filters, id_col="url")
    out = str(tmp_path / "out")
    q = (
        res_stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = spark.read.parquet(out)
    batch = categorize(spark, corpus, filters, id_col="url")
    assert streamed.count() == 200
    joined = streamed.alias("s").join(
        batch.alias("b"), on="url"
    ).filter(F.col("s.assigned") != F.col("b.assigned"))
    assert joined.count() == 0  # micro-batch == batch decisions


def test_stream_rejects_batch_df(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="streaming"):
        categorize_stream(spark, docs, [])


def test_dedup_stream_drops_duplicates(spark, tmp_path):
    """Stateful streaming exact-dedup: first arrival survives, duplicates
    within the watermark horizon are dropped."""
    from biobloom_spark.streaming.categorize_stream import dedup_stream

    rows = [
        (f"u{i}", f"text body {i % 30}", f"2026-01-01 00:{i % 60:02d}:00")
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "url string, text string, ts string").withColumn(
        "warc_ts", F.col("ts").cast("timestamp")
    ).drop("ts")
    src = str(tmp_path / "drop2")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = stream_from_parquet_dir(spark, src, max_files_per_trigger=1)
    deduped = dedup_stream(stream, ts_col="warc_ts", text_col="text")
    out = str(tmp_path / "out2")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 30  # one survivor per distinct text
    assert got.select("text").distinct().count() == 30


def test_mibf_stream_matches_batch(spark, tmp_path):
    from biobloom_spark.operators.mibf import build_mibf, classify_mibf
    from biobloom_spark.streaming.categorize_stream import classify_mibf_stream

    corpus = generate_corpus(
        spark, 150, seed=21, langs=("en", "de"), num_partitions=2
    ).cache()
    src = str(tmp_path / "drop3")
    corpus.write.mode("overwrite").parquet(src)
    sk = build_mibf(spark, corpus, key_col="lang", occupancy=0.1)
    stream = stream_from_parquet_dir(spark, src, max_files_per_trigger=1)
    res = classify_mibf_stream(spark, stream, sk, id_col="url")
    out = str(tmp_path / "out3")
    q = (
        res.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)
    batch = classify_mibf(spark, corpus, sk, id_col="url")
    assert streamed.count() == 150
    diff = streamed.alias("s").join(batch.alias("b"), on="url").filter(
        F.col("s.assigned") != F.col("b.assigned")
    )
    assert diff.count() == 0

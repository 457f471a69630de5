"""Streaming operators (rate-source smoke) + membership/Bloom operators."""

import time

import pytest
from pyspark.sql import functions as F

from sketch_spark.operators import membership
from sketch_spark.streaming import topk as stream_ops


def test_semi_anti_join(spark):
    probe = spark.createDataFrame([(i,) for i in range(10)], "k int")
    build = spark.createDataFrame([(i,) for i in range(0, 10, 2)], "k int")
    assert membership.semi_join(probe, build, ["k"]).count() == 5
    assert membership.anti_join(probe, build, ["k"]).count() == 5


def test_bloom_no_false_negatives_and_low_fpr(spark):
    n = 500
    elems = spark.createDataFrame([(f"k{i}",) for i in range(n)], "k string")
    n_bits, n_hashes = membership.bloom_params(n, fpr=0.01)
    bloom = membership.bloom_build(elems, "k", n_bits, n_hashes)
    present = membership.bloom_probe(elems, bloom, "k", n_bits, n_hashes)
    assert present.where(~F.col("may_contain")).count() == 0  # no false negs
    absent = spark.createDataFrame([(f"x{i}",) for i in range(2000)], "k string")
    fp = membership.bloom_probe(absent, bloom, "k", n_bits, n_hashes).where(
        F.col("may_contain")
    ).count()
    assert fp / 2000 < 0.05  # target fpr 1%, generous bound


def test_streaming_windowed_counts_rate_source(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 200).load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 5).cast("string").alias("key"),
        )
    )
    out = stream_ops.windowed_counts(stream, "key", "ts", "10 seconds", None, "5 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 40
        rows = 0
        while time.time() < deadline:
            q.processAllAvailable()
            rows = spark.sql("select count(*) c from win_counts").collect()[0].c
            if rows > 0:
                break
            time.sleep(1)
        assert rows > 0
        keys = {r.key for r in spark.sql("select distinct key from win_counts").collect()}
        assert keys <= {"0", "1", "2", "3", "4"}
    finally:
        q.stop()

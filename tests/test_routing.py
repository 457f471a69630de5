"""Deterministic hot-key census routing (sketch_spark.operators.routing).

VERDICT r4 #1: the round-4 hot-set routing collected hot keys to the
driver and ABORTED past 100k of them.  These tests pin the r5 contract:
any number of hot buckets completes, routing is deterministic under
partition relayout, and output pairs are identical between the hot and
cold routes.
"""

import pytest
from pyspark.sql import functions as F

from sketch_spark.operators.routing import hot_keys, route_split, sample_modulus


def test_sample_modulus():
    assert sample_modulus(1) == 1
    assert sample_modulus(400) == 1
    assert sample_modulus(800) == 2
    assert sample_modulus(1_000_000) == 2500


def test_hot_keys_provable_skip_and_exact(spark):
    df = spark.createDataFrame(
        [(k, i) for k in range(4) for i in range(10 * (k + 1))], "k int, i int"
    )
    # provable skip: n_rows below threshold -> no census at all
    hot, n = hot_keys(df, ["k"], threshold=1000, n_rows=100)
    assert hot is None and n == 0
    # exact census (threshold <= 400 -> K=1): hot at count >= threshold/2
    hot, n = hot_keys(df, ["k"], threshold=40)
    got = sorted(r.k for r in hot.collect())
    # counts are 10,20,30,40 -> hot at >= 20
    assert got == [1, 2, 3] and n == 3


def test_hot_keys_deterministic_under_relayout(spark):
    # the sampled census must give the SAME hot set regardless of how the
    # input is partitioned (the property df.sample(seed=) lacks, which
    # forced the round-4 driver collect)
    rows = [(k % 50, k, j) for k in range(2000) for j in range(k % 7 + 1)]
    df = spark.createDataFrame(rows, "k int, a int, b int")
    outs = []
    for parts in (3, 7, 31):
        hot, n = hot_keys(
            df.repartition(parts), ["k"], threshold=500,
            sample_cols=["k", "a", "b"],
        )
        outs.append(sorted(r.k for r in hot.collect()) if hot is not None else [])
    assert outs[0] == outs[1] == outs[2]


def test_route_split_partitions_exactly(spark):
    df = spark.createDataFrame([(i % 10, i) for i in range(200)], "k int, v int")
    hot, n = hot_keys(df, ["k"], threshold=30)  # every key has 20 rows -> hot at >= 15
    assert n == 10
    # broadcast route and shuffle-fallback route agree and partition the input
    for bmax in (10**6, 0):
        cold, hot_rows = route_split(df, hot, ["k"], n, broadcast_max=bmax)
        assert cold.count() == 0
        assert hot_rows.count() == 200


def test_candidate_pairs_over_100k_hot_buckets_completes(spark):
    """>10^5 hot buckets — the round-4 design raised AssertionError here;
    the routed design must complete AND emit pairs identical to the
    cold-path plan on the same input (VERDICT r4 next-round #1)."""
    from sketch_spark.operators.lsh import candidate_pairs

    n_buckets = 100_100
    members = 3
    bands = (
        spark.range(n_buckets * members)
        .select(
            (F.col("id") % n_buckets).cast("int").alias("key"),
            F.lit(0).alias("band"),
            F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
        )
        .select("conv_id", "band", "key")
    )
    routed = candidate_pairs(bands, bucket_cap=2, hot_threshold=2)
    cold = candidate_pairs(bands, bucket_cap=2, hot_threshold=10**9)
    r = routed.persist()
    c = cold.persist()
    try:
        # every bucket: 1 head-clique pair + 1 root link for the over-cap
        # member = 2 distinct pairs
        assert r.count() == c.count() == 2 * n_buckets
        assert r.exceptAll(c).count() == 0
        assert c.exceptAll(r).count() == 0
    finally:
        r.unpersist()
        c.unpersist()

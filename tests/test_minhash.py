"""MinHash semantics tests, mirroring the reference's planted-truth style
(testsrc/mhtest.cpp: known-overlap sets, merge equivalence, self-J = 1)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketch_spark.operators import minhash as MH


def _planted_sets(n=2000, olap=1000, seed=13):
    """Two hash sets with |A|=|B|=n sharing olap elements:
    true J = olap / (2n - olap)  (reference mhtest.cpp:46)."""
    rng = np.random.default_rng(seed)
    # full-range uint64 hashes (KMV assumes rank-uniformity over 2^64)
    raw = rng.integers(0, 2**64, size=2 * n + 10_000, dtype=np.uint64)
    pool = np.unique(raw)
    rng.shuffle(pool)
    shared = pool[:olap]
    a = np.concatenate([shared, pool[olap:n]])
    b = np.concatenate([shared, pool[n : 2 * n - olap]])
    return a.astype(np.int64), b.astype(np.int64), olap / (2 * n - olap)


def _shingle_df(spark, sets: dict):
    rows = [(k, int(v)) for k, vs in sets.items() for v in vs]
    return spark.createDataFrame(rows, "conv_id string, h long")


def test_one_perm_signature_and_jaccard(spark):
    a, b, true_j = _planted_sets()
    df = _shingle_df(spark, {"A": a, "B": b})
    sig = MH.one_perm_signature(df, p=7)
    sig = MH.densify_signatures(sig, "sig", p=7)
    rows = {r.conv_id: r.sig for r in sig.collect()}
    sa, sb = np.array(rows["A"]), np.array(rows["B"])
    frac = (sa == sb).mean()
    # m=128 registers: sigma ~ sqrt(J(1-J)/m) ~ 0.044; allow 4 sigma
    assert abs(frac - true_j) < 0.18
    # self-similarity is exactly 1
    assert (sa == sa).all()


def test_merge_equivalence(spark):
    """finalize(A) += finalize(B) == finalize(A ∪ B) — the commutative monoid
    property (reference mhtest.cpp:131-149, bbmh.h:1092-1137).  In Spark:
    the signature of a union equals the element-wise min of signatures."""
    a, b, _ = _planted_sets(n=800, olap=200)
    df = _shingle_df(spark, {"A": a, "B": b, "U": np.concatenate([a, b])})
    sig = MH.one_perm_signature(df, p=6)
    rows = {r.conv_id: r.sig for r in sig.collect()}

    def mn(x, y):
        if x is None:
            return y
        if y is None:
            return x
        return min(x, y)

    merged = [mn(x, y) for x, y in zip(rows["A"], rows["B"])]
    assert merged == rows["U"]


def test_bottom_k_and_kmv(spark):
    a, b, true_j = _planted_sets(n=3000, olap=1500)
    df = _shingle_df(spark, {"A": a, "B": b})
    k = 256
    bk = MH.bottom_k(df, k)
    rows = {r.conv_id: r for r in bk.collect()}
    assert rows["A"].n_distinct == 3000
    assert len(rows["A"].bottomk) == k
    assert rows["A"].bottomk == sorted(rows["A"].bottomk)
    # windowed variant agrees
    bkw = MH.bottom_k_windowed(df, k)
    roww = {r.conv_id: r.bottomk for r in bkw.collect()}
    assert roww["A"] == list(rows["A"].bottomk)
    # first-k-of-union walk close to true J (sigma ~ sqrt(J(1-J)/k) ~ .03)
    est = MH.bottomk_jaccard_py(list(rows["A"].bottomk), list(rows["B"].bottomk), k)
    assert abs(est - true_j) < 0.12
    # JVM expression matches the python walk
    pair = spark.createDataFrame(
        [(list(rows["A"].bottomk), list(rows["B"].bottomk))], "a array<long>, b array<long>"
    )
    jvm = pair.select(MH.bottomk_jaccard_col(F.col("a"), F.col("b"), k).alias("j")).collect()[0].j
    assert abs(jvm - est) < 1e-12
    # KMV cardinality within 3/sqrt(k) relative error
    card = spark.createDataFrame(
        [(list(rows["A"].bottomk),)], "bk array<long>"
    ).select(MH.kmv_cardinality_col(F.col("bk"), k).alias("c")).collect()[0].c
    assert abs(card - 3000) / 3000 < 3 / np.sqrt(k)


def test_densify_determinism_and_completeness(spark):
    # sparse set: 10 elements into 64 registers -> many empty, all filled after
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 2**62, size=10).astype(np.int64)
    df = _shingle_df(spark, {"A": vals, "B": vals})
    sig = MH.densify_signatures(MH.one_perm_signature(df, p=6), "sig", p=6)
    rows = {r.conv_id: r.sig for r in sig.collect()}
    assert None not in rows["A"]
    # equal sets -> equal densified signatures (determinism)
    assert rows["A"] == rows["B"]


def test_empty_and_single(spark):
    df = _shingle_df(spark, {"One": np.array([42], dtype=np.int64)})
    sig = MH.densify_signatures(MH.one_perm_signature(df, p=4), "sig", p=4)
    r = sig.collect()[0]
    assert None not in r.sig and len(r.sig) == 16


def test_counting_bottom_k_weighted_jaccard(spark):
    # multisets with known weighted overlap
    rows = (
        [("A", 1)] * 3 + [("A", 2)] * 2 + [("A", 3)] * 1
        + [("B", 1)] * 1 + [("B", 2)] * 2 + [("B", 4)] * 5
    )
    df = spark.createDataFrame(rows, "conv_id string, h long")
    bk = MH.bottom_k_counting(df, k=16)
    got = {r.conv_id: [(s.h, s.cnt) for s in r.minimizers] for r in bk.collect()}
    assert got["A"] == [(1, 3), (2, 2), (3, 1)]
    assert got["B"] == [(1, 1), (2, 2), (4, 5)]
    # weighted jaccard: min sums = 1(h1)+2(h2)=3; denom = 6+8-3=11
    exp = MH.weighted_jaccard_py(got["A"], got["B"])
    assert abs(exp - 3 / 11) < 1e-12
    pair = (
        bk.where(F.col("conv_id") == "A").select(F.col("minimizers").alias("a"))
        .crossJoin(bk.where(F.col("conv_id") == "B").select(F.col("minimizers").alias("b")))
    )
    jvm = pair.select(MH.weighted_jaccard_col(F.col("a"), F.col("b")).alias("j")).collect()[0].j
    assert abs(jvm - exp) < 1e-12


def test_one_perm_from_array_fast_equals_exploded(spark):
    """The r6 map-only array kernel must be row- and value-identical to
    the exploded SQL oracle densify_signatures(one_perm_signature(...)),
    including negative hashes (uint64 bucket shift), sparse sets (mostly
    densified registers), planted-overlap sets and empty arrays (no
    output row, like explode)."""
    rng = np.random.default_rng(9)
    a, b, _ = _planted_sets(n=400, olap=150)
    rows = [
        ("A", sorted({int(v) for v in rng.integers(-(2**63), 2**63, 500, dtype=np.int64)})),
        ("B", sorted({int(v) for v in rng.integers(-(2**63), 2**63, 3, dtype=np.int64)})),
        ("C", []),
        ("D", [7]),
        ("P", sorted({int(v) for v in a})),
        ("Q", sorted({int(v) for v in b})),
    ]
    df = spark.createDataFrame(rows, "cid string, shingles array<long>")
    ex = df.select("cid", F.explode("shingles").alias("h"))
    oracle = MH.one_perm_signature(ex, "cid", "h", p=6).select("cid", "sig")
    want = {r.cid: r.sig for r in MH.densify_signatures(oracle, "sig", p=6).collect()}
    got = {
        r.cid: r.sig
        for r in MH.one_perm_signature_from_array_fast(df, "shingles", "cid", p=6).collect()
    }
    assert got == want and "C" not in got and "A" in got and "D" in got


def test_one_perm_cardinality_empty_registers_count_as_default_val(spark):
    """Empty (null) registers saw zero elements: their harmonic term is
    the reference's default_val = max register, i.e. (max+1)/range = 1.0.
    (An earlier version added 0.0 for nulls, inflating a 1-shingle set's
    estimate to ~10^4-10^6.)  Gates: all-null -> 0; tiny sparse sets stay
    order-1; a fully-occupied 5000-element set lands within 15%."""
    import numpy as np

    from pyspark.sql import functions as F
    from sketch_spark.operators import minhash as MH

    from sketch_spark.functions.hashing import wanghash_np

    def hs(n0, cnt):
        return (
            wanghash_np(np.arange(n0, n0 + cnt, dtype=np.uint64))
            .astype(np.int64)
            .tolist()
        )

    p = 7
    rows = [
        ("empty", []),
        ("one", hs(101, 1)),
        ("two", hs(101, 2)),
        ("big", hs(1, 5000)),
    ]
    df = spark.createDataFrame(rows, "g string, xs array<long>")
    # exploded builder keeps empty registers null; an empty set has no
    # element rows, so its all-null signature is added directly
    sig = MH.one_perm_signature(
        df.select("g", F.explode("xs").alias("h")), "g", "h", p
    ).select("g", "sig").unionByName(
        spark.createDataFrame([("empty", [None] * (1 << p))], "g string, sig array<long>")
    )
    est = {
        r.g: r.est
        for r in sig.select(
            "g", MH.one_perm_cardinality_col(F.col("sig"), p).alias("est")
        ).collect()
    }
    assert est["empty"] == 0.0
    assert 0.0 <= est["one"] < 5.0
    assert 0.0 <= est["two"] < 10.0
    assert abs(est["big"] - 5000) / 5000 < 0.15


def test_expand_weighted_elements_zero_count_emits_nothing(spark):
    """cnt = 0 must contribute no sub-elements: Spark's sequence(0, -1)
    is the DESCENDING [0, -1] (default step -1), which unguarded emitted
    two phantom rows per zero-weight element."""
    from sketch_spark.operators import minhash as MH

    df = spark.createDataFrame(
        [("a", 11, 3), ("a", 12, 0), ("a", 13, -2), ("b", 11, 1)],
        "g string, h long, cnt long",
    )
    out = MH.expand_weighted_elements(df).groupBy("g").count().collect()
    got = {r.g: r["count"] for r in out}
    assert got == {"a": 3, "b": 1}

"""HLL, Count-Min, top-k, SimHash, PCSA, Bloom operator tests —
statistical tolerances mirror the reference suites (hlltest.cpp:62-88:
|est - truth| <= 2 * est_err; cmtest.cpp; sketch_test.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketch_spark.operators import frequency, hll, simhash


def _hashed_elems(spark, n, group="A", seed=1):
    rng = np.random.default_rng(seed)
    vals = np.unique(rng.integers(0, 2**64, size=n + 5000, dtype=np.uint64))
    rng.shuffle(vals)  # unique() sorts; a sorted prefix skews HLL buckets
    vals = vals[:n]
    return spark.createDataFrame(
        [(group, int(np.int64(v))) for v in vals], "g string, h long"
    )


@pytest.mark.parametrize("p,n", [(10, 5000), (12, 20000)])
def test_hll_estimate_within_2err(spark, p, n):
    df = _hashed_elems(spark, n)
    regs = hll.hll_registers(df, "g", "h", p)
    est = regs.select(hll.hll_estimate_col(F.col("regs"), p).alias("e")).collect()[0].e
    err = hll.hll_est_error(p)
    assert abs(est - n) <= 2 * err * n, (est, n)


def test_hll_merge_equals_union(spark):
    p = 10
    a = _hashed_elems(spark, 3000, "A", seed=2)
    b = _hashed_elems(spark, 3000, "B", seed=3)
    u = a.select(F.lit("U").alias("g"), "h").union(b.select(F.lit("U").alias("g"), "h"))
    regs = hll.hll_registers(a.union(b).union(u), "g", "h", p)
    rows = {r.g: r.regs for r in regs.collect()}
    merged = [max(x, y) for x, y in zip(rows["A"], rows["B"])]
    assert merged == list(rows["U"])


def test_hll_jaccard_estimate(spark):
    p = 12
    rng = np.random.default_rng(9)
    pool = np.unique(rng.integers(0, 2**64, size=40000, dtype=np.uint64))
    rng.shuffle(pool)
    a = pool[:20000]
    b = pool[10000:30000]  # true J = 10000/30000 = 1/3
    rows = [("A", int(np.int64(v))) for v in a] + [("B", int(np.int64(v))) for v in b]
    df = spark.createDataFrame(rows, "g string, h long")
    regs = hll.hll_registers(df, "g", "h", p)
    r = {x.g: x.regs for x in regs.collect()}
    pair = spark.createDataFrame([(r["A"], r["B"])], "a array<int>, b array<int>")
    j = pair.select(hll.hll_jaccard_col(F.col("a"), F.col("b"), p).alias("j")).collect()[0].j
    assert abs(j - 1 / 3) < 0.1


def test_cm_sketch_point_queries(spark):
    # skewed stream: key k appears (k+1)*50 times, k in 0..19
    rows = [(k,) for k in range(20) for _ in range((k + 1) * 50)]
    df = spark.createDataFrame(rows, "key int")
    cm = frequency.cm_sketch(df, "key", d=4, w=1 << 12)
    keys = spark.createDataFrame([(k,) for k in range(20)], "key int")
    est = {r.key: r.est_count for r in frequency.cm_query(cm, keys, "key", d=4, w=1 << 12).collect()}
    for k in range(20):
        true = (k + 1) * 50
        assert est[k] >= true  # CM never underestimates
        assert est[k] <= true + 200  # small stream, wide table: tight


def test_cm_sketch_decayed(spark):
    """Exponential-decay CM (realccm_t analog): an old occurrence
    contributes 2^(-age/half_life); estimates for a key seen long ago fade
    below a key seen now."""
    from datetime import datetime

    rows = [("hot", datetime(2026, 1, 1, 12, 0, 0))] * 10 + [
        ("cold", datetime(2026, 1, 1, 0, 0, 0))
    ] * 10
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    now = F.lit(datetime(2026, 1, 1, 12, 0, 0)).cast("timestamp")
    cm = frequency.cm_sketch_decayed(df, "k", "ts", now, half_life_s=3600.0, d=3, w=64)
    cells = {(r.seed, r.bucket): r.cnt for r in cm.collect()}
    # probe manually: min over seeds of matching cells
    import math

    def est(key):
        vals = []
        for s in range(3):
            b = df.sparkSession.range(1).select(
                F.pmod(F.xxhash64(F.lit(key), F.lit(s)), F.lit(64)).alias("b")
            ).collect()[0].b
            vals.append(cells.get((s, b), 0.0))
        return min(vals)

    assert abs(est("hot") - 10.0) < 1e-6
    assert est("cold") == pytest.approx(10 * 2 ** -12, rel=1e-6, abs=1e-9)


def test_bloom_cardinality_and_jaccard(spark):
    """Bloom bitset estimators (bf.h:83-90, 385-440): cardinality from bit
    density, Jaccard via union inversion."""
    from sketch_spark.operators import membership as MB

    n_bits, k = 8192, 4
    a_keys = spark.range(0, 900).select(F.col("id").alias("k"))
    b_keys = spark.range(600, 1500).select(F.col("id").alias("k"))
    ba = MB.bloom_build(a_keys, "k", n_bits, k).select(F.col("bits").alias("a"))
    bb = MB.bloom_build(b_keys, "k", n_bits, k).select(F.col("bits").alias("b"))
    row = ba.crossJoin(bb).select(
        MB.bloom_cardinality_col(F.col("a"), n_bits, k).alias("ca"),
        MB.bloom_jaccard_col(F.col("a"), F.col("b"), n_bits, k).alias("j"),
    ).collect()[0]
    assert abs(row.ca - 900) / 900 < 0.05, row.ca
    true_j = 300 / 1500
    assert abs(row.j - true_j) < 0.05, row.j


def test_one_perm_signature_mod(spark):
    """Non-pow2 register count (DivBBitMinHasher analog): m=100 buckets via
    pmod, equal sets give equal signatures, collision fraction tracks J."""
    from sketch_spark.operators import minhash as MH

    rng = np.random.default_rng(31)
    a = [int(v) for v in rng.integers(0, 2**62, 500)]
    b = a[:300] + [int(v) for v in rng.integers(2**62, 2**63, 200)]
    true_j = len(set(a) & set(b)) / len(set(a) | set(b))
    rows = [("a", h) for h in a] + [("b", h) for h in b] + [("a2", h) for h in a]
    df = spark.createDataFrame(rows, "conv_id string, h long")
    m = 100
    sig = {r.conv_id: r.sig for r in MH.one_perm_signature_mod(df, m=m).collect()}
    assert sig["a"] == sig["a2"]
    both = [
        (x, y) for x, y in zip(sig["a"], sig["b"]) if x is not None and y is not None
    ]
    frac = sum(1 for x, y in both if x == y) / len(both)
    assert abs(frac - true_j) <= 3 * (true_j * (1 - true_j) / m) ** 0.5 + 0.02


def test_count_sketch_point_and_joinsize(spark):
    """Count sketch (reference cs_t, ccm.h): signed-median point estimates
    are unbiased where Count-Min only overestimates, and the inner product
    of two sketches estimates the join size (join_size_l2est)."""
    rng = np.random.default_rng(17)
    # zipf-ish: key k appears ~ 2000/k times
    keys_a = [int(k) for k in rng.zipf(1.3, size=4000) if k < 1000]
    df_a = spark.createDataFrame([(k,) for k in keys_a], "k long")
    d, w = 5, 1 << 10
    cs = frequency.cs_sketch(df_a, "k", d, w)
    from collections import Counter

    truth = Counter(keys_a)
    top = [k for k, _ in truth.most_common(5)]
    keys_df = spark.createDataFrame([(k,) for k in top], "k long")
    est = {
        r.k: r.est_count
        for r in frequency.cs_query(cs, keys_df, "k", d, w).collect()
    }
    # additive error ~ ||f||_2 / sqrt(w) per row; median over 5 rows
    l2 = sum(v * v for v in truth.values()) ** 0.5
    tol = 4 * l2 / (w ** 0.5) + 2
    for k in top:
        assert abs(est[k] - truth[k]) <= tol, (k, est[k], truth[k])
    # join size vs a second multiset
    keys_b = [int(k) for k in rng.zipf(1.3, size=4000) if k < 1000]
    df_b = spark.createDataFrame([(k,) for k in keys_b], "k long")
    csb = frequency.cs_sketch(df_b, "k", d, w)
    est_js = frequency.cs_inner_product(cs, csb, d).collect()[0].est_join_size
    truth_b = Counter(keys_b)
    exact_js = sum(truth[k] * truth_b.get(k, 0) for k in truth)
    l2b = sum(v * v for v in truth_b.values()) ** 0.5
    js_tol = 4 * l2 * l2b / (w ** 0.5) + 2
    assert abs(est_js - exact_js) <= js_tol, (est_js, exact_js, js_tol)
    # F2 moment
    est_f2 = frequency.cs_l2_moment(cs, d).collect()[0].est_f2
    assert abs(est_f2 - l2 * l2) <= 4 * (2 / w) ** 0.5 * l2 * l2 + 2


def test_top_k_deterministic(spark):
    rows = [("a",)] * 5 + [("b",)] * 5 + [("c",)] * 3
    df = spark.createDataFrame(rows, "k string")
    got = [(r.k, r.cnt) for r in frequency.top_k(df, ["k"], 2).collect()]
    assert got == [("a", 5), ("b", 5)]


def test_simhash_matches_python_oracle(spark):
    rng = np.random.default_rng(4)
    arrs = [
        [int(np.int64(v)) for v in rng.integers(0, 2**64, size=n, dtype=np.uint64)]
        for n in (0, 1, 7, 200)
    ]
    df = spark.createDataFrame([(a,) for a in arrs], "shingles array<long>")
    got = [r.simhash for r in simhash.simhash_signatures(df).collect()]
    assert got == [simhash.simhash_py(a) for a in arrs]


def test_simhash_hamming_near_dup(spark):
    rng = np.random.default_rng(11)
    base = rng.integers(0, 2**64, size=300, dtype=np.uint64)
    near = base.copy()
    near[:15] = rng.integers(0, 2**64, size=15, dtype=np.uint64)  # 5% changed
    far = rng.integers(0, 2**64, size=300, dtype=np.uint64)
    df = spark.createDataFrame(
        [
            ("base", [int(np.int64(v)) for v in base]),
            ("near", [int(np.int64(v)) for v in near]),
            ("far", [int(np.int64(v)) for v in far]),
        ],
        "conv_id string, shingles array<long>",
    )
    sims = simhash.simhash_signatures(df)
    pairs = spark.createDataFrame(
        [("base", "near"), ("base", "far")], "a string, b string"
    )
    kept = {(r.a, r.b) for r in simhash.hamming_filter(pairs, sims, max_hamming=12).collect()}
    assert ("base", "near") in kept
    assert ("base", "far") not in kept


def test_simhash_np_matches_sql(spark):
    rng = np.random.default_rng(21)
    rows = [
        (f"c{i}", [int(np.int64(v)) for v in rng.integers(0, 2**64, size=n, dtype=np.uint64)])
        for i, n in enumerate((1, 5, 64, 300))
    ]
    df = spark.createDataFrame(rows, "conv_id string, shingles array<long>")
    sql_out = {r.conv_id: r.simhash for r in simhash.simhash_signatures(df).collect()}
    np_out = {r.conv_id: r.simhash for r in simhash.simhash_signatures_np(df).collect()}
    assert sql_out == np_out


def test_shrivastava_signature_support_jaccard(spark):
    """ShrivastavaHash (mh.h:1009-1177) through the q35 register builder:
    register-equality fraction of two sparse vectors' signatures
    estimates the Jaccard of their supports."""
    from sketch_spark.operators.ann import shrivastava_registers_portable
    from sketch_spark.plans.entry_queries import _shr_time

    m, dim = 256, 128
    a = list(range(0, 60))
    b = list(range(30, 90))  # |inter|=30, |union|=90
    true_j = 30 / 90
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, a), (4, [])],
        "vec_id long, nz array<long>",
    )
    sig = shrivastava_registers_portable(F.col("nz"), m, dim, _shr_time)
    got = {r.vec_id: r.shr_sig for r in df.select("vec_id", sig.alias("shr_sig")).collect()}
    assert got[1] == got[3]  # equal supports -> equal signatures
    assert got[4] == [None] * m  # empty support -> no winner in any register
    frac = sum(1 for x, y in zip(got[1], got[2]) if x == y) / m
    sigma = (true_j * (1 - true_j) / m) ** 0.5
    assert abs(frac - true_j) <= 3 * sigma, (frac, true_j)
    assert set(got[1]) <= set(a)


def test_pcsa_estimate_and_or_merge(spark):
    """PCSA (pc.h): OR-monoid bitmap registers; merge == union; estimate
    within ~3 * 0.78/sqrt(m) of the truth."""
    rng = np.random.default_rng(41)
    n = 30_000
    a = [int(v) for v in np.unique(rng.integers(-(2**63), 2**63, size=n + 2000, dtype=np.int64))[:n]]
    rows = [("A", h) for h in a] + [("B", h) for h in a[: n // 2]] + [
        ("U", h) for h in a
    ]
    df = spark.createDataFrame(rows, "g string, h long")
    p = 8
    regs = {r.g: r.regs for r in hll.pcsa_registers(df, "g", "h", p).collect()}
    merged = [x | y for x, y in zip(regs["A"], regs["B"])]
    assert merged == list(regs["U"])  # B ⊂ A: union bitmap == A's
    est = (
        spark.createDataFrame([(regs["A"],)], "regs array<long>")
        .select(hll.pcsa_estimate_col(F.col("regs"), p).alias("e"))
        .collect()[0]
        .e
    )
    assert abs(est - n) / n < 3 * 0.78 / (1 << p) ** 0.5 + 0.05, est


def test_pccm_quantize_decode_bounds(spark):
    """c(n) = floor(log2 n) + 1 exactly (integer digit count, no float log);
    decode 2^(c-1) is the largest power of two <= n; saturation at the
    BITS-bit cell max (update.h:39 'Also saturates')."""
    from pyspark.sql import functions as F

    ns = [1, 2, 3, 4, 7, 8, 9, 255, 256, 1023, 1 << 40, (1 << 40) + 17, 0]
    df = spark.createDataFrame([(n,) for n in ns], "n long")
    got = {
        r.n: (r.c, r.est)
        for r in df.select(
            "n",
            frequency.pccm_quantize_col(F.col("n"), bits=8).alias("c"),
            frequency.pccm_est_col(
                frequency.pccm_quantize_col(F.col("n"), bits=8)
            ).alias("est"),
        ).collect()
    }
    for n in ns:
        c, est = got[n]
        if n == 0:
            assert (c, est) == (0, 0)
        else:
            assert c == n.bit_length()
            assert est == 1 << (n.bit_length() - 1)
            assert est <= n < 2 * est
    # saturation: with 3-bit cells max c = 7
    sat = df.select(
        frequency.pccm_quantize_col(F.col("n"), bits=3).alias("c")
    ).agg(F.max("c")).collect()[0][0]
    assert sat == 7


def test_pccm_merge_combine_rule(spark):
    """Cell-wise merge must follow update.h:73-78 literally:
    max(i, j) + (i == j); one-sided cells pass through; saturating."""
    from pyspark.sql import functions as F

    a_cells = [(0, 1, 3), (0, 2, 5), (1, 4, 7)]
    b_cells = [(0, 1, 3), (0, 2, 2), (1, 9, 4)]
    a = spark.createDataFrame(a_cells, "seed int, bucket int, c long")
    b = spark.createDataFrame(b_cells, "seed int, bucket int, c long")
    m = {
        (r.seed, r.bucket): r.c
        for r in frequency.pccm_merge(a, b, bits=3).collect()
    }
    assert m[(0, 1)] == 4  # equal cells: 3 + 1
    assert m[(0, 2)] == 5  # max(5, 2)
    assert m[(1, 4)] == 7  # a only, already at 3-bit max
    assert m[(1, 9)] == 4  # b only
    # saturation: two equal max cells stay at the cell max
    s1 = spark.createDataFrame([(0, 0, 7)], "seed int, bucket int, c long")
    sat = frequency.pccm_merge(s1, s1, bits=3).collect()[0].c
    assert sat == 7


def test_pccm_query_collision_free_exact(spark):
    """With w large enough for zero collisions the estimate is EXACTLY
    est_count(c(true)) — deterministic, unlike the reference's RNG
    counters whose expectation this encoding matches."""
    rows = [(k,) for k in range(16) for _ in range((k + 1) * 9)]
    df = spark.createDataFrame(rows, "key int")
    pc = frequency.pccm_sketch(df, "key", d=4, w=1 << 14, bits=8)
    keys = spark.createDataFrame([(k,) for k in range(16)], "key int")
    est = {
        r.key: r.est_count
        for r in frequency.pccm_query(pc, keys, "key", d=4, w=1 << 14).collect()
    }
    for k in range(16):
        true = (k + 1) * 9
        assert est[k] == 1 << (true.bit_length() - 1)
        assert est[k] <= true < 2 * est[k]


def test_bloom_build_partial_last_word_no_false_negatives(spark):
    """n_bits not divisible by 64: the last PARTIAL word must materialize
    (a floor-div dropped it, and keys hashing into the tail probed null —
    a false negative)."""
    from sketch_spark.operators import membership as MB

    keys = list(range(1, 301))
    elems = spark.createDataFrame([(k,) for k in keys], "k long")
    bits = MB.bloom_build(elems, "k", n_bits=1000, n_hashes=5)
    row = bits.collect()[0]
    assert len(row.bits) == 16  # ceil(1000/64)
    probes = spark.createDataFrame([(k,) for k in keys], "k long")
    got = MB.bloom_probe(probes, bits, "k", n_bits=1000, n_hashes=5)
    n_true = got.where("may_contain").count()
    assert n_true == len(keys)  # zero false negatives


def test_simhash_np_null_array_matches_expr_path(spark):
    """NULL and empty shingle arrays map to 0 on BOTH paths — the expr
    path's IF(null-votes >= 0, ...) takes the else branch for nulls, and
    the np path mirrors it; this pins the interchangeability contract so
    neither variant drifts (callers must filter null/empty shingle docs
    before treating hamming-0 as duplicate evidence)."""
    from sketch_spark.operators import simhash as SH

    df = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", None), ("c", [])],
        "conv_id string, shingles array<long>",
    )
    via_np = {
        r.conv_id: r.simhash
        for r in SH.simhash_signatures_np(df, "shingles", "conv_id").collect()
    }
    via_expr = {
        r.conv_id: r.simhash
        for r in SH.simhash_signatures(df, "shingles").select(
            "conv_id", "simhash"
        ).collect()
    }
    assert via_np == via_expr
    assert via_np["b"] == 0 and via_np["c"] == 0


def test_lpcqf_disjoint_inner_product_is_zero(spark):
    from sketch_spark.operators.frequency import lpcqf_inner_product, lpcqf_sketch

    a = lpcqf_sketch(
        spark.createDataFrame([(1,), (2,)], "k long"), "k", nregs=64
    )
    b = lpcqf_sketch(
        spark.createDataFrame([(1001,), (1002,)], "k long"), "k", nregs=64
    )
    # force disjoint cells by filtering b to buckets a doesn't have
    b_only = b.join(a.select("bucket", "sig"), ["bucket", "sig"], "left_anti")
    row = lpcqf_inner_product(a, b_only).collect()[0]
    assert row.inner_product == 0


def test_conv_table_null_turn_text_is_not_dropped(spark):
    """array_join skips null elements by default, which made a conversation
    with a null-text turn serialize identically to one WITHOUT that turn —
    a false exact duplicate.  The empty-string replacement keeps the
    separator slot, so the two stay distinct."""
    from sketch_spark.operators import transcripts as TR

    rows = [
        ("A", 0, "u", "x", None, None),
        ("A", 1, "a", None, None, None),
        ("A", 2, "u", "y", None, None),
        ("B", 0, "u", "x", None, None),
        ("B", 1, "u", "y", None, None),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    conv = {r.conv_id: r for r in TR.conv_table(t).collect()}
    assert conv["A"].full_text == "x\x1e\x1ey"
    assert conv["B"].full_text == "x\x1ey"
    assert conv["A"].full_hash != conv["B"].full_hash

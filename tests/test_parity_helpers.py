"""Parity helpers: b-bit truncation, register compress, containment,
LSH bucket cap, count_gtlt, pHLL quantize, tokenizer parity."""

import numpy as np
from pyspark.sql import functions as F

from sketch_spark.operators import minhash as MH


def test_bbit_truncate_and_corrected_jaccard(spark):
    from sketch_spark.functions.arrays import bbit_jaccard_col

    sig = [0b1111_0001, 0b1010_0010, 0b0110_0011, 0b0001_0100]
    df = spark.createDataFrame([(sig,)], "sig array<long>")
    got = df.select(MH.bbit_truncate_col(F.col("sig"), 4).alias("t")).collect()[0].t
    assert got == [1, 2, 3, 4]
    # corrected J at frac=1 is 1; at frac=2^-b it's 0
    r = spark.range(1).select(
        bbit_jaccard_col(F.lit(1.0), 4).alias("one"),
        bbit_jaccard_col(F.lit(2.0 ** -4), 4).alias("zero"),
    ).collect()[0]
    assert abs(r.one - 1.0) < 1e-12 and abs(r.zero) < 1e-12


def test_compress_signature_reference_semantics(spark):
    # p=3 (8 regs) -> p_new=2: contiguous blocks of 2 (bbmh.h:933-951);
    # out[i] = min(sig[2i] + 0, sig[2i+1] + 2^61) = sig[2i] when non-null
    sig = [50, 10, 70, 20, 30, 60, 5, 90]
    df = spark.createDataFrame([(sig,)], "sig array<long>")
    got = df.select(
        MH.compress_signature_col(F.col("sig"), 3, 2).alias("c")
    ).collect()[0].c
    assert got == [50, 70, 30, 5]
    # empty (null) first slot: falls through to sig[2i+1] + increment
    sig2 = [None, 10, None, None, 30, 60, 5, 90]
    df2 = spark.createDataFrame([(sig2,)], "sig array<long>")
    got2 = df2.select(
        MH.compress_signature_col(F.col("sig"), 3, 2).alias("c")
    ).collect()[0].c
    assert got2 == [10 + (1 << 61), None, 30, 5]


def test_compress_matches_native_build(spark):
    """compress(p) is register-identical to a natively built p_new sketch
    over the same hashes (the discarded bucket bits become the top value
    bits) — the compress-then-compare == compare-then-compress property of
    bbmhtest.cpp:143-151."""
    rng = np.random.default_rng(7)
    hashes = [int(v) for v in rng.integers(-(2**63), 2**63, size=400, dtype=np.int64)]
    df = spark.createDataFrame([("c", h) for h in hashes], "conv_id string, h long")
    sig6 = MH.one_perm_signature(df, p=6)
    comp = sig6.select(
        MH.compress_signature_col(F.col("sig"), 6, 4).alias("sig")
    ).collect()[0].sig
    native = MH.one_perm_signature(df, p=4).collect()[0].sig
    assert comp == native


def test_hll_compress_matches_native_build(spark):
    from sketch_spark.operators import hll as HL

    rng = np.random.default_rng(11)
    hashes = [int(v) for v in rng.integers(-(2**63), 2**63, size=3000, dtype=np.int64)]
    df = spark.createDataFrame([("g", h) for h in hashes], "g string, h long")
    r8 = HL.hll_registers(df, "g", "h", p=8)
    comp = r8.select(HL.hll_compress_col(F.col("regs"), 8, 5).alias("regs")).collect()[0].regs
    native = HL.hll_registers(df, "g", "h", p=5).collect()[0].regs
    assert comp == native


def test_containment(spark):
    df = spark.createDataFrame(
        [([1, 2, 3, 4], [3, 4, 5, 6, 7, 8])], "a array<long>, b array<long>"
    )
    r = df.select(
        MH.containment_col(F.col("a"), F.col("b")).alias("ab"),
        MH.containment_col(F.col("b"), F.col("a")).alias("ba"),
    ).collect()[0]
    assert abs(r.ab - 0.5) < 1e-12
    assert abs(r.ba - 2 / 6) < 1e-12


def test_capped_pairs_respects_per_item_cap(spark):
    from sketch_spark.operators import lsh

    # star: hub collides with 20 spokes in one bucket
    rows = [("hub", 0, 1)] + [(f"s{i:02d}", 0, 1) for i in range(20)]
    bands = spark.createDataFrame(rows, "conv_id string, band int, key long")
    cap = 3
    pairs = lsh.candidate_pairs(bands, bucket_cap=cap, n_ids=len(rows)).collect()
    per_item = {}
    for r in pairs:
        per_item[r.a] = per_item.get(r.a, 0) + 1
        per_item[r.b] = per_item.get(r.b, 0) + 1
    # every member keeps a partner (the star stays one component), members
    # past the cap link once to the bucket root, and the cap prunes pairs
    assert set(per_item) == {r[0] for r in rows}
    assert sorted(per_item.values())[: len(rows) - cap] == [1] * (len(rows) - cap)
    assert len(pairs) == cap * (cap - 1) // 2 + (len(rows) - cap)
    assert len(pairs) < 20 * 21 / 2


def test_count_gtlt_matches_numpy(spark):
    """Generic count_gtlt kernel (reference count_eq.h:403-544): pairwise
    (#a>b, #b>a) over equal-length arrays, vs a numpy oracle."""
    import numpy as np
    from pyspark.sql import functions as F

    from sketch_spark.functions.arrays import count_gtlt_col

    rng = np.random.default_rng(7)
    rows = []
    for i in range(20):
        n = int(rng.integers(1, 64))
        a = rng.integers(-50, 50, size=n).tolist()
        b = rng.integers(-50, 50, size=n).tolist()
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "i int, a array<long>, b array<long>")
    got = {
        r.i: (r.g["n_gt"], r.g["n_lt"])
        for r in df.select("i", count_gtlt_col(F.col("a"), F.col("b")).alias("g")).collect()
    }
    for i, a, b in rows:
        aa, bb = np.array(a), np.array(b)
        assert got[i] == (int((aa > bb).sum()), int((bb > aa).sum())), i


def test_phll_quantize_saturates(spark):
    """phll value semantics (bbmh.h:140-261): registers clamp at 2^bits-1;
    merge (elementwise max) commutes with the clamp."""
    import numpy as np
    from pyspark.sql import functions as F

    from sketch_spark.operators.hll import phll_quantize_col

    rows = [(0, [0, 3, 14, 15, 16, 40, 7]), (1, [2, 20, 15, 1, 0, 9, 33])]
    df = spark.createDataFrame(rows, "i int, regs array<int>")
    out = {r.i: r.q for r in df.select("i", phll_quantize_col(F.col("regs")).alias("q")).collect()}
    assert out[0] == [0, 3, 14, 15, 15, 15, 7]
    assert out[1] == [2, 15, 15, 1, 0, 9, 15]
    # max-merge then clamp == clamp then max-merge (phll merge parity)
    a, b = np.array(rows[0][1]), np.array(rows[1][1])
    assert np.minimum(np.maximum(a, b), 15).tolist() == np.maximum(
        np.minimum(a, 15), np.minimum(b, 15)
    ).tolist()


def test_tokenizer_identical_across_engines_on_vertical_tab(spark):
    """Java/Spark \\s includes \\x0B; DuckDB's RE2 \\s does not.  The SQL
    tier therefore spells out the Java class (entry_queries.SQL_WS) —
    this pins that all three tokenizers split a VT-containing text
    identically."""
    import duckdb

    from sketch_spark.functions import text as T
    from sketch_spark.plans.entry_queries import SQL_WS

    s = "a\x0bb  c\td"
    expected = ["a", "b", "c", "d"]
    assert T.tokens_py(s) == expected
    got_spark = (
        spark.createDataFrame([(s,)], "text string")
        .select(T.tokens_col(F.col("text")).alias("t"))
        .collect()[0]
        .t
    )
    assert list(got_spark) == expected
    con = duckdb.connect()
    got_duck = con.execute(
        f"SELECT list_filter(string_split_regex(?, '{SQL_WS}'), "
        "t -> length(t) > 0)",
        [s],
    ).fetchone()[0]
    assert list(got_duck) == expected

"""setsim: the exact overlap joins (count join, hybrid, dense n-gram) must
agree with each other and with a brute-force all-pairs intersect on
planted corpora."""

import itertools

import pytest
from pyspark.sql import functions as F  # noqa: F401

from sketch_spark.operators.setsim import overlap_count_join

ROWS = [
    # (id, block, elements) — crafted so blocks, sizes, and overlaps vary:
    # ids 1/2 share 4 of 6; 3 shares 2 with 1; 4 is in another block with a
    # high overlap to 5; 6 is too small to qualify anywhere at t=3.
    (1, "x", [10, 11, 12, 13, 14, 15]),
    (2, "x", [12, 13, 14, 15, 16, 17]),
    (3, "x", [10, 11, 20, 21, 22, 23]),
    (4, "y", [10, 11, 12, 13, 14, 15]),
    (5, "y", [10, 11, 12, 13, 30, 31]),
    (6, "y", [10, 11]),
    (7, "x", [13, 14, 15, 16, 24, 25]),
]


def _brute(t):
    out = {}
    for (ia, ba, ea), (ib, bb, eb) in itertools.combinations(ROWS, 2):
        if ba != bb:
            continue
        inter = len(set(ea) & set(eb))
        if inter >= t:
            a, b = sorted((ia, ib))
            out[(a, b)] = (inter, len(ea) if a == ia else len(eb),
                           len(eb) if a == ia else len(ea))
    return out


@pytest.mark.parametrize("t", [2, 3, 4])
def test_count_join_matches_brute_force(spark, t):
    df = spark.createDataFrame(ROWS, "id long, blk string, es array<long>")
    got = {
        (r.a, r.b): (r.n_inter, r.n_a, r.n_b)
        for r in overlap_count_join(df, "id", "es", t, ("blk",)).collect()
    }
    assert got == _brute(t)


def test_no_block_cols(spark):
    df = spark.createDataFrame(ROWS, "id long, blk string, es array<long>")
    got = {
        (r.a, r.b): r.n_inter
        for r in overlap_count_join(df, "id", "es", 4).collect()
    }
    # cross-block pairs now qualify too: 1-4 (6 shared), 1-5/4-5 (4 shared)
    assert got[(1, 4)] == 6 and got[(1, 5)] == 4 and got[(4, 5)] == 4
    assert (1, 2) in got and (2, 7) in got


@pytest.mark.parametrize("thr", [0, 2, 10**6])
def test_hybrid_matches_count_join_planted(spark, thr):
    """overlap_join_hybrid must be value-identical to overlap_count_join at
    ANY df threshold (0 = everything hot, 10^6 = everything rare)."""
    from sketch_spark.operators.setsim import overlap_join_hybrid

    df = spark.createDataFrame(ROWS, "id long, blk string, es array<long>")
    want = {
        (r.a, r.b): (r.n_inter, r.n_a, r.n_b)
        for r in overlap_count_join(df, "id", "es", 3, ("blk",)).collect()
    }
    got = {
        (r.a, r.b): (r.n_inter, r.n_a, r.n_b)
        for r in overlap_join_hybrid(df, "id", "es", 3, ("blk",), df_threshold=thr).collect()
    }
    assert got == want and got == _brute(3)


def test_hybrid_hot_gram_skew_subquadratic(spark):
    """Planted stopword regime: every doc shares HOT grams (df = n) plus a
    few rare ones.  The rare branch must carry zero hot rows (its exploded
    input excludes them — the Σ df² term the count join would pay), and the
    hot branch must operate on FEW distinct signatures, not n docs; output
    must still equal the exact count join."""
    import random

    from sketch_spark.operators.setsim import overlap_join_hybrid

    rng = random.Random(3)
    n = 400
    hot_grams = [1000, 1001, 1002]        # in every doc -> df = n
    rows = []
    for i in range(n):
        rare = rng.sample(range(100), 4)  # df ~ 4n/100 = 16 << threshold
        rows.append((i, sorted(set(hot_grams + rare))))
    df = spark.createDataFrame(rows, "id long, es array<long>")
    t = 4  # 3 hot grams alone never qualify; hot+rare or rare-heavy pairs do
    thr = 100
    want = {
        (r.a, r.b): r.n_inter
        for r in overlap_count_join(df, "id", "es", t).collect()
    }
    got = {
        (r.a, r.b): r.n_inter
        for r in overlap_join_hybrid(df, "id", "es", t, df_threshold=thr).collect()
    }
    assert got == want and len(got) > 0

    # work-bound evidence: rare exploded rows exclude all df>thr elements,
    # and the hot-signature index is ONE signature, not n
    ex = df.select(F.col("id").alias("_id"), F.explode("es").alias("_e"))
    dft = ex.groupBy("_e").agg(F.count(F.lit(1)).alias("_df"))
    hot = dft.where(F.col("_df") > thr)
    assert hot.count() == len(hot_grams)
    sig = (
        ex.join(F.broadcast(hot.select("_e")), ["_e"], "left_semi")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_set("_e")).alias("hs"))
    )
    assert sig.select("hs").distinct().count() == 1


def _ngram_brute(rows, n, t):
    """All within-block pairs with |grams(a) ∩ grams(b)| >= t, grams by
    Python code-point slicing (the oracle semantics)."""
    out = {}
    grams = {
        i: {txt[k : k + n] for k in range(len(txt) - n + 1)} if len(txt) >= n else set()
        for i, _, txt in rows
    }
    for (ia, ba, _), (ib, bb, _) in itertools.combinations(rows, 2):
        if ba != bb:
            continue
        inter = len(grams[ia] & grams[ib])
        if inter >= t:
            a, b = sorted((ia, ib))
            out[(a, b)] = (inter, len(grams[a]), len(grams[b]))
    return out


def _rand_texts(seed, n_docs, blocks, alpha="abcd", lo=0, hi=40):
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        ln = rng.randint(lo, hi)
        rows.append(
            (i, blocks[i % len(blocks)], "".join(rng.choice(alpha) for _ in range(ln)))
        )
    return rows


@pytest.mark.parametrize("n_blocks", [1, 3])
def test_dense_ngram_matches_brute(spark, n_blocks):
    """Dense Gram-matrix kernel == brute-force code-point n-gram intersect,
    at one block (single sgemm per source) and multi-block (block-pair
    tasks, cross-block ordering by doc id not block id)."""
    from sketch_spark.operators.setsim import ngram_overlap_dense

    rows = _rand_texts(7, 60, ["x", "y"], lo=0, hi=30)
    # plant short/empty texts (no grams) and a duplicated text (max overlap)
    rows[3] = (3, "x", "ab")
    rows[4] = (4, "x", "")
    rows[5] = (5, "y", rows[6][2])
    df = spark.createDataFrame(rows, "id long, blk string, txt string")
    got = {
        (r.a, r.b): (r.n_inter, r.n_a, r.n_b)
        for r in ngram_overlap_dense(
            df, "id", "txt", 3, 2, block_col="blk", n_blocks=n_blocks
        ).collect()
    }
    assert got == _ngram_brute(rows, 3, 2) and len(got) > 0


def test_dense_ngram_non_ascii_fallback_matches_brute(spark):
    """Non-ASCII texts must drop the group to the factorize path and still
    match brute force (the ASCII bit-pack path cannot mix code spaces with
    it inside one group)."""
    from sketch_spark.operators.setsim import ngram_overlap_dense

    rows = _rand_texts(17, 40, ["x", "y"], alpha="abéд", lo=0, hi=30)
    rows[2] = (2, "x", "ascii-only text here")  # mixed group
    df = spark.createDataFrame(rows, "id long, blk string, txt string")
    got = {
        (r.a, r.b): (r.n_inter, r.n_a, r.n_b)
        for r in ngram_overlap_dense(
            df, "id", "txt", 3, 2, block_col="blk", n_blocks=2
        ).collect()
    }
    assert got == _ngram_brute(rows, 3, 2) and len(got) > 0


def test_dense_ngram_scatter_fallback_identical(spark, monkeypatch):
    """Vocab past DENSE_MAX_VOCAB must take the scatter-add path and emit
    byte-identical pairs."""
    from sketch_spark.operators import setsim

    rows = _rand_texts(11, 40, ["x"], alpha="abcdefgh", lo=5, hi=35)
    df = spark.createDataFrame(rows, "id long, blk string, txt string")
    want = {
        (r.a, r.b): (r.n_inter, r.n_a, r.n_b)
        for r in setsim.ngram_overlap_dense(
            df, "id", "txt", 3, 2, block_col="blk", n_blocks=2
        ).collect()
    }
    monkeypatch.setattr(setsim, "DENSE_MAX_VOCAB", 1)
    got = {
        (r.a, r.b): (r.n_inter, r.n_a, r.n_b)
        for r in setsim.ngram_overlap_dense(
            df, "id", "txt", 3, 2, block_col="blk", n_blocks=2
        ).collect()
    }
    assert got == want == _ngram_brute(rows, 3, 2) and len(got) > 0


def test_dense_ngram_matches_count_join_on_spark_grams(spark):
    """The kernel's in-Python gram extraction must agree with the Spark
    char_ngrams_col + overlap_count_join plan (the r5 q15 shape)."""
    from sketch_spark.functions import text as T
    from sketch_spark.operators.setsim import ngram_overlap_dense

    rows = _rand_texts(13, 50, ["s1", "s2", "s3"], alpha="abcde", lo=0, hi=45)
    df = spark.createDataFrame(rows, "id long, blk string, txt string")
    g = df.select(
        "id", "blk", F.array_distinct(T.char_ngrams_col(F.col("txt"), 4)).alias("gs")
    )
    want = {
        (r.a, r.b): (r.n_inter, r.n_a, r.n_b)
        for r in overlap_count_join(g, "id", "gs", 2, ("blk",)).collect()
    }
    got = {
        (r.a, r.b): (r.n_inter, r.n_a, r.n_b)
        for r in ngram_overlap_dense(
            df, "id", "txt", 4, 2, block_col="blk"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_hybrid_hot_only_pairs_found(spark):
    """Pairs whose shared elements are ALL hot must still be found (the
    signature branch), incl. cross-signature and within-signature cases."""
    from sketch_spark.operators.setsim import overlap_join_hybrid

    # elements 1..5 appear in 4+ docs each (hot at thr=3); docs share only hot
    rows = [
        (0, [1, 2, 3, 4, 100]),
        (1, [1, 2, 3, 4, 101]),      # same hot sig as 0 -> within-sig
        (2, [1, 2, 3, 5, 102]),      # sig overlap {1,2,3} with 0/1 -> cross
        (3, [1, 2, 3, 4, 5, 103]),
        (4, [1, 2, 3, 4, 5, 104]),
        (5, [4, 5, 105]),
    ]
    df = spark.createDataFrame(rows, "id long, es array<long>")
    want = {
        (r.a, r.b): r.n_inter
        for r in overlap_count_join(df, "id", "es", 3).collect()
    }
    got = {
        (r.a, r.b): r.n_inter
        for r in overlap_join_hybrid(df, "id", "es", 3, df_threshold=3).collect()
    }
    assert got == want and (0, 1) in got and (0, 2) in got

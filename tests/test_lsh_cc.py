"""LSH banding layout, candidate generation, bucket caps, and connected
components (reference ssi.h band layout; Kiveris alternating algorithm)."""

import pytest
from pyspark.sql import functions as F

from sketch_spark.operators import lsh
from sketch_spark.operators.cc import connected_components


def test_band_layout_contiguous(spark):
    # one signature; verify bands = contiguous rpr slices (ssi.h:85-102)
    m, rpr = 16, 4
    sig = list(range(100, 100 + m))
    df = spark.createDataFrame([("x", sig)], "conv_id string, sig array<long>")
    bands = lsh.band_keys(df, "sig", "conv_id", rpr, m).collect()
    assert sorted(b.band for b in bands) == list(range(m // rpr))
    # identical slice -> identical key; different band index -> different key
    df2 = spark.createDataFrame([("y", sig)], "conv_id string, sig array<long>")
    bands2 = lsh.band_keys(df2, "sig", "conv_id", rpr, m).collect()
    k1 = {b.band: b.key for b in bands}
    k2 = {b.band: b.key for b in bands2}
    assert k1 == k2


def test_candidate_pairs_and_counts(spark):
    rows = [
        ("a", 0, 111), ("b", 0, 111), ("c", 0, 111),  # bucket of 3 -> 3 pairs
        ("a", 1, 222), ("b", 1, 222),                  # a-b again -> n_bands=2
        ("d", 2, 333),                                 # singleton bucket
    ]
    bands = spark.createDataFrame(rows, "conv_id string, band int, key long")
    pairs = {(r.a, r.b): r.n_bands for r in lsh.candidate_pairs(bands).collect()}
    assert pairs == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


def test_bucket_cap_clique_plus_root_links(spark):
    ids = [f"c{i:02d}" for i in range(10)]
    rows = [(i, 0, 7) for i in ids]
    bands = spark.createDataFrame(rows, "conv_id string, band int, key long")
    pairs = lsh.candidate_pairs(bands, bucket_cap=4).collect()
    # first 4 (hash order) form a clique C(4,2)=6; the other 6 each link
    # once to the bucket root -> 12 pairs, EVERY id participates
    assert len(pairs) == 12
    touched = {x for r in pairs for x in (r.a, r.b)}
    assert touched == set(ids)
    # connectivity: union-find over the pairs gives one component
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        parent[find(r.a)] = find(r.b)
    assert len({find(i) for i in ids}) == 1
    # determinism: same input -> same pairs
    again = lsh.candidate_pairs(bands, bucket_cap=4).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, pairs))


def test_verify_pairs_frac_eq(spark):
    sig = spark.createDataFrame(
        [
            ("a", [1, 2, 3, 4]),
            ("b", [1, 2, 3, 9]),  # 3/4 equal
            ("c", [9, 9, 9, 9]),
        ],
        "conv_id string, sig array<long>",
    )
    pairs = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1)], "a string, b string, n_bands long"
    )
    out = {(r.a, r.b): r for r in lsh.verify_pairs(pairs, sig, tau=0.0).collect()}
    assert out[("a", "b")].n_eq == 3
    assert abs(out[("a", "b")].j_est - 0.75) < 1e-9
    assert out[("a", "c")].n_eq == 0


def test_connected_components_fixture(spark):
    # 3 components: a chain, a clique, a singleton pair (FIXTURES.md §3)
    edges = [
        ("n1", "n2"), ("n2", "n3"), ("n3", "n4"),          # chain
        ("m1", "m2"), ("m1", "m3"), ("m2", "m3"),          # clique
        ("z8", "z9"),
    ]
    df = spark.createDataFrame(edges, "a string, b string")
    labels, iters = connected_components(df)
    got = {r.node: r.cluster_id for r in labels.collect()}
    assert got == {
        "n1": "n1", "n2": "n1", "n3": "n1", "n4": "n1",
        "m1": "m1", "m2": "m1", "m3": "m1",
        "z8": "z8", "z9": "z8",
    }
    assert iters <= 6


def test_connected_components_long_path(spark):
    # path of 33 nodes -> must converge (O(log n) rounds) to one component
    edges = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(32)]
    df = spark.createDataFrame(edges, "a string, b string")
    labels, iters = connected_components(df)
    got = {r.cluster_id for r in labels.collect()}
    assert got == {"p00"}
    assert iters <= 10


def test_cc_window_rounds_match_groupby_join_form(spark):
    # The r6 one-exchange window form of _large_star/_small_star must
    # emit the IDENTICAL per-round edge set as the original groupBy+join
    # form — that set drives the convergence signature, so equality here
    # pins both the labels and the cc_iterations counter.
    from sketch_spark.operators.cc import _large_star, _small_star

    def large_ref(edges):
        e2 = edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = e2.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        return (
            e2.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_ref(edges):
        e = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).where(F.col("u") != F.col("v"))
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        return (
            e.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    # mixed shapes: clique, path, star, singleton pair (ids chosen so
    # component minima differ between rounds)
    edges = (
        [(1, 2), (1, 3), (2, 3)]
        + [(10 + i, 11 + i) for i in range(6)]
        + [(30, k) for k in (31, 32, 33, 34)]
        + [(50, 51)]
    )
    df = spark.createDataFrame(edges, "u long, v long")
    cur_new, cur_ref = df, df
    for _round in range(4):
        # lineage cut per round, as connected_components does: without it
        # the analyzed plans grow with every round until the driver OOMs
        cur_new = _small_star(_large_star(cur_new)).localCheckpoint()
        cur_ref = small_ref(large_ref(cur_ref)).localCheckpoint()
        got = sorted((r.u, r.v) for r in cur_new.collect())
        want = sorted((r.u, r.v) for r in cur_ref.collect())
        assert got == want, f"round {_round}: {got} != {want}"


def test_hot_bucket_routing_bit_identical(spark):
    """Pairs must be identical whether a bucket is routed through the
    array (collect_list) path or the window-rank hot path — the routing
    threshold is a memory guard, not a semantics knob."""
    import random

    from pyspark.sql import functions as F

    from sketch_spark.operators.lsh import candidate_pairs

    rng = random.Random(9)
    rows = []
    # bucket A: 500 members (hot at threshold 100), bucket B: 40 members,
    # some members in both buckets on different bands; bucket C: 200
    # members of their own at band 9 (hot too), past lsh.LINK_BANDS, so
    # both routes must cut its tail
    ids = [f"c{i:05d}" for i in range(720)]
    for i in range(500):
        rows.append((ids[i], 0, 111))
    for i in range(480, 520):
        rows.append((ids[i], 1, 222))
    for i in range(520, 720):
        rows.append((ids[i], 9, 333))
    tail_cut = set(ids[520:720])
    rng.shuffle(rows)
    bands = spark.createDataFrame(rows, "conv_id string, band int, key long")
    cold = candidate_pairs(bands, bucket_cap=16, hot_threshold=10**6)
    routed = candidate_pairs(bands, bucket_cap=16, hot_threshold=100)
    c = {(r.a, r.b, r.n_bands) for r in cold.collect()}
    h = {(r.a, r.b, r.n_bands) for r in routed.collect()}
    assert c == h and len(c) > 0
    # bucket C: its C(16,2) clique only, no root links
    in_c = [p for p in c if p[0] in tail_cut or p[1] in tail_cut]
    assert len(in_c) == 16 * 15 // 2
    assert all(a in tail_cut and b in tail_cut for a, b, _ in in_c)


def test_hot_bucket_ten_million_members_bounded(spark):
    """A 10^7-member bucket must complete through the window-rank path with
    bounded task memory (spillable sort), emitting cap-clique + root-link
    pairs — never a 10^7-element collected row, never C(n,2) pairs."""
    from pyspark.sql import functions as F

    from sketch_spark.operators.lsh import candidate_pairs

    n = 10_000_000
    bands = spark.range(n).select(
        F.format_string("c%09d", F.col("id")).alias("conv_id"),
        F.lit(0).alias("band"),
        F.lit(42).cast("long").alias("key"),
    )
    cap = 64
    pairs = candidate_pairs(bands, bucket_cap=cap, hot_threshold=500_000)
    got = pairs.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("a", "b").alias("d")
    ).collect()[0]
    # cap-clique C(cap,2) + one root link per over-cap member
    assert got.n == cap * (cap - 1) // 2 + (n - cap)
    assert got.d == got.n


def test_verify_pairs_shared_empty_registers_are_not_matches(spark):
    """Two disjoint tiny sets' NON-densified one-perm signatures share
    almost all registers as nulls; a null-null 'match' must not count
    (eqNullSafe did, driving j_est toward 1.0).  Densified inputs carry
    no nulls, so pipeline values are unaffected — pinned by the n_eq=m
    self-pair check."""
    import numpy as np

    from pyspark.sql import functions as F
    from sketch_spark.functions.hashing import wanghash_np
    from sketch_spark.operators import lsh, minhash as MH

    p = 7

    def hs(n0, cnt):
        return (
            wanghash_np(np.arange(n0, n0 + cnt, dtype=np.uint64))
            .astype(np.int64)
            .tolist()
        )

    df = spark.createDataFrame(
        [("a", hs(1, 2)), ("b", hs(10_001, 2))], "id string, xs array<long>"
    )
    sig = MH.one_perm_signature(
        df.select("id", F.explode("xs").alias("h")), "id", "h", p
    ).select("id", "sig")
    pairs = spark.createDataFrame(
        [("a", "b", 1), ("a", "a", 1)], "a string, b string, n_bands int"
    )
    out = {
        (r.a, r.b): (r.n_eq, r.j_est)
        for r in lsh.verify_pairs(
            pairs, sig, "id", "sig", b_bits=57, tau=0.0
        ).collect()
    }
    n_eq_ab, j_ab = out[("a", "b")]
    assert n_eq_ab == 0 and j_ab == 0.0  # disjoint: no real register match
    n_eq_aa, j_aa = out[("a", "a")]
    # self-pair: only the OCCUPIED registers match (2 elements -> <= 2)
    assert 1 <= n_eq_aa <= 2

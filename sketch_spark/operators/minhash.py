"""MinHash signature builders — the core dedup aggregates.

Re-expresses the reference's signature builders as Spark aggregations:

  * one-permutation MinHash (reference bbmh.h:894-969): bucket = top p bits,
    register = min of remaining bits, ONE hash pass per element.  Spark plan:
    groupBy(conv_id, bucket).min(value)  ->  groupBy(conv_id) assemble array.
    Both aggregations are partial+final hash aggs (map-side combine), the
    Spark equivalent of the reference's commutative `operator+=` monoid merge
    (bbmh.h:1092-1137).  O(1) work per input row, like the C++.  This
    exploded form is the SQL oracle; the dedup pipeline's sig stage uses
    one_perm_signature_from_array_fast, a map-only numpy kernel over the
    conv stage's per-conversation shingle arrays (same values, densified).
  * optimal densification (reference bbmh.h:31-56): deterministic fill of
    empty registers by hashed probing of non-empty ones — a vectorized
    pandas UDF over the (one row per conv) signature table, NOT per element.
  * bottom-k / KMV (reference mh.h:99-256, mh.h:1179-1257): k smallest
    distinct hashes per group, via sort_array(collect_set)[0:k] (conversations
    are bounded-size groups, so collect_set per group is safe; for unbounded
    groups use the windowed variant `bottom_k_windowed`).

Scale notes: every stage here is a single shuffle on conv_id (or
(conv_id, bucket)) with map-side partial aggregation; no Python touches the
per-shingle rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from sketch_spark.functions.hashing import wanghash_np

# Pinned reference config (SURVEY.md §7.2): p=7 -> m=128 registers.
DEFAULT_P = 7
DEFAULT_M = 1 << DEFAULT_P

# Register value keeps the low 64-p bits of the hash; with p=7 that is 57
# bits, always non-negative in a signed long.
def _value_bits(p: int) -> int:
    return 64 - p


# Empty-register sentinel for the numpy densify path (the reference's
# detail::default_val<uint64> = max; int64 max here).  Registers stay int64
# end-to-end — a float64 round-trip would corrupt the low ~4 bits of 57-bit
# values (53-bit mantissa), breaking bit-exact parity with the JVM path and
# making b-bit truncation of densified signatures meaningless.
EMPTY_REG = (1 << 63) - 1


def one_perm_signature(
    shingles: DataFrame,
    group_col: str = "conv_id",
    hash_col: str = "h",
    p: int = DEFAULT_P,
) -> DataFrame:
    """(group, h) rows -> (group, sig array<long> with nulls, n_shingles).

    Register i holds min(h & mask) over hashes whose top-p bits == i
    (reference bbmh.h:959-969; here the hash is already well-mixed xxhash64,
    playing the role of the reference's WangHash element mix).
    Null register == empty bucket (densify before LSH).
    """
    m = 1 << p
    vb = _value_bits(p)
    mask = (1 << vb) - 1
    g = F.col(group_col)
    bucket = F.shiftrightunsigned(F.col(hash_col), vb).alias("bucket")
    value = F.col(hash_col).bitwiseAND(F.lit(mask)).alias("value")

    per_bucket = (
        shingles.select(g.alias("_g"), bucket, value)
        .groupBy("_g", "bucket")
        .agg(F.min("value").alias("mv"), F.count(F.lit(1)).alias("n"))
    )
    sig = (
        per_bucket.groupBy("_g")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("bucket", "mv"))).alias("mm"),
            F.sum("n").alias("n_shingles"),
        )
        .select(
            F.col("_g").alias(group_col),
            # static unroll (codegen) instead of interpreted transform()
            F.array(
                *[F.element_at(F.col("mm"), F.lit(i).cast("long")) for i in range(m)]
            ).alias("sig"),
            F.col("n_shingles"),
        )
    )
    return sig


def one_perm_signature_from_array_fast(
    df: DataFrame,
    arr_col: str = "shingles",
    group_col: str = "cid",
    p: int = DEFAULT_P,
) -> DataFrame:
    """Densified one-perm signatures with ZERO exchanges (r6) — the
    pipeline's sig stage.  When the caller already holds one shingle-hash
    array per group (the conv stage's single groupBy built it), the
    explode + two grouping exchanges of one_perm_signature are recomputing
    an aggregation the data already has.  One map-only numpy pass computes
    bucket minima (sort + reduceat — a np.minimum.at scatter is ~10x
    slower) and densifies in the same kernel, scattering the (bucket, min)
    entries into the dense register matrix with one vectorized assignment
    (a 128-wide element_at(map) pivot cost 56 s at 466k convs where the
    min-aggregation itself cost 2.5 s).  Output rows and values are
    identical to densify_signatures(one_perm_signature(...)) over the
    exploded input (parity-tested): groups with an EMPTY array produce no
    row, matching explode() semantics."""
    m = 1 << p
    vb = _value_bits(p)
    mask = np.uint64((1 << vb) - 1)

    def gen(batches):
        for pdf in batches:
            arrs = pdf[arr_col].tolist()
            n = len(arrs)
            if n == 0:
                continue
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
            keep = np.nonzero(lens > 0)[0]
            if keep.size == 0:
                continue
            rows = np.repeat(np.arange(n), lens)
            h = (
                np.concatenate([np.asarray(a, dtype=np.int64) for a in arrs])
                .astype(np.int64)
                .view(np.uint64)
            )
            buckets = (h >> np.uint64(vb)).astype(np.int64)
            vals = (h & mask).astype(np.int64)
            # group-min via one sort + minimum.reduceat over run boundaries
            key = rows * m + buckets
            order = np.argsort(key, kind="stable")
            sk, sv = key[order], vals[order]
            starts = np.nonzero(
                np.concatenate(([True], sk[1:] != sk[:-1]))
            )[0]
            mins = np.minimum.reduceat(sv, starts)
            uk = sk[starts]
            mat = np.full((n, m), EMPTY_REG, dtype=np.int64)
            mat[uk // m, uk % m] = mins
            empty = mat == EMPTY_REG
            dense = densify_batch(mat, empty, m)
            lists = dense[keep].tolist()
            yield pd.DataFrame(
                {group_col: pdf[group_col].iloc[keep], "sig": lists}
            )

    gtype = df.schema[group_col].dataType.simpleString()
    return df.select(group_col, arr_col).mapInPandas(
        gen, schema=f"{group_col} {gtype}, sig array<long>"
    )


def one_perm_signature_mod(
    shingles: DataFrame,
    group_col: str = "conv_id",
    hash_col: str = "h",
    m: int = 100,
    value_seed: int = 7,
) -> DataFrame:
    """Non-power-of-2 register count (reference DivBBitMinHasher,
    bbmh.h:766-832: bucket = fastmod(h, m)).  Spark's longs are signed, so
    instead of the reference's quotient the register VALUE is an
    independent xxhash64 of the element — an equally valid minhash value
    (what matters is a fixed uniform value per element) that stays
    engine-portable.  -> (group, sig array<long> with nulls, length m)."""
    per_bucket = (
        shingles.select(
            F.col(group_col).alias("_g"),
            F.pmod(F.col(hash_col), F.lit(m)).alias("bucket"),
            F.xxhash64(F.col(hash_col), F.lit(value_seed)).alias("value"),
        )
        .groupBy("_g", "bucket")
        .agg(F.min("value").alias("mv"))
    )
    return (
        per_bucket.groupBy("_g")
        .agg(F.map_from_entries(F.collect_list(F.struct("bucket", "mv"))).alias("mm"))
        .select(
            F.col("_g").alias(group_col),
            F.array(
                *[F.element_at(F.col("mm"), F.lit(i).cast("long")) for i in range(m)]
            ).alias("sig"),
        )
    )


def densify_batch(mat: np.ndarray, empty: np.ndarray, m: int) -> np.ndarray:
    """Vectorized optimal densification over a whole Arrow batch at once.

    mat: (n, m) int64 register matrix with EMPTY_REG sentinel for empty
    registers; empty: boolean mask.  For each empty (row, reg) pair, probe
    donor register j = WangHash(reg * GOLDEN + attempt) % m until the donor
    is non-empty in that row (reference bbmh.h:31-56 semantics:
    deterministic, depends only on the occupied pattern + values, so equal
    sets yield equal densified signatures).  All (row, reg) pairs advance
    together.  int64 throughout — donor values copy bit-exactly.
    """
    golden = np.uint64(0x9E3779B97F4A7C15)
    vals = mat.copy()
    # all-empty rows have no donor: exclude them (callers keep them null)
    # instead of probing forever.
    fillable = ~empty.all(axis=1)
    rows, cols = np.nonzero(empty & fillable[:, None])
    attempt = np.uint64(1)
    while rows.size:
        j = (wanghash_np(cols.astype(np.uint64) * golden + attempt) % np.uint64(m)).astype(
            np.int64
        )
        ok = ~empty[rows, j]
        vals[rows[ok], cols[ok]] = mat[rows[ok], j[ok]]
        rows, cols = rows[~ok], cols[~ok]
        attempt += np.uint64(1)
    return vals


def densify_signatures(
    sig_df: DataFrame, sig_col: str = "sig", p: int = DEFAULT_P
) -> DataFrame:
    """Optimal-densification fill of empty (null) registers — mapInPandas
    (a dedicated plan node: immune to projection inlining, and lets us
    densify the whole Arrow batch as one numpy matrix).  One row per
    conversation, so this is off the per-shingle hot path.

    Null registers are coalesced to the EMPTY_REG sentinel JVM-side before
    the Arrow transfer: an array<long> containing nulls would cross Arrow as
    float64 (NaN holes) and corrupt 57-bit values.  With the sentinel the
    arrays stay int64 end-to-end."""
    m = 1 << p
    schema = sig_df.schema
    pre = sig_df.withColumn(
        sig_col,
        F.transform(F.col(sig_col), lambda v: F.coalesce(v, F.lit(EMPTY_REG))),
    )

    def gen(batches):
        for pdf in batches:
            col = pdf[sig_col]
            live = col.notna()
            if live.any():
                sub = col[live]
                mat = np.stack([np.asarray(v, dtype=np.int64) for v in sub])
                empty = mat == EMPTY_REG
                all_empty = empty.all(axis=1)
                dense = densify_batch(mat, empty, m)
                lists = dense.tolist()
                out = [
                    None if all_empty[r] else lists[r] for r in range(len(lists))
                ]
                col = col.copy()
                col.loc[live] = pd.Series(out, index=sub.index, dtype=object)
                pdf[sig_col] = col
            yield pdf

    return pre.mapInPandas(gen, schema=schema)


def densify_cyclic_col(sig: Column, m: int) -> Column:
    """Engine-portable densification variant: each empty (null) register is
    filled from the nearest non-empty register in cyclic index order
    (distance (j - i) mod m) — deterministic, expressible in identical
    integer arithmetic on any SQL engine, hence oracle-checkable.

    The production path keeps the reference's optimal densification
    (WangHash-probe, densify_batch / bbmh.h:31-56), whose uint64 wraparound
    has no portable SQL form; the two variants share the contract that the
    filled signature depends only on the occupied pattern + values.
    Rows where every register is null densify to all-null."""
    idx = F.sequence(F.lit(0), F.lit(m - 1))

    def fill(i):
        cands = F.filter(
            F.transform(
                idx,
                lambda j: F.struct(
                    F.pmod(j - i, F.lit(m)).alias("d"), F.get(sig, j).alias("v")
                ),
            ),
            lambda s: s.getField("v").isNotNull(),
        )
        return F.array_min(cands).getField("v")

    return F.transform(idx, fill)


def one_perm_cardinality_col(sig: Column, p: int = DEFAULT_P) -> Column:
    """Harmonic-mean cardinality estimate from one-perm registers
    (reference bbmh.h:1047-1090, HARMONIC_MEAN default).

    Registers are uniform in [0, 2^vb); E[min of n uniforms] ~ range/(n+1),
    so n_i ~ range/reg - 1 per register; harmonic combine over m registers.
    An EMPTY register (null, before densification) saw n_i = 0 elements —
    its term is the reference's default_val = max register (bbmh.h detail::
    default_val), i.e. (max+1)/range = 1.0.  (An earlier version added 0.0
    for nulls, which inflated sparse-set estimates by orders of magnitude:
    one shingle -> 127 empty registers -> inv_sum ~ 2^-57 instead of ~127.)
    """
    m = 1 << p
    rng = float(1 << _value_bits(p))
    inv_sum = F.aggregate(
        sig,
        F.lit(0.0),
        lambda acc, v: acc
        + F.when(v.isNull(), F.lit(1.0)).otherwise(
            (v.cast("double") + F.lit(1.0)) / F.lit(rng)
        ),
    )
    return F.when(inv_sum > 0, F.lit(float(m * m)) / inv_sum - F.lit(float(m))).otherwise(
        F.lit(0.0)
    )


def bottom_k(
    shingles: DataFrame,
    k: int,
    group_col: str = "conv_id",
    hash_col: str = "h",
) -> DataFrame:
    """(group, h) -> (group, bottomk sorted array of k smallest DISTINCT
    hashes, n_distinct) — reference RangeMinHash/BottomKHasher (mh.h:99-256).

    collect_set per group is safe for bounded groups (conversations);
    partial aggregation dedups map-side before the shuffle.
    """
    return (
        shingles.groupBy(F.col(group_col))
        .agg(F.collect_set(F.col(hash_col)).alias("hs"))
        .select(
            group_col,
            F.slice(F.array_sort(F.col("hs")), 1, k).alias("bottomk"),
            F.size(F.col("hs")).alias("n_distinct"),
        )
    )


def bottom_k_windowed(
    shingles: DataFrame,
    k: int,
    group_col: str = "conv_id",
    hash_col: str = "h",
) -> DataFrame:
    """Unbounded-group-safe bottom-k: dedup + window row_number <= k.
    Two shuffles but never materializes a whole group in memory."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(hash_col)
    return (
        shingles.select(group_col, hash_col)
        .distinct()
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy(group_col)
        .agg(
            F.array_sort(F.collect_list(hash_col)).alias("bottomk"),
            F.count(F.lit(1)).alias("_n"),
        )
        .drop("_n")
    )


def bottom_k_counting(
    shingles: DataFrame,
    k: int,
    group_col: str = "conv_id",
    hash_col: str = "h",
) -> DataFrame:
    """Counting bottom-k (reference CountingRangeMinHash, mh.h:482-735):
    the k smallest distinct hashes per group, each with its multiplicity.
    -> (group, minimizers array<struct<h, cnt>> sorted by h).

    One groupBy(group, h) count (codegen, map-side combine), then per-group
    assembly of the k smallest (collect_list of bounded pre-filtered rows).
    """
    from pyspark.sql import Window

    counts = shingles.groupBy(F.col(group_col), F.col(hash_col).alias("h")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(group_col).orderBy("h")
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy(group_col)
        .agg(F.array_sort(F.collect_list(F.struct("h", "cnt"))).alias("minimizers"))
    )


def weighted_overlap_cols(a: Column, b: Column) -> tuple[Column, Column]:
    """Integer parts of the histogram intersection (reference
    histogram_intersection, mh.h:562-588) over two sorted
    array<struct<h long, cnt long>> minimizer lists:

      num = sum over shared hashes of min(cnt_a, cnt_b)
      den = tot_a + tot_b - num    (= sum of max over the union)

    Exposed separately so the oracle tier can hash-compare the integers
    (the ratio is float)."""
    ah = F.transform(a, lambda s: s.getField("h"))
    bh = F.transform(b, lambda s: s.getField("h"))
    shared = F.array_intersect(ah, bh)
    # O(k log k) map lookups instead of an O(k) filter scan per shared hash
    am = F.map_from_entries(a)
    bm = F.map_from_entries(b)
    num = F.aggregate(
        shared,
        F.lit(0).cast("long"),
        lambda acc, h: acc + F.least(F.element_at(am, h), F.element_at(bm, h)),
    )
    tot_a = F.aggregate(a, F.lit(0).cast("long"), lambda acc, s: acc + s.getField("cnt"))
    tot_b = F.aggregate(b, F.lit(0).cast("long"), lambda acc, s: acc + s.getField("cnt"))
    return num, tot_a + tot_b - num


def weighted_jaccard_col(a: Column, b: Column) -> Column:
    """Histogram intersection ratio: sum(min)/sum(max) (mh.h:562-588)."""
    num, denom = weighted_overlap_cols(a, b)
    return F.when(denom > 0, num.cast("double") / denom.cast("double")).otherwise(
        F.lit(0.0)
    )


def weighted_jaccard_py(a: list[tuple[int, int]], b: list[tuple[int, int]]) -> float:
    """Python oracle: J_w = sum(min)/sum(max) over the union of keys."""
    da, db = dict(a), dict(b)
    keys = set(da) | set(db)
    num = sum(min(da.get(h, 0), db.get(h, 0)) for h in keys)
    den = sum(max(da.get(h, 0), db.get(h, 0)) for h in keys)
    return num / den if den else 0.0


def tfidf_walk_py(
    a: list[tuple[int, int]], b: list[tuple[int, int]]
) -> tuple[int, int]:
    """Exact FinalRMinHash::tf_idf merge walk (reference mh.h:366-391):
    walk the two hash-sorted weighted signatures in merge order, at most
    len(a) steps, stopping as soon as either side exhausts; matched hashes
    add min(w) to the numerator and max(w) to the denominator, unmatched
    hashes add their weight to the denominator only.  Unlike the full
    histogram intersection (weighted_jaccard_py), the estimate is computed
    over a bounded PREFIX of the union — the reference's bottom-k sampling
    semantics.  Returns integer (num, den) so oracles can hash-compare."""
    lsz, rsz = len(a), len(b)
    if lsz == 0 or rsz == 0:
        return 0, 0
    num = den = 0
    i1 = i2 = nused = 0
    while nused < lsz:
        nused += 1
        if a[i1][0] < b[i2][0]:
            den += a[i1][1]
            i1 += 1
            if i1 == lsz:
                break
        elif b[i2][0] < a[i1][0]:
            den += b[i2][1]
            i2 += 1
            if i2 == rsz:
                break
        else:
            w1, w2 = a[i1][1], b[i2][1]
            den += max(w1, w2)
            num += min(w1, w2)
            i1 += 1
            i2 += 1
            if i1 == lsz or i2 == rsz:
                break
    return num, den


def tfidf_walk_cols(a: Column, b: Column) -> tuple[Column, Column]:
    """tfidf_walk_py as a JVM expression over two hash-sorted
    array<struct<h long, cnt long>> signatures.  The sequential merge walk
    is re-expressed set-wise: visiting union hashes in ascending order IS
    the merge order, and the reference's post-step break (mh.h:374-390)
    makes "stopped" an absorbing state over monotone counters, so a union
    element at merge position n is processed iff the PRIOR prefix had not
    exhausted either list (i1 < lsz, i2 < rsz) nor used lsz steps.  An
    F.aggregate with a struct accumulator carries (i1, i2, n, num, den,
    stop) across the sorted union — O(k) per pair, k = bottom-k size."""
    am = F.map_from_entries(a)
    bm = F.map_from_entries(b)
    ah = F.transform(a, lambda s: s.getField("h"))
    bh = F.transform(b, lambda s: s.getField("h"))
    union_h = F.array_sort(F.array_union(ah, bh))
    lsz = F.size(a)
    rsz = F.size(b)
    zero = F.struct(
        F.lit(0).alias("i1"),
        F.lit(0).alias("i2"),
        F.lit(0).alias("n"),
        F.lit(0).cast("long").alias("num"),
        F.lit(0).cast("long").alias("den"),
        ((lsz == 0) | (rsz == 0)).alias("stop"),
    )

    def step(acc, h):
        wa = F.element_at(am, h)  # null when h is not in a
        wb = F.element_at(bm, h)
        both = wa.isNotNull() & wb.isNotNull()
        i1n = acc.getField("i1") + F.when(wa.isNotNull(), 1).otherwise(0)
        i2n = acc.getField("i2") + F.when(wb.isNotNull(), 1).otherwise(0)
        nn = acc.getField("n") + 1
        dden = F.when(both, F.greatest(wa, wb)).otherwise(F.coalesce(wa, wb))
        dnum = F.when(both, F.least(wa, wb)).otherwise(F.lit(0).cast("long"))
        return F.when(acc.getField("stop"), acc).otherwise(
            F.struct(
                i1n.alias("i1"),
                i2n.alias("i2"),
                nn.alias("n"),
                (acc.getField("num") + dnum).alias("num"),
                (acc.getField("den") + dden).alias("den"),
                ((i1n >= lsz) | (i2n >= rsz) | (nn >= lsz)).alias("stop"),
            )
        )

    st = F.aggregate(union_h, zero, step)
    return st.getField("num"), st.getField("den")


# ---------------------------------------------------------------------------
# Weighted MinHash signatures (reference bmh.h:219-701 BagMinHash /
# ProbMinHash).  Two constructions:
#
#   * prob_minhash_np — pmh1-style shared exponential clocks: register j
#     holds the element winning the race min_e( -ln(u(e,j)) / w(e) ) with
#     u(e,j) derived from WangHash, shared across sketches.  Collision
#     probability of a register equals Ertl's PROBABILITY Jaccard
#     J_P(A,B) = sum_e 1 / sum_f max(wA(f)/wA(e), wB(f)/wB(e))
#     (the quantity pmh1/2/3 estimate).
#   * expand_weighted_elements — exact reduction of integer-weighted sets
#     to plain sets of (element, level) sub-elements, level < weight:
#     plain Jaccard of the expansions IS sum(min)/sum(max) (what
#     BagMinHash estimates), so the whole unweighted one-perm/LSH stack
#     applies unchanged.  Linear in total weight — the right trade for
#     shingle multiplicities (small counts); BagMinHash's sampling tricks
#     only pay off at huge weights.
# ---------------------------------------------------------------------------

_PMH_GOLDEN = 0x9E3779B97F4A7C15


def prob_minhash_np(
    df: DataFrame,
    minimizers_col: str = "minimizers",
    id_col: str = "conv_id",
    m: int = 64,
    out_col: str = "psig",
    weight_field: str = "cnt",
) -> DataFrame:
    """(id, array<struct<h long, <weight_field> long|double>>) -> (id, psig
    array<long> of m winning element hashes).  ProbMinHash over ARBITRARY
    POSITIVE FLOAT weights (reference bmh.h:439-701 pmh2; the integer `cnt`
    schema is the special case): register j's winner is argmin_e
    -ln(u_ej)/w_e, a per-register exponential race each element wins with
    probability w_e / W, giving the probability-Jaccard collision law
    P(sig_A[j] == sig_B[j]) = J_P(A, B) for any positive real weights —
    exactly what pmh2 computes; its lazy exponential-spacing evaluation is
    a sequential-machine work bound that the Arrow-vectorized batch
    replaces (elements stream through in blocks with a running min, so
    per-row temporaries stay bounded regardless of set size).

    One numpy batch per Arrow chunk; deterministic (WangHash-derived
    uniforms), so equal weighted sets give equal signatures.  Empty/null
    rows -> null signature."""
    id_type = df.schema[id_col].dataType.simpleString()
    golden = np.uint64(_PMH_GOLDEN)
    BLOCK = 8192  # elements per streaming block (bounds the m x n matrix)

    def gen(batches):
        js = np.arange(m, dtype=np.uint64)
        for pdf in batches:
            out = []
            for row in pdf[minimizers_col]:
                if row is None or len(row) == 0:
                    out.append(None)
                    continue
                hs = np.array([e["h"] for e in row], dtype=np.int64).astype(np.uint64)
                ws = np.array([e[weight_field] for e in row], dtype=np.float64)
                # weight <= 0 (e.g. idf 0) or NaN means "not in the weighted
                # set": drop those elements up front.  Without the mask an
                # all-degenerate row would leave best_h at the zero sentinel,
                # and two unrelated such rows would compare as J_P = 1.0;
                # all-degenerate rows get a null signature like empty rows.
                ok = np.isfinite(ws) & (ws > 0.0)
                if not ok.all():
                    hs, ws = hs[ok], ws[ok]
                    if hs.size == 0:
                        out.append(None)
                        continue
                best_t = np.full(m, np.inf)
                best_h = np.zeros(m, dtype=np.uint64)
                for lo in range(0, hs.size, BLOCK):
                    hb, wb = hs[lo : lo + BLOCK], ws[lo : lo + BLOCK]
                    with np.errstate(over="ignore"):
                        mixed = wanghash_np(hb[:, None] + golden * js[None, :])
                    # uniform in (0, 1]: (hash + 1) / 2^64
                    u = (mixed.astype(np.float64) + 1.0) / 18446744073709551616.0
                    t = -np.log(u) / wb[:, None]
                    am = np.argmin(t, axis=0)
                    tmin = t[am, np.arange(m)]
                    upd = tmin < best_t
                    best_t[upd] = tmin[upd]
                    best_h[upd] = hb[am[upd]]
                out.append(best_h.astype(np.int64).tolist())
            yield pd.DataFrame({id_col: pdf[id_col], out_col: out})

    return df.select(id_col, minimizers_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, {out_col} array<long>"
    )


def prob_jaccard_py(a: list[tuple[int, int]], b: list[tuple[int, int]]) -> float:
    """Probability Jaccard J_P (Ertl; what prob_minhash registers collide
    with): sum over shared e of 1 / sum_f max(wA(f)/wA(e), wB(f)/wB(e))."""
    da, db = dict(a), dict(b)
    shared = set(da) & set(db)
    total = 0.0
    for e in shared:
        s = 0.0
        for f in set(da) | set(db):
            s += max(da.get(f, 0) / da[e], db.get(f, 0) / db[e])
        total += 1.0 / s
    return total


def expand_weighted_elements(
    elems: DataFrame,
    hash_col: str = "h",
    count_col: str = "cnt",
    out_col: str = "h",
) -> DataFrame:
    """(…, h, cnt) -> one row per (h, level), level in [0, cnt), with
    out_col = xxhash64(h, level): the exact integer-weight reduction —
    plain Jaccard over the expanded sets equals sum(min)/sum(max) of the
    weighted sets, so every unweighted signature/LSH operator applies.

    cnt <= 0 (a truncated fractional weight, a zeroed idf term) emits NO
    rows: sequence(0, cnt-1) must be guarded because Spark's sequence
    defaults to step -1 when start > stop — unguarded, cnt = 0 would emit
    two phantom sub-elements [0, -1] (same guard as transcripts.py's
    shingle window)."""
    other = [c for c in elems.columns if c not in (hash_col, count_col)]
    cnt = F.col(count_col).cast("long")
    return elems.select(
        *other,
        F.col(hash_col).alias("_wh"),
        F.explode(
            F.when(cnt > 0, F.sequence(F.lit(0), cnt - 1))
        ).alias("_lvl"),
    ).select(*other, F.xxhash64(F.col("_wh"), F.col("_lvl")).alias(out_col))


def kmv_cardinality_col(bottomk: Column, k: int, hash_bits: int = 64) -> Column:
    """KMV estimate (k-1) * range / kth_min — reference mh.h:359-362.

    Hashes are signed xxhash64 output spanning the full int64 range; shift to
    unsigned rank space by adding 2^63.
    """
    # F.get is 0-indexed and null-safe out of bounds (ANSI-proof).
    kth = F.get(bottomk, k - 1).cast("double") + F.lit(float(2 ** 63))
    rng = float(2 ** hash_bits)
    return F.when(
        F.size(bottomk) >= k, F.lit(float(k - 1)) * F.lit(rng) / kth
    ).otherwise(F.size(bottomk).cast("double"))


def bbit_truncate_col(sig: Column, b: int) -> Column:
    """Keep the low b bits of each register (reference finalize(b),
    bbmh.h:1622-1646 — minus the bit-transposed packing, which parquet
    encoding replaces).  Compare with arrays.bbit_jaccard_col(frac, b)."""
    mask = (1 << b) - 1
    return F.transform(sig, lambda v: v.bitwiseAND(F.lit(mask)))


def compress_signature_col(sig: Column, p: int, p_new: int) -> Column:
    """Fold 2^p registers down to 2^p_new (reference BBitMinHasher::compress,
    bbmh.h:933-951): new register i covers the CONTIGUOUS old block
    [i*ratio, (i+1)*ratio) — the old buckets whose top p_new bits equal i —
    and its value re-adds the discarded bucket bits:

        new[i] = min over non-empty j in [0, ratio) of (old[i*ratio+j]
                 + j * 2^(64-p))

    Since old values < 2^(64-p), the j*increment term dominates, so this min
    equals the reference's first-non-empty walk, and the result is register-
    identical to a natively built p_new sketch over the same hashes
    (new value = discarded-bucket-bits || old value = low 64-p_new bits of
    h).  Empty blocks stay null (reference default_val)."""
    ratio = 1 << (p - p_new)
    m_new = 1 << p_new
    increment = 1 << (64 - p)
    return F.transform(
        F.sequence(F.lit(0), F.lit(m_new - 1)),
        lambda i: F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.lit(ratio - 1)),
                lambda j: F.get(sig, i * ratio + j) + j * F.lit(increment),
            )
        ),
    )


def containment_col(a: Column, b: Column) -> Column:
    """Exact containment |A∩B| / |A| over shingle arrays (the asymmetric
    containment_matrix analog, pysketch.h:142-149)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return F.when(F.size(a) > 0, inter / F.size(a).cast("double")).otherwise(
        F.lit(0.0)
    )


def bottomk_jaccard_py(a: list[int], b: list[int], k: int) -> float:
    """First-k-of-union bottom-k Jaccard walk (reference mh.h:201-220):
    among the k smallest values of union(A, B), count those present in both.
    NOT |A∩B|/k.  Python oracle + small-data verifier."""
    union = sorted(set(a) | set(b))[:k]
    sa, sb = set(a), set(b)
    shared = sum(1 for v in union if v in sa and v in sb)
    denom = min(k, len(union)) or 1
    return shared / denom


def bottomk_jaccard_col(a: Column, b: Column, k: int) -> Column:
    """Same first-k-of-union walk as a JVM expression: take the k smallest of
    the union, intersect with both arrays."""
    union_k = F.slice(F.array_sort(F.array_union(a, b)), 1, k)
    shared = F.size(F.array_intersect(F.array_intersect(union_k, a), b))
    denom = F.least(F.lit(k), F.size(union_k))
    return F.when(denom > 0, shared.cast("double") / denom.cast("double")).otherwise(
        F.lit(0.0)
    )

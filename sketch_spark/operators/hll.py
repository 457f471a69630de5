"""HyperLogLog: register-exact sketch aggregation + estimators.

Two tiers (SURVEY.md §2.3):
  * metrics tier — Spark's builtin `approx_count_distinct` (HLL++), used
    wherever only the number matters;
  * register-exact tier — this module: 2^p uint8 registers built with the
    same semantics as the reference (hll.h:886-899: idx = top p bits,
    register = max(clz(remaining) + 1)), merged element-wise max
    (hll.h:1018-1045), with the original Flajolet-Durand estimator +
    linear-counting small-range correction (hll.h:211-238) and the
    inclusion-exclusion set-algebra surface (hll.h:1188-1252).

Plan shape: one groupBy(group, bucket) max-agg (partial+final, map-side
combine) then a groupBy(group) pivot-to-array — the same two-level monoid
aggregation as the MinHash builders.  Estimation is a JVM higher-order
expression.  The dense pivot is pure JVM up to m=1024 (static unroll;
element_at(map) is a linear scan, so that path is O(m^2) per group) and
an Arrow numpy scatter per GROUP row above it — measured 9x on the VAC
HLL cascade at p=12 (44.5 s -> 5.0 s over 20M elements, BENCH/BASELINE.md §8).
"""

from __future__ import annotations

import math

import numpy as np

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_P = 12


def _alpha(m: int) -> float:
    # bias constant (hll.h uses the standard Flajolet values)
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    elems: DataFrame,
    group_col: str = "g",
    hash_col: str = "h",
    p: int = DEFAULT_P,
    hash_bits: int = 64,
) -> DataFrame:
    """(group, h) -> (group, regs array<int> of length 2^p).

    h must be a well-mixed hash of `hash_bits` bits (default: full-range
    64-bit xxhash64; for hash_bits < 64 the value must be non-negative and
    < 2^hash_bits — e.g. the engine-portable 60-bit mod-prime hash of the
    oracle tier).  Register value = 1 + #leading-zeros of the low
    hash_bits-p bits (capped at hash_bits-p+1), i.e. the reference's
    clz(remaining)+1 (hll.h:886-899), computed with integer-exact
    arithmetic.
    """
    m = 1 << p
    vb = hash_bits - p
    assert vb >= 1
    mask = (1 << vb) - 1
    rem = F.col(hash_col).bitwiseAND(F.lit(mask))
    # rho = vb - floor(log2(rem)) for rem>0 else vb+1.  floor(log2(double))
    # is only exact below 2^53, so split rem into 32-bit halves: each half
    # is < 2^32 and exactly representable — integer-exact rho for every p
    # (a direct log2 on a 57-bit value can round across a power of two and
    # produce an off-by-one rho).
    hi = F.shiftrightunsigned(rem, 32)
    lo = rem.bitwiseAND(F.lit(0xFFFFFFFF))
    rho = (
        F.when(rem == 0, F.lit(vb + 1))
        .when(hi > 0, F.lit(vb - 32) - F.floor(F.log2(hi.cast("double"))).cast("int"))
        .otherwise(F.lit(vb) - F.floor(F.log2(lo.cast("double"))).cast("int"))
    )
    per_bucket = (
        elems.select(
            F.col(group_col).alias("_g"),
            F.shiftrightunsigned(F.col(hash_col), vb).alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("_g", "bucket")
        .agg(F.max("rho").alias("mx"))
    )
    if m <= 1024:
        # static unroll (codegen) instead of interpreted transform(); the
        # pure-JVM path for the oracle/ANSI tier.  element_at(map) is a
        # linear scan, so this pivot is O(m^2) per group — fine to m=1024
        # (~1M scans/group), pathological beyond it.
        return (
            per_bucket.groupBy("_g")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("bucket", "mx"))
                ).alias("mm")
            )
            .select(
                F.col("_g").alias(group_col),
                F.array(
                    *[
                        F.coalesce(
                            F.element_at(F.col("mm"), F.lit(i).cast("long")),
                            F.lit(0),
                        )
                        for i in range(m)
                    ]
                ).alias("regs"),
            )
        )

    # large m: one Arrow crossing per GROUP row, numpy scatter — O(m) per
    # group (measured: the element_at pivot cost vac_hll 44.5 s at p=12 /
    # 20M elems where this path and p=10 run in ~15 s; same output).
    @F.pandas_udf("array<int>")
    def _scatter(buckets: pd.Series, vals: pd.Series) -> pd.Series:
        out = []
        for b, v in zip(buckets, vals):
            regs = np.zeros(m, dtype=np.int32)
            regs[np.asarray(b, dtype=np.int64)] = np.asarray(v, dtype=np.int32)
            out.append(regs)
        return pd.Series(out)

    return (
        per_bucket.groupBy("_g")
        .agg(
            F.collect_list("bucket").alias("_bk"),
            F.collect_list("mx").alias("_mx"),
        )
        .select(
            F.col("_g").alias(group_col),
            _scatter(F.col("_bk"), F.col("_mx")).alias("regs"),
        )
    )


def hll_merge(hlls: DataFrame, group_col: str, regs_col: str = "regs") -> DataFrame:
    """Union of sketches = element-wise max (hll.h:1018-1045); an aggregate
    over zip_with-reduce, exploiting the commutative monoid."""
    return hlls.groupBy(group_col).agg(
        F.reduce(
            F.collect_list(regs_col),
            F.array().cast("array<int>"),
            lambda acc, r: F.when(F.size(acc) == 0, r).otherwise(
                F.zip_with(acc, r, lambda x, y: F.greatest(x, y))
            ),
        ).alias(regs_col)
    )


def hll_estimate_col(regs: Column, p: int = DEFAULT_P) -> Column:
    """ORIGINAL estimator + linear-counting small-range correction
    (hll.h:211-238).  Pure JVM expression."""
    m = 1 << p
    alpha = _alpha(m)
    inv_sum = F.aggregate(
        regs,
        F.lit(0.0),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double")),
    )
    raw = F.lit(alpha * m * m) / inv_sum
    zeros = F.size(F.filter(regs, lambda r: r == 0))
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    return F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0), linear
    ).otherwise(raw)


def hll_compress_col(regs: Column, p: int, p_new: int) -> Column:
    """Fold 2^p registers down to 2^p_new (reference hll_t::compress,
    hll.h:963-985, Ertl arXiv:1702.01284 Algorithm 3).

    New bucket i covers old buckets [i*ratio, (i+1)*ratio); the discarded
    bucket bits become the TOP bits of the new remainder, so with j = first
    non-zero old register in the block (smaller j = more leading zeros =
    larger rho, so the first non-zero dominates):

        new[i] = 0                                  if block all zero
               = min(q'+1, old[i*ratio] + diff)     if j == 0
               = diff - floor(log2(j))              otherwise
                 (= clz of j within the diff-bit window, + 1)

    Register-identical to a natively built p_new sketch over the same
    hashes.
    """
    ratio = 1 << (p - p_new)
    m_new = 1 << p_new
    diff = p - p_new
    cap = 64 - p_new + 1

    def fold(i):
        block = F.slice(regs, i * ratio + 1, ratio)
        jpos = F.array_position(F.transform(block, lambda v: v != 0), F.lit(True))
        j = (jpos - 1).cast("double")
        return (
            F.when(jpos == 0, F.lit(0))
            .when(jpos == 1, F.least(F.lit(cap), F.get(block, 0) + F.lit(diff)))
            .otherwise(F.lit(diff) - F.floor(F.log2(j)).cast("int"))
        ).cast("int")

    return F.transform(F.sequence(F.lit(0), F.lit(m_new - 1)), fold)


def phll_quantize_col(regs: Column, bits: int = 4) -> Column:
    """phll's packed-register value domain (reference bbmh.h:140-261: 4-bit
    registers, two per byte).  The PACKING itself is storage encoding —
    parquet byte-shuffle + dictionary already stores small ints compactly —
    but the phll VALUE SEMANTICS are a real operation: registers saturate at
    2^bits - 1.  This clamp makes a register array value-identical to what
    the reference's packed sketch holds, so estimator parity over phll
    registers can be tested concretely (tests/test_hll_estimators.py)."""
    cap = (1 << bits) - 1
    return F.transform(regs, lambda r: F.least(r, F.lit(cap)))


def hll_est_error(p: int = DEFAULT_P) -> float:
    """Relative standard error ~1.03896/sqrt(m) (hll.h est_err)."""
    return 1.03896 / math.sqrt(1 << p)


# ---------------------------------------------------------------------------
# Ertl estimator tier (reference hll.h:240-250 ERTL_IMPROVED, hll.h:629-691
# ERTL_MLE, hll.h:698-750 joint MLE; Ertl arXiv:1702.01284).  numpy/python
# per-sketch math — one row per group, off the per-element hot path — with
# pandas_udf wrappers for DataFrame use.  Tested with the reference's own
# tolerance protocol (testsrc/hlltest.cpp:62-88).
# ---------------------------------------------------------------------------


def _gen_sigma(x: float) -> float:
    """hll.h gen_sigma (power-series helper for ERTL_IMPROVED)."""
    if x == 1.0:
        return float("inf")
    z, zp, y = x, 0.0, 1.0
    while z != zp:
        x *= x
        zp = z
        z += x * y
        y += y
        if math.isnan(z):
            return zp
    return z


def _gen_tau(x: float) -> float:
    """hll.h gen_tau."""
    if x == 0.0 or x == 1.0:
        return 0.0
    z, y, zp = 1.0 - x, 1.0, x
    while zp != z:
        x = math.sqrt(x)
        zp = z
        y *= 0.5
        tmp = 1.0 - x
        z -= tmp * tmp * y
    return z / 3.0


def hll_registers_np(hashes, p: int):
    """numpy register builder (test oracle / driver-side tier): same
    semantics as hll_registers — bucket = top p bits, value =
    clz(remaining)+1, integer-exact rho via 32-bit split."""
    import numpy as np

    h = np.asarray(hashes, dtype=np.uint64)
    vb = 64 - p
    bucket = (h >> np.uint64(vb)).astype(np.int64)
    rem = h & np.uint64((1 << vb) - 1)
    hi = (rem >> np.uint64(32)).astype(np.float64)
    lo = (rem & np.uint64(0xFFFFFFFF)).astype(np.float64)
    rho = np.where(
        rem == 0,
        vb + 1,
        np.where(
            hi > 0,
            vb - 32 - np.floor(np.log2(np.maximum(hi, 1.0))),
            vb - np.floor(np.log2(np.maximum(lo, 1.0))),
        ),
    ).astype(np.int64)
    regs = np.zeros(1 << p, dtype=np.int64)
    np.maximum.at(regs, bucket, rho)
    return regs


def reg_histogram(regs, q: int):
    """counts[k] = #registers with value k, k in 0..q+1."""
    import numpy as np

    return np.bincount(np.asarray(regs, dtype=np.int64), minlength=q + 2)


def ertl_improved_estimate(counts, p: int, q: int | None = None) -> float:
    """ERTL_IMPROVED (hll.h:240-250): sigma/tau-corrected raw estimate —
    no empirical bias tables, valid across the whole range."""
    m = 1 << p
    q = q if q is not None else 64 - p
    divinv = 1.0 / (2.0 * math.log(2.0))
    z = m * _gen_tau((m - counts[q + 1]) / m)
    for i in range(q, 0, -1):
        z += counts[i]
        z *= 0.5
    z += m * _gen_sigma(counts[0] / m)
    return m * divinv * m / z


def ertl_ml_estimate(counts, p: int, q: int, relerr: float = 1e-2) -> float:
    """ERTL_MLE (hll.h:629-691; Ertl Algorithm 8): maximum-likelihood
    cardinality from the register histogram via the secant method."""
    m = 1 << p
    if counts[q + 1] == m:
        return float("inf")
    k_min = 0
    while counts[k_min] == 0:
        k_min += 1
    k_min_prime = max(1, k_min)
    k_max = q + 1
    while k_max and counts[k_max] == 0:
        k_max -= 1
    k_max_prime = min(q, k_max)
    z = 0.0
    for k in range(k_max_prime, k_min_prime - 1, -1):
        z = 0.5 * z + counts[k]
    z = math.ldexp(z, -k_min_prime)
    c_prime = counts[q + 1]
    if q:
        c_prime += counts[k_max_prime]
    a = z + counts[0]
    m_prime = m - counts[0]
    g_prev = z + math.ldexp(counts[q + 1], -q)
    x = m_prime / (0.5 * g_prev + a) if g_prev <= 1.5 * a else (
        m_prime / g_prev
    ) * math.log1p(g_prev / a)
    g_prev = 0.0
    delta_x = x
    relerr /= math.sqrt(m)
    while delta_x > x * relerr:
        kappa_minus1 = math.frexp(x)[1]
        x_prime = math.ldexp(x, -max(k_max_prime + 1, kappa_minus1 + 2))
        x_prime2 = x_prime * x_prime
        h = x_prime - x_prime2 / 3 + (x_prime2 * x_prime2) * (
            1.0 / 45.0 - x_prime2 / 472.5
        )
        for _ in range(kappa_minus1, k_max_prime - 1, -1):
            h_prime = 1.0 - h
            h = (x_prime + h * h_prime) / (x_prime + h_prime)
            x_prime += x_prime
        g = c_prime * h
        for k in range(k_max_prime - 1, k_min_prime - 1, -1):
            h_prime = 1.0 - h
            h = (x_prime + h * h_prime) / (x_prime + h_prime)
            x_prime += x_prime
            g += counts[k] * h
        g += x * a
        if g_prev < g <= m_prime:
            delta_x *= (g - m_prime) / (g_prev - g)
        else:
            delta_x = 0.0
        x += delta_x
        g_prev = g
    return x * m


def ertl_joint_estimate(regs_a, regs_b, p: int, q: int | None = None):
    """Joint MLE triple (hll.h:698-750 ertl_joint): (A-only, B-only, A∩B)
    cardinalities from two register vectors — far lower variance than
    inclusion–exclusion exactly where users care (small intersections of
    large sets)."""
    import numpy as np

    q = q if q is not None else 64 - p
    m = 1 << p
    va = np.asarray(regs_a, dtype=np.int64)
    vb = np.asarray(regs_b, dtype=np.int64)
    assert va.size == m and vb.size == m
    mx = np.maximum(va, vb)
    c1 = np.bincount(va, minlength=q + 2)
    c2 = np.bincount(vb, minlength=q + 2)
    cu = np.bincount(mx, minlength=q + 2)
    eq = va == vb
    ceq = np.bincount(va[eq], minlength=q + 2)
    cg1 = np.bincount(va[va > vb], minlength=q + 2)
    cg2 = np.bincount(vb[vb > va], minlength=q + 2)
    c_ax = ertl_ml_estimate(c1, p, q)
    c_bx = ertl_ml_estimate(c2, p, q)
    c_abx = ertl_ml_estimate(cu, p, q)
    counts_axb = np.zeros(q + 2, dtype=np.int64)
    counts_bxa = np.zeros(q + 2, dtype=np.int64)
    counts_axb[q] = m
    counts_bxa[q] = m
    for k in range(q):
        counts_axb[k] = cg1[k] + ceq[k] + cg2[k + 1]
        counts_axb[q] -= counts_axb[k]
        counts_bxa[k] = cg2[k] + ceq[k] + cg1[k + 1]
        counts_bxa[q] -= counts_bxa[k]
    c_axb_half = ertl_ml_estimate(counts_axb, p, q - 1)
    c_bxa_half = ertl_ml_estimate(counts_bxa, p, q - 1)
    a_only = c_abx - c_bx
    b_only = c_abx - c_ax
    cx1 = 1.5 * c_bx + 1.5 * c_ax - c_bxa_half - c_axb_half
    cx2 = 2.0 * (c_bxa_half + c_axb_half) - 3.0 * c_abx
    inter = max(0.0, 0.5 * (cx1 + cx2))
    return a_only, b_only, inter


def hll_estimate_udf(regs_col: Column, p: int, method: str = "ertl_mle",
                     hash_bits: int = 64) -> Column:
    """Vectorized pandas_udf estimate over a regs array column.
    method: 'ertl_mle' (default, reference's default estim) or
    'ertl_improved'."""

    q = hash_bits - p

    @F.pandas_udf("double")
    def est(regs: pd.Series) -> pd.Series:
        out = []
        for r in regs:
            c = reg_histogram(r, q)
            if method == "ertl_improved":
                out.append(ertl_improved_estimate(c, p, q))
            else:
                out.append(ertl_ml_estimate(c, p, q))
        return pd.Series(out, dtype="float64")

    return est(regs_col)


def hll_joint_udf(a_col: Column, b_col: Column, p: int,
                  hash_bits: int = 64) -> Column:
    """Joint-MLE triple as struct<a_only, b_only, n_inter> over two regs
    array columns (pairwise comparison surface, hll.h:1188-1252)."""

    q = hash_bits - p

    @F.pandas_udf("a_only double, b_only double, n_inter double")
    def joint(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        rows = [ertl_joint_estimate(x, y, p, q) for x, y in zip(a, b)]
        return pd.DataFrame(rows, columns=["a_only", "b_only", "n_inter"])

    return joint(a_col, b_col)


def hll_union_size_col(a: Column, b: Column, p: int = DEFAULT_P) -> Column:
    return hll_estimate_col(F.zip_with(a, b, lambda x, y: F.greatest(x, y)), p)


def hll_intersection_size_col(a: Column, b: Column, p: int = DEFAULT_P) -> Column:
    """Inclusion-exclusion (hll.h:1188-1252): |A| + |B| - |A∪B|, floored."""
    return F.greatest(
        hll_estimate_col(a, p) + hll_estimate_col(b, p) - hll_union_size_col(a, b, p),
        F.lit(0.0),
    )


def hll_jaccard_col(a: Column, b: Column, p: int = DEFAULT_P) -> Column:
    # build each estimator subtree once and derive i = max(ca+cb-u, 0)
    # directly, instead of calling hll_intersection_size_col (which
    # re-constructs estimate(a), estimate(b) AND the union walk a second
    # time); Spark's subexpression elimination then sees one copy of each
    # 2^p-register aggregation per distinct input.
    ca = hll_estimate_col(a, p)
    cb = hll_estimate_col(b, p)
    u = hll_union_size_col(a, b, p)
    i = F.greatest(ca + cb - u, F.lit(0.0))
    return F.when(u > 0, i / u).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# PCSA / Flajolet-Martin (reference pc.h:20-123) — the HLL ancestor: each of
# m counters is a BITMAP, element sets the bit at the index of the lowest
# zero bit of its hash remainder (R(x) = ~x & (x+1), pc.h detail);
# merge = bitwise OR; est = m * 1.292808 * 2^(mean lowest-unset-bit index).
# Kept for completeness of the distinct-count family; HLL dominates it in
# space but PCSA's OR-monoid registers quantize losslessly.
# ---------------------------------------------------------------------------


def pcsa_registers(
    elems: DataFrame,
    group_col: str = "g",
    hash_col: str = "h",
    p: int = 6,
) -> DataFrame:
    """(group, h) -> (group, regs array<long> of 2^p OR-merged bitmaps).
    m = 2^p buckets so ind = h & (m-1) and v = h >>> p reproduce the
    reference's (h % n, h / n) exactly.  ANSI-safe (pure bit ops; v < 2^63
    so v+1 cannot overflow)."""
    m = 1 << p
    h = F.col(hash_col)
    v = F.shiftrightunsigned(h, p)
    bit = F.bitwise_not(v).bitwiseAND(v + 1)  # lowest zero bit, one-hot
    per_bucket = (
        elems.select(
            F.col(group_col).alias("_g"),
            h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
            bit.alias("bm"),
        )
        .groupBy("_g", "bucket")
        .agg(F.expr("bit_or(bm)").alias("mp"))
    )
    return (
        per_bucket.groupBy("_g")
        .agg(F.map_from_entries(F.collect_list(F.struct("bucket", "mp"))).alias("mm"))
        .select(
            F.col("_g").alias(group_col),
            F.array(
                *[
                    F.coalesce(
                        F.element_at(F.col("mm"), F.lit(i).cast("long")),
                        F.lit(0).cast("long"),
                    )
                    for i in range(m)
                ]
            ).alias("regs"),
        )
    )


def pcsa_estimate_col(regs: Column, p: int) -> Column:
    """est = m * 1.292808 * 2^(mean index of lowest unset bit)
    (pc.h:72-114; index = popcount(R(y) - 1))."""
    m = 1 << p
    idx = lambda y: F.bit_count(  # noqa: E731
        F.bitwise_not(y).bitwiseAND(y + 1) - 1
    )
    mean = (
        F.aggregate(regs, F.lit(0).cast("long"), lambda acc, y: acc + idx(y)).cast(
            "double"
        )
        / m
    )
    return F.lit(m * 1.292808) * F.pow(F.lit(2.0), mean)


# ---------------------------------------------------------------------------
# HyperBitBit (hbb.h:17-46; Sedgewick AC11 slides) — the one reference
# sketch with NO commutative partial+final form: every insert consults the
# current (logn, s1) state (the promotion cascade), so the fold is
# inherently sequential and merge/union does not exist.  Provided for API
# parity as an ORDER-DEFINED sequential fold: callers name the ordering,
# the fold applies inserts in exactly that order, and equal ordered inputs
# give equal (logn, s1, s2) words.  For distributed cardinality use the
# monoidal sketches above (HLL/PCSA); HyperBitBit's niche is tiny-memory
# (128-bit + counter) per-group estimation over bounded ordered streams.
# ---------------------------------------------------------------------------


def hyperbitbit_fold(hashes) -> tuple[int, int, int]:
    """Exact HyperBitBit state after inserting `hashes` (64-bit ints,
    interpreted unsigned) in the given order (hbb.h:28-38): with
    r = ctz(hv) and k = top 6 bits of hv, every hv with r > logn sets bit
    k in s1 (and in s2 when r > logn + 1); when s1 exceeds 31 set bits,
    s1 <- s2, s2 <- 0, logn += 1.  Returns (logn, s1, s2)."""
    logn, s1, s2 = 5, 0, 0
    mask = (1 << 64) - 1
    for hv in hashes:
        hv &= mask
        r = (hv & -hv).bit_length() - 1 if hv else 64  # ctz; ctz(0) = 64
        if r > logn:
            bit = 1 << (hv >> 58)
            s1 |= bit
            if r > logn + 1:
                s2 |= bit
            if s1.bit_count() > 31:
                s1, s2, logn = s2, 0, logn + 1
    return logn, s1, s2


def hyperbitbit_estimate(logn: int, s1: int) -> float:
    """cardinality_estimate (hbb.h:40-43): 2^(logn + 5.8 + popcount(s1)/32)."""
    return 2.0 ** (logn + 5.8 + (s1 & ((1 << 64) - 1)).bit_count() / 32.0)


def hyperbitbit_groups(
    df: DataFrame,
    group_col: str,
    hash_col: str,
    ord_col: str | None = None,
) -> DataFrame:
    """Per-group HyperBitBit over a DataFrame of hashed elements:
    (group, hash[, ord]) -> (group, logn, s1, s2, est).

    The fold order is DEFINED as ascending `ord_col` (ties broken by the
    hash value), or ascending hash value when no ordering column is given —
    making the result a pure function of the group's multiset + named
    order, reproducible across runs and partitionings.  Each group's rows
    are gathered to one task (applyInPandas); that is the honest cost of a
    non-mergeable sketch — this operator is for MANY bounded groups, not
    one giant stream (use hll_registers for that).

    Null hashes are dropped Spark-side (see the float64-lift note below),
    so a group whose hashes are ALL null is ABSENT from the output — it
    does not return an initial-state row (est ~ 2^10.8) as pre-round-5
    versions did.  Callers joining estimates back should left-join and
    treat a missing group as empty.
    """
    order = [ord_col, hash_col] if ord_col else [hash_col]

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[group_col].iloc[0]
        pdf = pdf.sort_values(order, kind="mergesort")
        logn, s1, s2 = hyperbitbit_fold(int(h) for h in pdf[hash_col])
        # store the u64 words as signed i64 (Spark long), two's complement
        def i64(x: int) -> int:
            return x - (1 << 64) if x >= (1 << 63) else x
        return pd.DataFrame(
            {
                group_col: [key],
                "logn": [logn],
                "s1": [i64(s1)],
                "s2": [i64(s2)],
                "est": [hyperbitbit_estimate(logn, s1)],
            }
        )

    gt = df.schema[group_col].dataType.simpleString()
    cols = [group_col, hash_col] + ([ord_col] if ord_col else [])
    # Null hashes carry no element, and they must be dropped SPARK-side:
    # a null in an Arrow int64 batch makes pandas lift the whole column to
    # float64, rounding every hash >= 2^53 before the fold reads its low
    # (ctz) bits.  Filtering here keeps the pandas column int64.
    return (
        df.select(*cols)
        .where(F.col(hash_col).isNotNull())
        .groupBy(group_col)
        .applyInPandas(
            fold,
            schema=f"{group_col} {gt}, logn int, s1 long, s2 long, est double",
        )
    )


def hyperhyperbitbit_fold(quotients) -> tuple[int, int, int]:
    """Exact per-shard HyperHyperBitBit state (hbb.h:91-110) over the
    shard's QUOTIENT stream (v // n, in fold order): r = ctz(v); every v
    with r > logn sets bit ((v >> (r+1)) % 64) in s1 (and s2 when
    r > logn + 1); when s1 exceeds 31 set bits, s1 <- s2, s2 <- 0,
    logn += 1.  Differs from plain HyperBitBit in the bit-index rule
    (quotient bits above the ctz run, not the top-6 bits)."""
    logn, s1, s2 = 5, 0, 0
    mask = (1 << 64) - 1
    for v in quotients:
        v &= mask
        r = (v & -v).bit_length() - 1 if v else 64
        if r > logn:
            bit = 1 << ((v >> (r + 1)) % 64)
            s1 |= bit
            if r > logn + 1:
                s2 |= bit
            if s1.bit_count() > 31:
                s1, s2, logn = s2, 0, logn + 1
    return logn, s1, s2


def hyperhyperbitbit_groups(
    df: DataFrame,
    group_col: str,
    hash_col: str,
    n: int = 64,
    ord_col: str | None = None,
) -> DataFrame:
    """Per-group HyperHyperBitBit (hbb.h:78-134): n sub-HyperBitBits
    sharded by hv % n, each folding hv // n — the reference's own answer
    to HyperBitBit's single-stream statefulness, and exactly the form
    that distributes: shards are INDEPENDENT order-defined folds
    (applyInPandas per (group, shard), n-way parallel) followed by a
    tiny <=n-row per-group combine implementing report() (hbb.h:111-131):
    cinc_i = popcount(s1_i)/32 + 6.43 + logn_i, est = n^2 / sum(2^-cinc_i)
    (the `ies` harmonic form report() returns).  Empty shards contribute
    their initial state (logn=5, s1=0), as in the reference.

    Fold order within a shard is DEFINED as ascending (ord_col, hash)
    like hyperbitbit_groups — reproducible across runs and partitionings.
    Output: (group, est) with the per-shard states aggregated away.

    As with hyperbitbit_groups, null hashes are dropped Spark-side, so a
    group whose hashes are ALL null is ABSENT from the output (no
    initial-state row); left-join estimates back and treat a missing
    group as empty.  Shards that are empty within a PRESENT group still
    contribute their initial state, as in the reference.
    """
    order = [ord_col, hash_col] if ord_col else [hash_col]

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[group_col].iloc[0]
        shard = int(pdf["_shard"].iloc[0])
        pdf = pdf.sort_values(order, kind="mergesort")
        mask = (1 << 64) - 1
        logn, s1, _ = hyperhyperbitbit_fold(
            (int(h) & mask) // n for h in pdf[hash_col]
        )
        return pd.DataFrame(
            {group_col: [key], "_shard": [shard], "logn": [logn],
             "pc": [s1.bit_count()]}
        )

    gt = df.schema[group_col].dataType.simpleString()
    cols = [group_col, hash_col] + ([ord_col] if ord_col else [])
    # unsigned hv % n on signed longs, overflow-free: with u = uint64(hv),
    # u = (u >>> 1)*2 + (u & 1), so u mod n = ((u>>>1 mod n)*2 + (u&1)) mod n
    # — every intermediate fits a long and the expression is pure codegen.
    hv = F.col(hash_col)
    shard = F.pmod(
        F.pmod(F.shiftrightunsigned(hv, 1), F.lit(n)) * 2
        + hv.bitwiseAND(F.lit(1)),
        F.lit(n),
    ).cast("int")
    # Spark-side null-hash drop for the same reason as hyperbitbit_groups:
    # a null in any (group, shard) Arrow batch would lift the hash column
    # to float64 and round the quotient stream before its ctz bits.
    states = (
        df.select(*cols)
        .where(hv.isNotNull())
        .withColumn("_shard", shard)
        .groupBy(group_col, "_shard")
        .applyInPandas(
            fold,
            schema=f"{group_col} {gt}, _shard int, logn int, pc int",
        )
    )
    # report(): empty shards contribute 2^-(5 + 6.43); n - count(present)
    # of them.  All codegen: one tiny agg over <= n rows per group.
    cinc = F.col("pc") / F.lit(32.0) + F.lit(6.43) + F.col("logn")
    empty_term = F.pow(F.lit(2.0), F.lit(-(5 + 6.43)))
    return states.groupBy(group_col).agg(
        (
            F.lit(float(n * n))
            / (
                F.sum(F.pow(F.lit(2.0), -cinc))
                + (F.lit(n) - F.count(F.lit(1))) * empty_term
            )
        ).alias("est")
    )

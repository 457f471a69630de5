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

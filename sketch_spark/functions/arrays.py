"""Array/vector scalar functions — JVM-side Column builders.

The pairwise-comparison kernels of the reference (count_eq.h SIMD register
equality, isz.h sorted intersection, bbmh.h:1567-1575 collision-corrected
Jaccard) re-expressed as higher-order array expressions: Tungsten evaluates
these inside whole-stage codegen, which plays the role of the reference's
AVX kernels.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def count_eq_col(a: Column, b: Column) -> Column:
    """# positions where equal-length arrays agree — reference count_eq.h:41-58."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v))


def count_gtlt_col(a: Column, b: Column) -> Column:
    """Generic pairwise (#a[i] > b[i], #b[i] > a[i]) over equal-length
    arrays — reference count_eq.h:403-544 (`count_gtlt`; the SIMD variants
    compute the same two counts).  Returns struct(n_gt, n_lt); n_eq follows
    as size - n_gt - n_lt.  Used by the SetSketch α/β estimator
    (setsketch.py) and exposed standalone for §2.6 parity."""
    return F.struct(
        F.size(F.filter(F.zip_with(a, b, lambda x, y: x > y), lambda v: v)).alias(
            "n_gt"
        ),
        F.size(F.filter(F.zip_with(a, b, lambda x, y: x < y), lambda v: v)).alias(
            "n_lt"
        ),
    )


def hamming_col(a: Column, b: Column) -> Column:
    """Hamming distance between two int64 bit-signatures (SimHash verify)."""
    return F.bit_count(a.bitwiseXOR(b))


def jaccard_exact_col(a: Column, b: Column) -> Column:
    """Exact Jaccard |a & b| / |a | b| of two distinct-element arrays (0 when
    both are empty) — the dedup pipeline's verify stage."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def bbit_jaccard_col(frac_eq: Column, b: int) -> Column:
    """Collision-corrected Jaccard from fraction of equal registers:
    J = max(0, (frac - 2^-b) / (1 - 2^-b))  — reference bbmh.h:1567-1575."""
    cb = 2.0 ** (-b)
    return F.greatest((frac_eq - F.lit(cb)) / F.lit(1.0 - cb), F.lit(0.0))


__all__ = [
    "count_eq_col",
    "count_gtlt_col",
    "hamming_col",
    "jaccard_exact_col",
    "bbit_jaccard_col",
]

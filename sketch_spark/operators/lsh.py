"""LSH banding + candidate-pair generation.

The reference's SetSketchIndex (ssi.h:37-102) is a list of in-memory hash
tables band_hash -> [ids].  In Spark the "hash table" is realized by a
shuffle: explode (band, key) rows and group on them; candidate retrieval
(ssi.h:385-444) becomes pair emission within each (band, key) bucket.

Scale design (the part the reference does with mutexes and we do with
partitioning):
  * band keys are computed JVM-side: xxhash64 over the band's register slice
    (band boundaries match the reference layout — contiguous rpr-register
    slices, ssi.h:360-384; the exact key hash is internal, only collisions
    matter).
  * ONE shuffle builds all buckets: groupBy(band, key) with collect_list
    (routing.capped_bucket_pairs).  Buckets are capped at `bucket_cap`
    members (deterministic rank order, reference-style maxcand early stop,
    ssi.h:387-444); members beyond the cap link to the bucket root instead
    of being dropped, so a boilerplate template cannot explode into
    cap^2 >> 10^6 pairs and still stays one component.
  * pairs are emitted from the collected bucket by explode (no self-join,
    no second scan), then deduped by groupBy(a, b) which also yields the
    match count n_bands (the reference's per-id hit count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .routing import capped_bucket_pairs

DEFAULT_RPR = 4  # registers per band  (ssi.h pow2 ladder member)
# Bands whose over-cap buckets emit root links: one link per member per
# band would be 64x redundant; 8 band-diversified roots give each member
# that many independent verified chances to join its component.
LINK_BANDS = 8


def band_keys(
    sig_df: DataFrame,
    sig_col: str = "sig",
    id_col: str = "conv_id",
    rpr: int = DEFAULT_RPR,
    m: int = 128,
) -> DataFrame:
    """signatures -> (id, band, key) rows; m/rpr bands of rpr contiguous
    registers each (reference ssi.h:85-102 layout)."""
    n_bands = m // rpr
    # statically unrolled band list: higher-order transform() is evaluated
    # interpretively per element; a literal array of n_bands expressions
    # stays inside whole-stage codegen.
    keys = F.array(
        *[
            F.xxhash64(F.lit(b), F.slice(F.col(sig_col), b * rpr + 1, rpr))
            for b in range(n_bands)
        ]
    )
    return (
        sig_df.where(F.col(sig_col).isNotNull())
        .select(F.col(id_col), F.posexplode(keys).alias("band", "key"))
    )


def candidate_pairs(
    bands_df: DataFrame,
    id_col: str = "conv_id",
    bucket_cap: int = 64,
    hot_threshold: int = 1_000_000,
    n_ids: int | None = None,
    pin=None,
) -> DataFrame:
    """(id, band, key) -> distinct candidate pairs (a, b, n_bands) with a < b.

    Each (band, key) bucket emits its pairs through
    routing.capped_bucket_pairs: members ranked by xxhash64(id, band), the
    first `bucket_cap` as a clique, every member beyond the cap linked to
    the bucket's rank-1 root (band-diversified, so each member draws an
    independent root per band).  Root links come from the first
    LINK_BANDS bands only.  n_bands counts the buckets a pair shares (the
    reference's per-id hit count).

    `hot_threshold` bounds the members a bucket may collect into one row;
    larger buckets take the window-rank path with identical output.  Each
    id contributes one row per band, so no bucket can hold more than
    `n_ids` members: a known id count under the threshold skips the hot
    census.  `pin` (CheckpointManager.pin) is forwarded to the census.
    """
    pairs = capped_bucket_pairs(
        bands_df,
        ["band", "key"],
        id_col,
        bucket_cap,
        hot_threshold,
        n_rows=n_ids,
        pin=pin,
        keep_tail=lambda ti, mid: F.col("band") < LINK_BANDS,
    )
    return pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_bands"))


def verify_pairs(
    pairs: DataFrame,
    sig_df: DataFrame,
    id_col: str = "conv_id",
    sig_col: str = "sig",
    b_bits: int = 57,
    tau: float = 0.5,
) -> DataFrame:
    """Join signatures onto candidate pairs and compute the collision-
    corrected Jaccard estimate (reference equal-register fraction,
    count_eq.h:41-58, + correction bbmh.h:1567-1575).

    Registers here keep 57 value bits, so the collision term 2^-57 is
    negligible; b_bits is exposed for parity tests with b-bit truncation.
    Entirely JVM-side: zip_with + filter + size inside codegen.
    """
    sa = sig_df.select(
        F.col(id_col).alias("a"), F.col(sig_col).alias("_siga")
    )
    sb = sig_df.select(
        F.col(id_col).alias("b"), F.col(sig_col).alias("_sigb")
    )
    m = F.size("_siga")
    # a register matches only when BOTH sides saw an element and the
    # values agree: eqNullSafe would count shared-empty (null) registers
    # as matches, driving j_est toward 1.0 for sparse non-densified
    # signatures (two disjoint 2-shingle sets share ~124/128 nulls).
    # Densified inputs (the pipeline's) carry no nulls, so this is
    # value-identical for them.
    n_eq = F.size(
        F.filter(
            F.zip_with(
                F.col("_siga"),
                F.col("_sigb"),
                lambda x, y: x.isNotNull() & y.isNotNull() & (x == y),
            ),
            lambda v: v,
        )
    )
    cb = 2.0 ** (-b_bits)
    frac = n_eq.cast("double") / m.cast("double")
    j_est = F.greatest(
        (frac - F.lit(cb)) / F.lit(1.0 - cb), F.lit(0.0)
    )
    out = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            "n_bands",
            n_eq.alias("n_eq"),
            j_est.alias("j_est"),
        )
    )
    return out.where(F.col("j_est") >= F.lit(tau))

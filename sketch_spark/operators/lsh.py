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


def band_keys_multilevel(
    sig_df: DataFrame,
    sig_col: str = "sig",
    id_col: str = "conv_id",
    rprs: tuple[int, ...] = (8, 4, 2),
    m: int = 128,
) -> DataFrame:
    """Multi-level ladder (reference ssi.h:85-102: band widths rpr in a pow2
    ladder; level 0 = widest bands = most specific).  Emits
    (id, level, band, key); query-side capping prefers lower level numbers
    = more specific matches, mirroring the most-specific-first walk of
    ssi.h:385-444."""
    # NB: F.transform dispatches on the lambda's arity — a default second
    # parameter would be bound to the array INDEX column, not the default
    # value.  Bind level/rpr through a real closure instead.
    def level_keys(level: int, rpr: int):
        n_bands = m // rpr
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.xxhash64(
                F.lit(level), b, F.slice(F.col(sig_col), b * rpr + 1, rpr)
            ),
        )

    out = None
    for level, rpr in enumerate(rprs):
        lv = sig_df.where(F.col(sig_col).isNotNull()).select(
            F.col(id_col),
            F.lit(level).alias("level"),
            F.posexplode(level_keys(level, rpr)).alias("band", "key"),
        )
        out = lv if out is None else out.unionByName(lv)
    return out


def candidate_pairs_capped(
    bands_df: DataFrame,
    id_col: str = "conv_id",
    bucket_cap: int = 64,
    max_cand_per_item: int | None = None,
) -> DataFrame:
    """candidate_pairs plus a distributed analog of the reference's
    per-item `maxcand` early stop (ssi.h:387-444), preferring
    more-specific (lower level, then more matched bands) candidates with
    a deterministic tie-break by partner id.

    Semantics, precisely: a pair survives when EITHER endpoint ranks it
    within its own top max_cand_per_item — a recall-preserving SUPERSET
    of the reference's per-query cut (requiring both endpoints would drop
    a pair the reference keeps whenever only one side is hub-crowded).
    One item can therefore retain more than max_cand_per_item partners
    (a hub every neighbor ranks first keeps all of them), but TOTAL pair
    volume stays <= n * max_cand_per_item because every kept pair is
    charged to at least one endpoint's bounded list — the bound that
    matters for cluster-wide verify cost.  Callers needing the strict
    per-item cut can re-rank the output with the same window."""
    from pyspark.sql import Window

    has_level = "level" in bands_df.columns
    group_cols = (["level", "band", "key"] if has_level else ["band", "key"])
    buckets = (
        bands_df.groupBy(*group_cols)
        .agg(F.slice(F.sort_array(F.collect_set(F.col(id_col))), 1, bucket_cap).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pairs = buckets.select(
        *([F.col("level")] if has_level else [F.lit(0).alias("level")]),
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("ids") - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, F.size("ids")),
                        lambda j: F.struct(
                            F.element_at(F.col("ids"), i).alias("a"),
                            F.element_at(F.col("ids"), j).alias("b"),
                        ),
                    ),
                )
            )
        ).alias("p"),
    ).select("level", "p.a", "p.b")
    agg = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_bands"), F.min("level").alias("best_level")
    )
    if max_cand_per_item is None:
        return agg
    wa = Window.partitionBy("a").orderBy(
        F.asc("best_level"), F.desc("n_bands"), F.asc("b")
    )
    wb = Window.partitionBy("b").orderBy(
        F.asc("best_level"), F.desc("n_bands"), F.asc("a")
    )
    return (
        agg.withColumn("_ra", F.row_number().over(wa))
        .withColumn("_rb", F.row_number().over(wb))
        .where(
            (F.col("_ra") <= max_cand_per_item) | (F.col("_rb") <= max_cand_per_item)
        )
        .drop("_ra", "_rb")
    )


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

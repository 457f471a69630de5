"""Deterministic hot-key census, skew routing, and the capped-bucket pair
generator built on them.

  * `hot_keys` / `route_split` find the keys of a groupBy that hold
    >= ~threshold rows and split the input into cold and hot rows
    (setsim.overlap_join_hybrid uses them directly).
  * `capped_bucket_pairs` is the one pair generator behind
    lsh.candidate_pairs (band buckets) and suffix.substring_candidate_pairs
    (fingerprint buckets): a cap-bounded clique plus root links per bucket,
    emitted by a collect_list path for cold buckets and a window-rank path
    for hot ones.

Problem shape: a groupBy on a key column hits web-scale skew (boilerplate
templates put 10^4..10^8 rows under one band hash / fingerprint / shingle).
Each generator routes rows between two VALUE-IDENTICAL plans — a fast path
for ordinary keys and a bounded-memory path for hot ones — so the routing
set only needs to (a) catch every genuinely huge key and (b) be read
IDENTICALLY by both branches.

Why the census sample is content-hashed: `df.sample(seed=)` draws per
partition, so a task retry or an upstream repartition can re-draw it; an
anti-join and a semi-join that each re-evaluated such a census could see
DIFFERENT hot sets and route a key into neither branch (dropped pairs).
Keeping rows where `pmod(xxhash64(<row content>), K) == 0` is Bernoulli
sampling that is invariant under retries, relayout and re-evaluation, so
every consumer (emptiness count, anti-join, semi-join) reads the same
answer.  That is also why the hot set can stay a DataFrame of ANY size
instead of a driver-side literal list (which capped the number of hot keys
and aborted past it): small hot sets broadcast, huge ones fall back to a
shuffle join — no driver materialization, no abort.

Sampling math: target ~400 expected samples per at-threshold key =>
keep-1-in-K with K = max(1, round(threshold / 400)); a key is "hot" when
its sampled count reaches (threshold / K) / 2.  A >= threshold key is
missed with probability ~e^-200; a barely-hot/barely-cold key routes
through either branch, both of which emit identical output (asserted in
tests/test_lsh_cc.py / test_suffix.py / test_setsim.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Above this many hot keys the routing join stops broadcasting and falls
# back to a shuffle join: 4M 8-byte-ish key rows is ~comfortably inside
# Spark's broadcast ceiling, while anything larger is exactly the
# "boilerplate-heavy 100-TB corpus" case that must degrade, not die.
BROADCAST_MAX_HOT = 4_000_000


def sample_modulus(threshold: int) -> int:
    """keep-1-in-K modulus for a content-hash census sample targeting ~400
    expected samples per at-threshold key (K=1 => exact census)."""
    if threshold <= 400:
        return 1
    return max(1, round(threshold / 400))


def hot_keys(
    df: DataFrame,
    key_cols: list[str],
    threshold: int,
    n_rows: int | None = None,
    sample_cols: list[str] | None = None,
    pin: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[DataFrame | None, int]:
    """Census of `key_cols` groups holding >= ~threshold rows of `df`.

    Returns (hot, n_hot): `hot` is a deterministic DataFrame of the key
    columns (None when provably or measurably empty).  One Spark action
    (the emptiness/size count) runs here; with the common empty answer the
    caller keeps its single-consumer fast plan untouched.

    * Provable skip: when the caller knows the total row count (`n_rows`,
      free stage metadata) and it is below the threshold, no key can be
      hot — the census never runs.
    * `sample_cols` are the columns hashed for the deterministic sample;
      they must (together) distinguish rows within a key group so the draw
      is Bernoulli per row.  Defaults to key_cols (only correct when rows
      are distinct per key — pass the full row identity).
    * `pin`: optional persist hook (e.g. CheckpointManager.pin) so the
      census aggregation is evaluated once instead of once per consumer.
      Without it the hot plan is recomputed by each join — deterministic
      either way, just cheaper with a pin; no block is ever left pinned by
      this module itself (round-4 review: leaked persists).
    """
    if n_rows is not None and n_rows < threshold:
        return None, 0
    k = sample_modulus(threshold)
    src = df
    if k > 1:
        sc = sample_cols or key_cols
        src = df.where(F.pmod(F.xxhash64(*sc), F.lit(k)) == 0)
    eff_threshold = max((threshold / k) / 2.0, 1.0)
    hot = (
        src.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= eff_threshold)
        .select(*key_cols)
    )
    if pin is not None:
        hot = pin(hot)
    n_hot = hot.count()
    if n_hot == 0:
        if pin is not None:
            try:
                hot.unpersist()
            except Exception:
                pass
        return None, 0
    return hot, n_hot


def route_split(
    df: DataFrame,
    hot: DataFrame,
    key_cols: list[str],
    n_hot: int,
    broadcast_max: int = BROADCAST_MAX_HOT,
) -> tuple[DataFrame, DataFrame]:
    """(cold_rows, hot_rows) of `df` against the hot-key set, via
    anti/semi joins on the ACTUAL key columns (no hash-collision caveat).
    Broadcasts while the hot set is small; beyond `broadcast_max` keys it
    falls back to a shuffle join — slower, but the job completes (the
    round-4 design aborted here)."""
    h = F.broadcast(hot) if n_hot <= broadcast_max else hot
    cold = df.join(h, key_cols, "left_anti")
    hot_rows = df.join(h, key_cols, "left_semi")
    return cold, hot_rows


def capped_bucket_pairs(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    cap: int,
    hot_threshold: int,
    n_rows: int | None,
    pin: Callable[[DataFrame], DataFrame] | None,
    payload: tuple[str, ...] = (),
    *,
    keep_tail: Callable[[Column, Column], Column],
) -> DataFrame:
    """Member pairs inside each `key_cols` bucket of `df`, capped per bucket.

    Returns UN-aggregated rows (a, b, <p>_a, <p>_b for p in payload) with
    a != b; a pair repeats once per bucket that emits it, and the caller
    aggregates.  Members rank inside a bucket by (xxhash64(id,
    <first key column>), id, *payload) — independent per band/fingerprint,
    the reference's maxcand early stop (ssi.h:387-444) made deterministic:

      * the first `cap` members pair all-to-all (clique, a < b);
      * every member beyond the cap links ONCE to the bucket's rank-1 root.
        Plain truncation fragments a template family (measured recall 0.04
        at 10^7 turns); root links keep it one component at O(cap^2 + n)
        pairs per bucket instead of O(n^2), and verification decides which
        links are real.

    `keep_tail(tail_index, member_id)` selects the root links kept:
    tail_index is 0 for the first member past the cap, and the key columns
    are in scope by name.

    Cold buckets: ONE exchange on key_cols feeding ONE hash aggregation —
    each bucket is collected whole and ranked INSIDE the array, so nothing
    sorts the table globally (29.9 s vs 40.6 s for a window formulation at
    scale 1200, bit-identical output).  The rank structs are built inside
    the aggregation (per input row, codegen) and array_sort is native; no
    interpreted per-array lambda runs, since hot buckets would make one
    task a straggler.

    Hot buckets (>= hot_threshold members by the sampled census, which
    `n_rows` < hot_threshold proves empty without a pass): collect_list
    would make each one a single O(members) row, so they take a window
    path over the SAME ordering — row_number + running first (the root)
    over one spillable sort, heads re-collected into a cap-bounded array on
    the same partitioning.  Both paths emit identical pairs; when nothing
    is hot the single-consumer cold plan is returned untouched.  `pin`
    (e.g. CheckpointManager.pin) lets the census be evaluated once across
    the routing joins.
    """
    assert hot_threshold >= cap
    hot, n_hot = hot_keys(
        df,
        key_cols,
        hot_threshold,
        n_rows=n_rows,
        sample_cols=[*key_cols, id_col, *payload],
        pin=pin,
    )
    if hot is None:
        cold_rows = df
    else:
        cold_rows, hot_rows = route_split(df, hot, key_cols, n_hot)

    def cliques(buckets: DataFrame) -> DataFrame:
        # two Generate operators (codegen); fields are pulled out after
        # each explode, so no per-array lambda ever runs
        return (
            buckets.select(F.explode("hh").alias("x"), "hh")
            .select(
                F.col("x.i").alias("a"),
                *[F.col(f"x.{p}").alias(f"{p}_a") for p in payload],
                F.explode("hh").alias("y"),
            )
            .where(F.col("a") < F.col("y.i"))
            .select(
                "a",
                F.col("y.i").alias("b"),
                *[f"{p}_a" for p in payload],
                *[F.col(f"y.{p}").alias(f"{p}_b") for p in payload],
            )
        )

    def root_links(tails: DataFrame) -> DataFrame:
        # tails: key_cols, _ti, member (_i, _m_<p>), root (_root, _root_<p>)
        first = F.col("_i") < F.col("_root")

        def lo_hi(m: str, r: str) -> tuple[Column, Column]:
            return (
                F.when(first, F.col(m)).otherwise(F.col(r)),
                F.when(first, F.col(r)).otherwise(F.col(m)),
            )

        a, b = lo_hi("_i", "_root")
        ends = [lo_hi(f"_m_{p}", f"_root_{p}") for p in payload]
        keep = keep_tail(F.col("_ti"), F.col("_i"))
        return tails.where(keep & (F.col("_i") != F.col("_root"))).select(
            a.alias("a"),
            b.alias("b"),
            *[pa.alias(f"{p}_a") for p, (pa, _) in zip(payload, ends)],
            *[pb.alias(f"{p}_b") for p, (_, pb) in zip(payload, ends)],
        )

    rank = F.xxhash64(F.col(id_col), F.col(key_cols[0]))
    items = (
        cold_rows.groupBy(*key_cols)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        rank.alias("r"),
                        F.col(id_col).alias("i"),
                        *[F.col(p) for p in payload],
                    )
                )
            ).alias("items")
        )
        .where(F.size("items") >= 2)
    )
    root = F.get("items", 0)
    cold_tails = (
        items.where(F.size("items") > cap)
        .select(
            *key_cols,
            root.getField("i").alias("_root"),
            *[root.getField(p).alias(f"_root_{p}") for p in payload],
            F.posexplode(F.slice("items", cap + 1, 1 << 30)).alias("_ti", "_m"),
        )
        .select(
            *key_cols,
            "_ti",
            F.col("_m.i").alias("_i"),
            *[F.col(f"_m.{p}").alias(f"_m_{p}") for p in payload],
            "_root",
            *[f"_root_{p}" for p in payload],
        )
    )
    pairs = cliques(
        items.select(F.slice("items", 1, cap).alias("hh"))
    ).unionByName(root_links(cold_tails))
    if hot is None:
        return pairs

    wspec = Window.partitionBy(*key_cols).orderBy(
        "_r", "_i", *[f"_m_{p}" for p in payload]
    )
    ranked = (
        hot_rows.select(
            *key_cols,
            F.col(id_col).alias("_i"),
            *[F.col(p).alias(f"_m_{p}") for p in payload],
            rank.alias("_r"),
        )
        .withColumn("_rk", F.row_number().over(wspec))
        .withColumn("_root", F.first("_i").over(wspec))
    )
    for p in payload:
        ranked = ranked.withColumn(f"_root_{p}", F.first(f"_m_{p}").over(wspec))
    hot_heads = (
        ranked.where(F.col("_rk") <= cap)
        .groupBy(*key_cols)
        .agg(
            F.collect_list(
                F.struct(
                    F.col("_i").alias("i"),
                    *[F.col(f"_m_{p}").alias(p) for p in payload],
                )
            ).alias("hh")
        )
    )
    hot_tails = ranked.where(F.col("_rk") > cap).withColumn(
        "_ti", F.col("_rk") - cap - 1
    )
    return (
        pairs.unionByName(cliques(hot_heads))
        .unionByName(root_links(hot_tails))
    )

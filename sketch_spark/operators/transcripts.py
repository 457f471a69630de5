"""Transcript-table operators: stable turn ordering + per-conversation
shingling (the ingestion front of the dedup pipeline).

Input schema (BASELINE.json input_hint):
  transcripts(conv_id string, turn_idx int, role string, text string,
              tool string, ts timestamp)

Stable turn ordering = (turn_idx, ts, role) — the deterministic tie-break the
per-turn text-equality invariant depends on (SURVEY.md §7.4).

Shingles are turn-level n-grams: the texts of n consecutive turns joined with
an \\x1e separator, hashed JVM-side with xxhash64 (the reference shingler
hash_ngrams streams XXH3 over the concatenated items, util.cpp:47-68; same
sliding-window semantics: L turns -> max(L-n+1, 0) shingles).

Everything is ONE groupBy(conv_id): sort-by-struct + higher-order functions;
no Python, no window function, no second scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEP = "\x1e"
DEFAULT_N = 3
DEFAULT_SEED = 42


def conv_table(transcripts: DataFrame, n: int = DEFAULT_N, seed: int = DEFAULT_SEED) -> DataFrame:
    """One row per conversation:
      conv_id, cid, full_text (ordered, SEP-joined), full_hash, full_hash2,
      shingles (sorted DISTINCT xxhash64 array).
    """
    turns = F.array_sort(
        F.collect_list(F.struct("turn_idx", "ts", "role", "text"))
    )
    agg = transcripts.groupBy("conv_id").agg(turns.alias("turns"))
    texts = F.col("turns").getField("text")
    n_turns = F.size("turns")
    # null_replacement="": array_join otherwise SKIPS null elements, so a
    # conversation with a null-text turn would serialize identically to
    # one WITHOUT that turn — a false exact-duplicate (and identically
    # shrunken shingle windows).  With the empty replacement the turn
    # keeps its separator slot: ["x", null, "y"] -> "x\x1e\x1ey", distinct
    # from ["x", "y"] -> "x\x1ey".
    full_text = F.array_join(texts, SEP, null_replacement="")
    idx = F.sequence(F.lit(1), F.greatest(n_turns - F.lit(n - 1), F.lit(0)))
    shingle_strs = F.when(n_turns < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            idx,
            lambda i: F.array_join(F.slice(texts, i, n), SEP, null_replacement=""),
        )
    )
    shingles = F.array_sort(
        F.array_distinct(F.transform(shingle_strs, lambda s: F.xxhash64(s, F.lit(seed))))
    )
    cid, full_hash, full_hash2 = conv_keys(F.col("conv_id"), full_text, seed)
    return agg.select(
        "conv_id",
        cid,
        full_text.alias("full_text"),
        full_hash,
        full_hash2,
        shingles.alias("shingles"),
    )


def conv_keys(
    conv_id: Column, full_text: Column, seed: int = DEFAULT_SEED
) -> tuple[Column, Column, Column]:
    """The conv table's id and exact-duplicate keys: (cid, full_hash,
    full_hash2).  Shared by conv_table and dedup.document_clusters so
    every conv table the pipeline consumes derives them the same way.

    cid is a dictionary-encoded 8-byte working id: every downstream
    exchange (64 band rows + ~L/w fingerprint rows per conv, the
    pipeline's dominant byte streams) carries this long instead of the
    string id.  xxhash64 keeps it join-free and deterministic; injectivity
    is ASSERTED per run (the dedup pipeline's census stage counts rows and
    distinct cids in one agg over the persisted conv table, and its
    counters stage raises on a mismatch) — at 10^12 convs assign dense ids
    at ingest instead and drop the assert.  The two full-text hashes key
    exact_dup_pairs (see there for why two)."""
    return (
        F.xxhash64(conv_id).alias("cid"),
        F.xxhash64(full_text, F.lit(seed)).alias("full_hash"),
        F.xxhash64(full_text, F.lit(seed + 1)).alias("full_hash2"),
    )


def exact_dup_pairs(conv: DataFrame, id_col: str = "conv_id") -> DataFrame:
    """Exact duplicates: identical full_text (hash-grouped, then pairs to the
    group's canonical = min id; a star, which is all connected
    components needs).  Catches short convs with zero shingles too.

    Equality is keyed on TWO independent 64-bit hashes (different seeds):
    one xxhash64 alone makes birthday collisions expected at the 10^12-conv
    target (n^2/2^65 ~ thousands of false edges, each transitively merging
    unrelated clusters through connected components); two push the
    expectation to n^2/2^129 ~ 10^-15.  Every conv table carries both
    (conv_keys)."""
    groups = (
        conv.groupBy("full_hash", "full_hash2")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    return groups.select(
        F.element_at("ids", 1).alias("a"), F.explode(F.slice("ids", 2, 1 << 30)).alias("b")
    ).select("a", "b")

"""Driver-contract queries: each operator exposed as (Spark plan, DuckDB SQL).

The driver runs every `queries()[name]` on Spark at sf=0.01 and compares
row-count + schema + order-insensitive value-hash against `oracle_sql()[name]`
run by DuckDB on the same parquet.  Cross-engine equality therefore demands
*engine-portable semantics*: every hash here is the polynomial mod-prime
family from functions/hashing.py (identical integer arithmetic in both
engines, overflow-free => ANSI-safe), and outputs are ints/strings (no
floating point in hashed columns except where noted).

These queries are the relational re-expression of the reference's operator
families (SURVEY.md §2): KMV bottom-k (mh.h:99-256), one-perm registers
(bbmh.h:894-969), LSH band buckets (ssi.h:85-102), register-equality /
Hamming verification (count_eq.h, the SimHash analog), mod-sampling
(mod.h:14-65), heavy hitters (hk.h), sorted intersection (isz.h:7-31),
top-k heaps (heap.h), plus the training-pipeline operators (quality,
lang-id, fingerprinting, n-gram Jaccard, ANN, connected components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sketch_spark.functions import text as T
from sketch_spark.functions.hashing import (
    POLY_B,
    POLY_P,
    POLY_TOKEN_B,
    poly_hash_token_col,
)

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

# tokens of d.text as a DuckDB list expression
# Explicit ASCII whitespace class, NOT \s: Java/Spark \s is
# [ \t\n\x0B\f\r] while DuckDB's RE2 \s lacks \x0B (vertical tab) — a
# text containing VT would tokenize differently across the two engines.
# tokens_py (functions/text.py) documents the same trap for Python's
# unicode-aware \s.  The class below is Java-\s spelled out, so all
# three engines split identically by construction.
SQL_WS = "[ \\t\\n\\x0B\\f\\r]+"
SQL_TOKS = f"list_filter(string_split_regex(text, '{SQL_WS}'), t -> length(t) > 0)"

# per-token polynomial hash list
SQL_TOKHASH = (
    "list_transform({toks}, t -> CASE WHEN length(t) = 0 THEN 0 ELSE "
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, length(t) + 1), "
    "i -> CAST(ascii(substr(t, CAST(i AS INTEGER), 1)) AS BIGINT))), "
    f"(acc, c) -> (acc * {POLY_B} + c) % {POLY_P}) END)"
)

# combine a list of 3 token hashes into a shingle hash
def _sql_shingle3(hlist: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(-1 AS BIGINT), {hlist}), "
        f"(acc, h) -> CASE WHEN acc < 0 THEN h ELSE "
        f"(acc * {POLY_TOKEN_B} + h) % {POLY_P} END)"
    )


SQL_DOC_SHINGLE_HASHES = f"""
WITH tk AS (
  SELECT doc_id, source, {SQL_TOKS.replace('text', 'text')} AS toks FROM documents
), th AS (
  SELECT doc_id, source, {SQL_TOKHASH.format(toks='toks')} AS th, len(toks) AS n FROM tk
), sh AS (
  SELECT doc_id, source,
    CASE WHEN n < 3 THEN [] ELSE
      list_transform(range(1, n - 1),
        i -> {_sql_shingle3('list_slice(th, CAST(i AS INTEGER), CAST(i + 2 AS INTEGER))')})
    END AS shingles
  FROM th
)
"""


# Memoized, persisted intermediates.  The polynomial folds are large
# expression trees; without a materialization boundary Catalyst's projection
# collapse re-inlines them at every downstream reference (h%16 and h//16
# would each recompute the whole per-character fold).  Persisting the small
# intermediate (one row per doc) computes each fold exactly once and lets
# sibling queries share it.
#
# Both driver-side memos are keyed (applicationId, ...) and hold the live
# application only: one process runs one SparkContext at a time, so an
# entry under another id belongs to a stopped session (its cached blocks
# are gone) and is dropped before the new one is stored.
_MEMO: dict = {}


def _keep_live_app(store: dict, key: tuple) -> None:
    for stale in [k for k in store if k[0] != key[0]]:
        del store[stale]


def _memo(key, build):
    if key not in _MEMO:
        _keep_live_app(_MEMO, key)
        df = build().persist()
        df.count()
        _MEMO[key] = df
    return _MEMO[key]


# scan-split census per (application, sf_dir, table): computed once,
# driver-side only
_SCAN_SPLITS: dict = {}


def _scan(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one input table, restoring scan parallelism when the file
    layout is degenerate.

    The harness tables are written as a single row group per parquet file,
    so the splittable scan yields ONE partition regardless of cluster
    size — every downstream codegen stage (shingling, explodes, the map
    side of every join) then runs on one core, and AQE sizes later
    shuffles from that single task's output.  Measured on q15's
    inverted-index join at sf0.1/local[32]: 22 s single-split vs 3.5 s
    once split (the 38M matched rows were being generated nearly
    serially).  A 100-TB production table arrives as thousands of row
    groups and never takes this branch: the round-robin repartition fires
    only when the scan has fewer splits than the cluster has task slots,
    and costs one exchange of the (pruned) columns when it does.
    Projection and filter pushdown still reach the scan through the
    exchange (verified: PushedFilters/ReadSchema on the scan node under
    the added Exchange; plan properties pinned in tests/test_plans.py).
    """
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    # keyed by session like _MEMO: split counts depend on session conf
    # (defaultParallelism, maxPartitionBytes), and a later session reading
    # the same path must not inherit a stale census.  applicationId, not
    # id(spark): CPython reuses addresses after GC, so id() can collide
    # across a stop/recreate cycle and hand the new session a stale count.
    key = (spark.sparkContext.applicationId, sf_dir, table)
    if key not in _SCAN_SPLITS:
        _keep_live_app(_SCAN_SPLITS, key)
        # driver-side split census (computes FilePartitions, runs no job)
        _SCAN_SPLITS[key] = df.rdd.getNumPartitions()
    p = spark.sparkContext.defaultParallelism
    if _SCAN_SPLITS[key] < p:
        df = df.repartition(2 * p)
    return df


def _poly_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE vectorized pass computing every oracle-tier polynomial hash
    column: 3-gram shingle hashes (char family B=31 mod P) and the 60-bit
    two-family combination h60 used by the SimHash queries.

    The pure-Column fold (T.poly_shingle_hashes_col) is evaluated by the
    interpreted higher-order-function evaluator per character and dominated
    bench wall time (~50s of a 227s run, duplicated across sibling memos);
    plain Python integer arithmetic over one Arrow batch computes the
    identical values (parity-tested in tests/test_entry.py) at a fraction
    of the cost, and one memo now serves q03-q08, q11, q19 and q20.
    The production path is untouched (JVM xxhash64, functions/text.py)."""

    def build():
        import pandas as pd

        from sketch_spark.functions.hashing import poly_combine_py, poly_hash_py
        from sketch_spark.functions.text import tokens_py

        d = _scan(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        m30 = (1 << 30) - 1

        from sketch_spark.functions.hashing import POLY_P, POLY_TOKEN_B

        def gen(batches):
            for pdf in batches:
                sh_out, h60_out, fp_out = [], [], []
                for t in pdf["text"]:
                    # fp mirrors fingerprint_col/Q01_SQL exactly, including
                    # the null case (NULL text -> NULL fp on both engines)
                    if t is None:
                        fp_out.append(None)
                        sh_out.append([])
                        h60_out.append([])
                        continue
                    toks = tokens_py(t)
                    th1 = [poly_hash_py(tok) for tok in toks]
                    fp = 0
                    for h in th1:
                        fp = (fp * POLY_TOKEN_B + h) % POLY_P
                    fp_out.append(fp)
                    if len(toks) < 3:
                        sh_out.append([])
                        h60_out.append([])
                        continue
                    th2 = [poly_hash_py(tok, B2, P2) for tok in toks]
                    sh, h60 = [], []
                    for i in range(len(toks) - 2):
                        a1 = poly_combine_py(th1[i : i + 3])
                        a2 = poly_combine_py(th2[i : i + 3])
                        sh.append(a1)
                        h60.append((a1 & m30) * (1 << 30) + (a2 & m30))
                    sh_out.append(sh)
                    h60_out.append(h60)
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "source": pdf["source"],
                        "shingles": sh_out,
                        "h60": h60_out,
                        "fp": pd.array(fp_out, dtype="Int64"),
                    }
                )

        return d.mapInPandas(
            gen,
            schema="doc_id long, source string, shingles array<long>, "
            "h60 array<long>, fp long",
        )

    return _memo((spark.sparkContext.applicationId, "polydocs", sf_dir), build)


def _doc_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _poly_docs(spark, sf_dir).select("doc_id", "source", "shingles")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scan(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# q01 — document fingerprint groups (exact-dup detection backbone)
# ---------------------------------------------------------------------------


def q01_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fp now comes from the shared _poly_docs pass (r6): the Column-fold
    fingerprint re-hashed every token through the interpreted HOF
    evaluator per call (~1.1 s/rep at sf1.0), while _poly_docs already
    hashes the identical tokens for q03-q08/q11/q19/q20 — one vectorized
    pass, one extra fold per doc, parity-tested in test_entry.py.
    fingerprint_col itself (the production column API) is unchanged."""
    return (
        _poly_docs(spark, sf_dir)
        .select("fp")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


Q01_SQL = f"""
WITH tk AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
th AS (SELECT doc_id, {SQL_TOKHASH.format(toks='toks')} AS th FROM tk),
fp AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), th),
        (acc, h) -> (acc * {POLY_TOKEN_B} + h) % {POLY_P}) AS fp FROM th)
SELECT fp, CAST(count(*) AS BIGINT) AS n_docs FROM fp GROUP BY fp
"""


# ---------------------------------------------------------------------------
# q02 — top-k word 3-gram shingles (heavy-hitter analog, string level)
# ---------------------------------------------------------------------------


def q02_shingle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    sh = d.select(
        F.explode(T.word_shingles_col(T.tokens_col(F.col("text")), 3)).alias("shingle")
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("shingle"))
        .limit(20)
    )


Q02_SQL = f"""
WITH tk AS (SELECT {SQL_TOKS} AS toks FROM documents),
g AS (
  SELECT array_to_string(list_slice(toks, CAST(i AS INTEGER), CAST(i + 2 AS INTEGER)), ' ') AS shingle
  FROM tk, unnest(range(1, greatest(len(toks) - 1, 1))) AS t(i)
  WHERE len(toks) >= 3
)
SELECT shingle, CAST(count(*) AS BIGINT) AS cnt FROM g
GROUP BY shingle ORDER BY cnt DESC, shingle ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# q03 — bottom-k (KMV) sketch summary per document   (mh.h:99-256)
# ---------------------------------------------------------------------------

K_BOTTOM = 8


def q03_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingle_hashes(spark, sf_dir)
    ds = F.array_sort(F.array_distinct(F.col("shingles")))
    return sh.select(
        "doc_id",
        F.size(ds).cast("long").alias("n_distinct"),
        F.coalesce(F.get(ds, 0), F.lit(-1)).cast("long").alias("min_hash"),
        F.coalesce(F.get(ds, K_BOTTOM - 1), F.lit(-1)).cast("long").alias("kth_min"),
    )


Q03_SQL = (
    SQL_DOC_SHINGLE_HASHES
    + f"""
, ds AS (SELECT doc_id, list_sort(list_distinct(shingles)) AS u FROM sh)
SELECT doc_id,
  CAST(len(u) AS BIGINT) AS n_distinct,
  CAST(coalesce(u[1], -1) AS BIGINT) AS min_hash,
  CAST(coalesce(u[{K_BOTTOM}], -1) AS BIGINT) AS kth_min
FROM ds
"""
)


# ---------------------------------------------------------------------------
# q04 — KMV shared-minimizer pairs within source blocks (LSH bottom-k mode,
#        ssi.h:125-131: candidates = ids sharing minimizers)
# ---------------------------------------------------------------------------

K_PAIR = 16
MIN_SHARED = 4


def q04_kmv_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates from the shared-minimizer equi-join (the reference's
    bottom-k index mode, ssi.h:125-131) instead of an all-pairs join within
    source: n_shared >= MIN_SHARED implies >= 1 shared minimizer, so the
    equi-join is an exact superset and the output is oracle-identical."""
    sh = _doc_shingle_hashes(spark, sf_dir)
    bk = sh.select(
        "doc_id",
        "source",
        F.slice(F.array_sort(F.array_distinct("shingles")), 1, K_PAIR).alias("bk"),
    )
    ex = bk.select("doc_id", "source", F.explode("bk").alias("h"))
    cand = (
        ex.alias("x")
        .join(
            ex.alias("y"),
            (F.col("x.source") == F.col("y.source"))
            & (F.col("x.h") == F.col("y.h"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("a_doc"), F.col("y.doc_id").alias("b_doc"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return cand.where(F.col("n_shared") >= MIN_SHARED)


Q04_SQL = (
    SQL_DOC_SHINGLE_HASHES
    + f"""
, bk AS (SELECT doc_id, source,
    list_slice(list_sort(list_distinct(shingles)), 1, {K_PAIR}) AS bk FROM sh)
SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
  CAST(len(list_intersect(a.bk, b.bk)) AS BIGINT) AS n_shared
FROM bk a JOIN bk b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.bk, b.bk)) >= {MIN_SHARED}
"""
)


# ---------------------------------------------------------------------------
# q05 — one-permutation MinHash registers (bbmh.h:894-969, portable variant:
#        bucket = h % m, value = h // m)
# ---------------------------------------------------------------------------

M_REG = 16


def q05_oneperm_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        sh = _doc_shingle_hashes(spark, sf_dir)
        ex = sh.select("doc_id", F.explode("shingles").alias("h"))
        return (
            ex.groupBy(
                "doc_id", (F.col("h") % M_REG).cast("long").alias("register_idx")
            )
            .agg(F.min((F.col("h") / M_REG).cast("long")).alias("register_value"))
            .select("doc_id", "register_idx", F.col("register_value").cast("long"))
        )

    return _memo((spark.sparkContext.applicationId, "regs", sf_dir), build)


Q05_SQL = (
    SQL_DOC_SHINGLE_HASHES
    + f"""
, ex AS (SELECT doc_id, unnest(shingles) AS h FROM sh)
SELECT doc_id, CAST(h % {M_REG} AS BIGINT) AS register_idx,
  CAST(min(h // {M_REG}) AS BIGINT) AS register_value
FROM ex GROUP BY doc_id, h % {M_REG}
"""
)


# ---------------------------------------------------------------------------
# q06 — LSH band buckets over the portable registers (ssi.h:85-102:
#        contiguous rpr-register bands; key = polynomial combine)
# ---------------------------------------------------------------------------

RPR_Q = 4  # 16 registers -> 4 bands of 4
SENTINEL = 999_999_937  # fill for empty registers (< POLY_P, never a h//m value collision risk issue)


def q06_band_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statically unrolled pivot + band folds (r6).  The previous shape
    built a 16-entry map per doc (map_from_entries) and probed it with
    element_at — a linear scan per register through the INTERPRETED map
    evaluator — then folded each band with an interpreted aggregate()
    HOF.  Both are replaced with whole-stage-codegen expressions: the
    dense register vector is a 16-way min(when(idx = i)) pivot inside the
    same aggregation, and each band key is the 4-step polynomial fold
    written out as plain column arithmetic (same trick as
    lsh.band_keys' unrolled band list).  Values, oracle, output rows
    unchanged."""
    regs = q05_oneperm_registers(spark, sf_dir)
    # dense 16-register vector per doc: unrolled min(when(...)) pivot —
    # one codegen HashAggregate, no map, no interpreted element_at scan
    dense = regs.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.min(
                    F.when(F.col("register_idx") == i, F.col("register_value"))
                ),
                F.lit(SENTINEL),
            ).alias(f"_r{i}")
            for i in range(M_REG)
        ]
    )

    def band_key(b: int):
        acc = F.lit(0).cast("long")
        for i in range(b * RPR_Q, (b + 1) * RPR_Q):
            acc = (acc * F.lit(POLY_TOKEN_B) + (F.col(f"_r{i}") % F.lit(POLY_P))) % F.lit(POLY_P)
        return acc

    n_bands = M_REG // RPR_Q
    bands = dense.select(
        "doc_id",
        F.posexplode(F.array(*[band_key(b) for b in range(n_bands)])).alias(
            "band_idx", "band_key"
        ),
    )
    return bands.groupBy(
        F.col("band_idx").cast("long").alias("band_idx"), "band_key"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


Q06_SQL = (
    SQL_DOC_SHINGLE_HASHES
    + f"""
, ex AS (SELECT doc_id, unnest(shingles) AS h FROM sh WHERE len(shingles) > 0)
, regs AS (SELECT doc_id, h % {M_REG} AS ri, min(h // {M_REG}) AS rv
           FROM ex GROUP BY doc_id, h % {M_REG})
, vec AS (
  SELECT doc_id,
    list_transform(range(0, {M_REG}),
      i -> coalesce(list_extract(list_transform(list_filter(pairs, p -> p.ri = i), p -> p.rv), 1), {SENTINEL})) AS vec
  FROM (SELECT doc_id, list(struct_pack(ri := ri, rv := rv)) AS pairs FROM regs GROUP BY doc_id)
)
, bands AS (
  SELECT doc_id, CAST(b AS BIGINT) AS band_idx,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_slice(vec, CAST(b * {RPR_Q} + 1 AS INTEGER), CAST(b * {RPR_Q} + {RPR_Q} AS INTEGER))),
      (acc, v) -> (acc * {POLY_TOKEN_B} + (v % {POLY_P})) % {POLY_P}) AS band_key
  FROM vec, unnest(range(0, {M_REG // RPR_Q})) AS t(b)
)
SELECT band_idx, band_key, CAST(count(*) AS BIGINT) AS n_docs
FROM bands GROUP BY band_idx, band_key
"""
)


# ---------------------------------------------------------------------------
# q07 — portable 60-bit SimHash per document
# ---------------------------------------------------------------------------

P2 = 998_244_353
B2 = 37


def _poly2_token_col(tok):
    # second independent family = the shared parameterized fold with
    # (B2, P2); one implementation in functions/hashing.py to fix
    from sketch_spark.functions.hashing import poly_token_family_col

    return poly_token_family_col(tok, B2, P2)


def _doc_h60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc shingle list with 60-bit combined hashes: h60 = h1 * 2^30 + h2
    (h1, h2 < 2^30 via mod-prime; disjoint bit ranges).  Served from the
    shared _poly_docs memo."""
    return _poly_docs(spark, sf_dir).select("doc_id", "source", "h60")


def _build_h60_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-Column construction of the same h60 — kept as the independent
    implementation the parity test checks _poly_docs against."""
    d = _docs(spark, sf_dir)
    toks = T.tokens_col(F.col("text"))
    th1 = F.transform(toks, poly_hash_token_col)
    th2 = F.transform(toks, _poly2_token_col)

    def shingle_fold(th):
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(2), F.lit(0)))
        return F.when(F.size(toks) < 3, F.array().cast("array<long>")).otherwise(
            F.transform(
                idx,
                lambda i: F.aggregate(
                    F.slice(th, i, 3),
                    F.lit(-1).cast("long"),
                    lambda acc, h: F.when(acc < 0, h).otherwise(
                        (acc * F.lit(POLY_TOKEN_B) + h) % F.lit(POLY_P)
                    ),
                ),
            )
        )

    s1 = shingle_fold(th1)
    s2 = shingle_fold(th2)
    h60 = F.zip_with(
        s1, s2, lambda a, b: (a % F.lit(1 << 30)) * F.lit(1 << 30) + (b % F.lit(1 << 30))
    )
    return d.select("doc_id", "source", h60.alias("h60"))


SQL_H60 = rf"""
WITH tk AS (
  SELECT doc_id, source, {SQL_TOKS} AS toks FROM documents
), th AS (
  SELECT doc_id, source, len(toks) AS n,
    {SQL_TOKHASH.format(toks='toks')} AS th1,
    list_transform(toks, t -> CASE WHEN length(t) = 0 THEN 0 ELSE
      list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1, length(t) + 1),
          i -> CAST(ascii(substr(t, CAST(i AS INTEGER), 1)) AS BIGINT))),
      (acc, c) -> (acc * {B2} + c) % {P2}) END) AS th2
  FROM tk
), sh AS (
  SELECT doc_id, source,
    CASE WHEN n < 3 THEN [] ELSE list_transform(range(1, n - 1), i ->
      ({_sql_shingle3('list_slice(th1, CAST(i AS INTEGER), CAST(i + 2 AS INTEGER))')} % {1 << 30}) * {1 << 30}
      + ({_sql_shingle3('list_slice(th2, CAST(i AS INTEGER), CAST(i + 2 AS INTEGER))')} % {1 << 30})
    ) END AS h60
  FROM th
)
"""


def q07_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-doc SimHash (the engine's own numpy operator): no
    explode, no shuffle — the previous plan exploded every shingle x 60 bits
    through two shuffled groupBys (~60x row inflation, the 2nd-most
    expensive bench query).  The oracle SQL (and output) are unchanged;
    strict=True matches its `vote > 0` tie rule.  Docs with no shingles are
    filtered to mirror the oracle's unnest (which drops them)."""
    from sketch_spark.operators.simhash import simhash_signatures_np

    h = _doc_h60(spark, sf_dir).where(F.size("h60") > 0)
    return simhash_signatures_np(
        h, arr_col="h60", id_col="doc_id", out_col="simhash", n_bits=60, strict=True
    )


Q07_SQL = (
    SQL_H60
    + """
, ex AS (SELECT doc_id, unnest(h60) AS v FROM sh)
, bits AS (SELECT doc_id, b, CASE WHEN (v >> CAST(b AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END AS vote
           FROM ex, unnest(range(0, 60)) AS t(b))
, votes AS (SELECT doc_id, b, sum(vote) AS vote FROM bits GROUP BY doc_id, b)
SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""
)


# ---------------------------------------------------------------------------
# q08 — SimHash Hamming pairs within source (count_eq.h analog)
# ---------------------------------------------------------------------------

HAM_MAX = 12


def q08_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Hamming-radius self-join via multi-index hashing with split
    enumeration (simhash.hamming_pairs_exact) — replaces the 13-chunk
    pigeonhole prefilter whose ~4.6-bit keys held ~n/24 of the corpus per
    bucket and tended to n²/24 join rows per chunk at 100x data (VERDICT
    r3 #3).  The new scheme joins on 12-bit chunk keys with <= 2-bit XOR
    enumeration: same exact output (pairs within HAM_MAX, oracle-identical),
    ~5.6x fewer candidate rows and ~170x smaller max buckets on uniform
    hashes, and all index work happens per DISTINCT simhash value (near-dup
    corpora collapse).  Candidate-volume plan gate: tests/test_simhash.py.
    """
    from sketch_spark.operators.simhash import hamming_pairs_exact

    sim = q07_simhash(spark, sf_dir)
    src = _docs(spark, sf_dir).select("doc_id", "source")
    sim = sim.join(src, "doc_id")
    pairs = hamming_pairs_exact(
        sim, id_col="doc_id", sim_col="simhash", bits=60,
        max_hamming=HAM_MAX, block_cols=("source",),
    )
    return pairs.select(
        F.col("a").alias("a_doc"),
        F.col("b").alias("b_doc"),
        F.col("hamming").cast("long").alias("hamming"),
    )


Q08_SQL = (
    SQL_H60
    + f"""
, ex AS (SELECT doc_id, unnest(h60) AS v FROM sh)
, bits AS (SELECT doc_id, b, CASE WHEN (v >> CAST(b AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END AS vote
           FROM ex, unnest(range(0, 60)) AS t(b))
, votes AS (SELECT doc_id, b, sum(vote) AS vote FROM bits GROUP BY doc_id, b)
, sim AS (SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
          FROM votes GROUP BY doc_id)
, s2 AS (SELECT s.doc_id, s.simhash, d.source FROM sim s JOIN documents d ON s.doc_id = d.doc_id)
SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s2 a JOIN s2 b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAM_MAX}
"""
)


# ---------------------------------------------------------------------------
# q09/q10 — heavy hitters & distinct counts on events
# ---------------------------------------------------------------------------


def q09_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _scan(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("event_type"))
        .limit(10)
    )


Q09_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events
GROUP BY event_type ORDER BY cnt DESC, event_type ASC LIMIT 10
"""


def q10_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _scan(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_users")
    )


Q10_SQL = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q11 — mod-sampling sketch (mod.h:14-65: keep h % m == 0)
# ---------------------------------------------------------------------------

MOD_M = 64


def q11_mod_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingle_hashes(spark, sf_dir)
    return sh.select(
        "doc_id",
        F.size(
            F.filter(F.array_distinct("shingles"), lambda h: h % MOD_M == 0)
        ).cast("long").alias("n_sampled"),
    )


Q11_SQL = (
    SQL_DOC_SHINGLE_HASHES
    + f"""
SELECT doc_id,
  CAST(len(list_filter(list_distinct(shingles), h -> h % {MOD_M} = 0)) AS BIGINT) AS n_sampled
FROM sh
"""
)


# ---------------------------------------------------------------------------
# q12/q13 — text quality + language id
# ---------------------------------------------------------------------------


def q12_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # null text counts as empty on BOTH engines: unguarded, Spark's
    # legacy size(null) = -1 vs DuckDB's len(NULL) = NULL would diverge
    # on the first null document (the SQL mirrors this coalesce)
    nt, nc, nsw, np_, passes = T.quality_flags_col(F.coalesce(F.col("text"), F.lit("")))
    return d.select(
        "doc_id",
        nt.cast("long").alias("n_tokens"),
        nc.cast("long").alias("n_chars_m"),
        nsw.cast("long").alias("n_stopwords"),
        np_.cast("long").alias("n_punct"),
        passes.cast("long").alias("passes"),
    )


_SW_LIST = ", ".join(f"'{w}'" for w in T.STOPWORDS)
Q12_SQL = rf"""
WITH tk AS (SELECT doc_id, COALESCE(text, '') AS text,
            {SQL_TOKS.replace("text", "COALESCE(text, '')")} AS toks,
            list_filter(string_split_regex(lower(COALESCE(text, ''))
                , '{SQL_WS}'), t -> length(t) > 0) AS ltoks
            FROM documents)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars_m,
  CAST(len(list_filter(ltoks, t -> list_contains([{_SW_LIST}], t))) AS BIGINT) AS n_stopwords,
  CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9[:space:]]', '', 'g')) AS BIGINT) AS n_punct,
  CAST(CASE WHEN len(toks) >= 5 AND
    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9[:space:]]', '', 'g'))) * 100 <= length(text) * 20
    THEN 1 ELSE 0 END AS BIGINT) AS passes
FROM tk
"""


def q13_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # null text -> empty on both engines (same rationale as q12)
    return d.select(
        "doc_id",
        T.langid_col(F.coalesce(F.col("text"), F.lit(""))).alias("pred_lang"),
    )


Q13_SQL = rf"""
WITH tk AS (SELECT doc_id, COALESCE(text, '') AS text,
            list_filter(string_split_regex(lower(COALESCE(text, ''))
                , '{SQL_WS}'), t -> length(t) > 0) AS ltoks
            FROM documents)
SELECT doc_id,
  CASE WHEN len(ltoks) > 0
        AND len(list_filter(ltoks, t -> list_contains([{_SW_LIST}], t))) * 50 >= len(ltoks)
        AND length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) * 50 <= length(text)
       THEN 'en' ELSE 'unknown' END AS pred_lang
FROM tk
"""


# ---------------------------------------------------------------------------
# q14 — sorted-set intersection (isz.h:7-31): shared parts across order pairs
# ---------------------------------------------------------------------------


def q14_order_part_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index pair counting instead of the per-customer all-pairs
    self-join: one row per distinct (order, part), equi-join on
    (custkey, partkey), count matches per order pair — the count IS the
    sorted-intersection size (isz.h:7-31 semantics) and pairs sharing zero
    parts are never materialized.  Per-key fan-out is #orders of one
    customer containing one part (tiny, skew-safe); the old plan built
    O(orders_per_customer²) pair rows carrying full part arrays."""
    # r6: one exchange + numpy group kernel instead of the self-join.
    # The aliased self-join planned the whole distinct+join subtree TWICE
    # (two lineitem scans, two distinct aggs, two broadcast joins) and
    # sort-merge-joined the copies on (custkey, partkey): 5 exchanges +
    # 2 sorts, 2.9 s warm at sf1.0.  Measured floor: computing
    # (custkey, orderkey, partkey) once — scan + one broadcast probe of
    # orders — is ~1.0 s, and every SQL grouping shape added 1-4 s on
    # top (a 6M-key count/collect aggregation builds multimillion-entry
    # hash maps for ~620 qualifying groups).  Instead: ONE explicit
    # repartition on (custkey, partkey), then a mapInPandas kernel
    # (guide §4.2) lexsorts each partition's rows, finds >= 2-row runs,
    # np.unique-dedups orderkeys per run (the old plan's distinct), and
    # emits the qualifying pairs — tiny output into a tiny final agg.
    # Partition row buffering is bounded by the shuffle partition count,
    # which scales with defaultParallelism.  Not-null guards mirror the
    # self-join's semantics (no-ops on TPC-H data).
    import numpy as np
    import pandas as pd

    # both tables read RAW, not through _scan: the explicit repartition
    # below is this query's (only) parallelizing exchange, so _scan's
    # round-robin split would be a second full pass of the fact table
    # (measured: 2.2 s -> 1.5 s at sf0.1, neutral at sf1.0 where the scan
    # has enough native splits).  The single-split broadcast probe before
    # the repartition is cheap (narrow, no shuffle).
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    op = (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .where(F.col("o_custkey").isNotNull() & F.col("l_partkey").isNotNull())
        .select("o_custkey", "o_orderkey", "l_partkey")
    )

    def pair_kernel(batches):
        cks, oks, pks = [], [], []
        for pdf in batches:
            cks.append(pdf["o_custkey"].to_numpy(np.int64))
            oks.append(pdf["o_orderkey"].to_numpy(np.int64))
            pks.append(pdf["l_partkey"].to_numpy(np.int64))
        if not cks:
            return
        ck = np.concatenate(cks)
        ok = np.concatenate(oks)
        pk = np.concatenate(pks)
        if len(ck) == 0:
            return
        order = np.lexsort((ok, pk, ck))
        ck, ok, pk = ck[order], ok[order], pk[order]
        new = np.empty(len(ck), dtype=bool)
        new[0] = True
        new[1:] = (ck[1:] != ck[:-1]) | (pk[1:] != pk[:-1])
        gid = np.cumsum(new) - 1
        cnt = np.bincount(gid)
        starts = np.nonzero(new)[0]
        out_ck, out_a, out_b = [], [], []
        for g in np.nonzero(cnt >= 2)[0]:
            s = starts[g]
            u = np.unique(ok[s : s + cnt[g]])
            if len(u) < 2:
                continue
            ia, ib = np.triu_indices(len(u), 1)
            out_ck.append(np.full(len(ia), ck[s]))
            out_a.append(u[ia])
            out_b.append(u[ib])
        if out_ck:
            yield pd.DataFrame(
                {
                    "custkey": np.concatenate(out_ck),
                    "o1": np.concatenate(out_a),
                    "o2": np.concatenate(out_b),
                }
            )

    dp = spark.sparkContext.defaultParallelism
    return (
        op.repartition(2 * dp, "o_custkey", "l_partkey")
        .mapInPandas(pair_kernel, schema="custkey long, o1 long, o2 long")
        .groupBy("custkey", "o1", "o2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_parts"))
    )


Q14_SQL = """
WITH parts AS (
  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS parts
  FROM lineitem GROUP BY l_orderkey
), ow AS (
  SELECT o.o_orderkey, o.o_custkey, p.parts
  FROM orders o JOIN parts p ON o.o_orderkey = p.l_orderkey
)
SELECT a.o_custkey AS custkey, a.o_orderkey AS o1, b.o_orderkey AS o2,
  CAST(len(list_intersect(a.parts, b.parts)) AS BIGINT) AS n_shared_parts
FROM ow a JOIN ow b ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
WHERE len(list_intersect(a.parts, b.parts)) >= 1
"""


# ---------------------------------------------------------------------------
# q15 — char-5-gram Jaccard pairs (n-gram near-dup detector)
# ---------------------------------------------------------------------------

NG = 5
NG_MIN_INTER = 30


def q15_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dense Gram-matrix kernel (setsim.ngram_overlap_dense,
    r6): exact |A ∩ B| for every within-source doc pair as one BLAS
    sgemm per hash-block pair — no gram explode, no inverted-index join.
    Replaces the r5 hybrid count join, whose Σ_e df_e² join+agg rows hit
    7.7e9 at sf1.0 (measured 270 s warm on local[32]) because the corpus
    vocabulary is bounded (~2k distinct grams per source at every sf), so
    by sf1.0 most grams are shared by most docs of their source.  With
    that same bounded vocab the exact all-pairs count matrix of a block
    pair is (docs x G) @ (G x docs) — ~0.5 TFLOP total at sf1.0, ~100x
    less wall (guide §1.2 step 1: change the algorithm, §4.2: hand whole
    blocks to vectorized native code).  Counts are integer-exact (float32
    holds ints < 2^24; n_inter <= text length); no hashing, no collision
    risk.  Value-identical to the r5 plan (tests/test_setsim.py) and to
    the unchanged oracle.  |A∪B| = n_a + n_b - n_inter exactly (distinct
    sets), matching the oracle's list_distinct(concat)."""
    from sketch_spark.operators.setsim import dense_block_count, ngram_overlap_dense

    d = _docs(spark, sf_dir).select("doc_id", "source", "text")
    key = (spark.sparkContext.applicationId, "dense_blocks", sf_dir)
    if key not in _SCAN_SPLITS:
        _keep_live_app(_SCAN_SPLITS, key)
        _SCAN_SPLITS[key] = dense_block_count(d, "source")
    pairs = ngram_overlap_dense(
        d, "doc_id", "text", NG, NG_MIN_INTER,
        block_col="source", n_blocks=_SCAN_SPLITS[key],
    )
    return pairs.select(
        F.col("a").alias("a_doc"),
        F.col("b").alias("b_doc"),
        F.col("n_inter").cast("long").alias("n_inter"),
        (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("long").alias("n_union"),
    )


Q15_SQL = f"""
WITH g AS (
  SELECT doc_id, source,
    list_distinct(CASE WHEN length(text) < {NG} THEN []
      ELSE list_transform(range(1, length(text) - {NG - 2}),
           i -> substr(text, CAST(i AS INTEGER), {NG})) END) AS grams
  FROM documents
)
SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
  CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS n_inter,
  CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS BIGINT) AS n_union
FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams)) >= {NG_MIN_INTER}
"""


# ---------------------------------------------------------------------------
# q16 — ANN: integer-quantized max-inner-product top-3 (brute force baseline)
# ---------------------------------------------------------------------------

N_QUERIES = 10
TOP_K = 3
QSCALE = 1000


def q16_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = _scan(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda v: F.round(v * QSCALE).cast("long")).alias("qv"),
    )
    c = e.select(
        F.col("vec_id").alias("n_id"),
        F.transform("embedding", lambda v: F.round(v * QSCALE).cast("long")).alias("nv"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "nv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", dot.alias("dot"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("dot"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "n_id", "dot")
    )


Q16_SQL = f"""
WITH qe AS (
  SELECT vec_id AS q_id,
    list_transform(embedding, v -> CAST(round(v * {QSCALE}) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
), ce AS (
  SELECT vec_id AS n_id,
    list_transform(embedding, v -> CAST(round(v * {QSCALE}) AS BIGINT)) AS nv
  FROM embeddings
), scored AS (
  SELECT q.q_id, c.n_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, len(q.qv) + 1),
        i -> q.qv[CAST(i AS INTEGER)] * c.nv[CAST(i AS INTEGER)])),
      (acc, v) -> acc + v) AS dot
  FROM qe q JOIN ce c ON q.q_id != c.n_id
), ranked AS (
  SELECT q_id, n_id, dot,
    row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, dot FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# q17 — windowed sessionization counters on events
# ---------------------------------------------------------------------------


def q17_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = _scan(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; timestampdiff is timezone-free on NTZ
    return (
        e.select(
            "event_id",
            "user_id",
            F.row_number().over(w).cast("long").alias("rn"),
            F.lag("ts").over(w).alias("prev_ts"),
            "ts",
        )
        .withColumn(
            "gap_us",
            F.coalesce(
                F.expr("timestampdiff(MICROSECOND, prev_ts, ts)"), F.lit(-1)
            ).cast("long"),
        )
        .select("event_id", "user_id", "rn", "gap_us")
    )


Q17_SQL = """
SELECT event_id, user_id,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
  CAST(coalesce(epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)), -1) AS BIGINT) AS gap_us
FROM events
"""


# ---------------------------------------------------------------------------
# q18 — decimal-exact lineitem aggregate (TPC-H Q1 shape, FP-safe)
# ---------------------------------------------------------------------------


def q18_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _scan(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("sum_qty_cents"),
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("sum_base_price_cents"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


# sums exposed as integer cents: decimal aggregation is exact in both
# engines, but decimal->pandas rendering differs; integers compare clean.
Q18_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_cents,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_price_cents,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q19 — connected components (iterative joins) vs DuckDB recursive CTE
# ---------------------------------------------------------------------------

CC_MIN_SHARED = 8


def q19_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.cc import connected_components

    pairs = q04_kmv_pairs(spark, sf_dir).where(F.col("n_shared") >= CC_MIN_SHARED)
    # CC runs on the long ids directly: the oracle's min(reach) is numeric,
    # and a string cast would make cluster_id the LEXICOGRAPHIC min
    # ('10' < '9'), silently diverging on components that straddle a
    # digit-length boundary.  connected_components is type-agnostic.
    edges = pairs.select(F.col("a_doc").alias("a"), F.col("b_doc").alias("b"))
    labels, _ = connected_components(edges)
    return labels.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


Q19_SQL = (
    SQL_DOC_SHINGLE_HASHES.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
, bk AS (SELECT doc_id, source,
    list_slice(list_sort(list_distinct(shingles)), 1, {K_PAIR}) AS bk FROM sh)
, e0 AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM bk a JOIN bk b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.bk, b.bk)) >= {CC_MIN_SHARED}
)
, edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0)
, nodes AS (SELECT DISTINCT a AS node FROM edges)
, walk AS (
  SELECT node, node AS reach FROM nodes
  UNION
  SELECT w.node, e.b AS reach FROM walk w JOIN edges e ON w.reach = e.a
)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(reach) AS BIGINT) AS cluster_id
FROM walk GROUP BY node
"""
)


# ---------------------------------------------------------------------------
# q20 — asymmetric containment pairs (containment_matrix analog,
#        pysketch.h:142-149) over exact distinct shingle sets
# ---------------------------------------------------------------------------

CONT_MIN = 10


def q20_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same hot-element-safe hybrid join plan as q15
    (setsim.overlap_join_hybrid — value-identical to overlap_count_join,
    sub-quadratic under df~n hot shingles at 100x scale; the df census
    auto-falls back to the plain count join when nothing is hot).  The
    asymmetric (a != b) output is both orientations of each unordered
    pair."""
    from sketch_spark.operators.setsim import overlap_join_hybrid

    sh = _doc_shingle_hashes(spark, sf_dir)
    d = sh.select("doc_id", "source", F.array_distinct("shingles").alias("u"))
    pairs = overlap_join_hybrid(d, "doc_id", "u", CONT_MIN, block_cols=("source",))
    fwd = pairs.select(
        F.col("a").alias("a_doc"),
        F.col("b").alias("b_doc"),
        F.col("n_inter").cast("long").alias("n_inter"),
        F.col("n_a").cast("long").alias("n_a"),
    )
    rev = pairs.select(
        F.col("b").alias("a_doc"),
        F.col("a").alias("b_doc"),
        F.col("n_inter").cast("long").alias("n_inter"),
        F.col("n_b").cast("long").alias("n_a"),
    )
    return fwd.unionByName(rev)


Q20_SQL = (
    SQL_DOC_SHINGLE_HASHES
    + f"""
, d AS (SELECT doc_id, source, list_distinct(shingles) AS u FROM sh)
SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
  CAST(len(list_intersect(a.u, b.u)) AS BIGINT) AS n_inter,
  CAST(len(a.u) AS BIGINT) AS n_a
FROM d a JOIN d b ON a.source = b.source AND a.doc_id != b.doc_id
WHERE len(list_intersect(a.u, b.u)) >= {CONT_MIN}
"""
)


# ---------------------------------------------------------------------------
# q21/q22 — membership predicates: semi / anti join (bf.may_contain analog)
# ---------------------------------------------------------------------------


def q21_orders_with_heavy_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _scan(spark, sf_dir, "orders")
    li = _scan(spark, sf_dir, "lineitem").where(
        F.col("l_quantity") > 45
    )
    return o.join(
        li.select(F.col("l_orderkey").alias("o_orderkey")).distinct(),
        "o_orderkey",
        "left_semi",
    ).select("o_orderkey", "o_custkey")


Q21_SQL = """
SELECT o_orderkey, o_custkey FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
"""


def q22_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _scan(spark, sf_dir, "customer")
    o = _scan(spark, sf_dir, "orders")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_anti",
    ).select("c_custkey", "c_name")


Q22_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ---------------------------------------------------------------------------
# q23 — register-exact HLL build (hll.h:886-899) through the engine's own
#        hll_registers operator, over an engine-portable 60-bit hash
#        (two 30-bit affine mod-prime halves — both engines compute the
#        identical integer).  The rho computation is integer-exact (32-bit
#        split before log2) in both engines.  The float *estimator* stays
#        pytest-gated (|est-truth| <= 2*err, tests/test_sketches.py) —
#        registers are the deterministic, hash-comparable surface.
# ---------------------------------------------------------------------------

HLL_Q23_P = 8
HP30 = 1_073_741_789  # largest prime < 2^30
HA1, HB1 = 1_103_515_245, 12_345
HA2, HB2 = 69_069, 362_437


def q23_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.hll import hll_registers

    e = _scan(spark, sf_dir, "events")
    h1 = (F.lit(HA1) * F.col("user_id") + F.lit(HB1)) % F.lit(HP30)
    h2 = (F.lit(HA2) * F.col("user_id") + F.lit(HB2)) % F.lit(HP30)
    h60 = h1 * F.lit(1 << 30) + h2
    elems = e.select(F.col("event_type").alias("g"), h60.alias("h"))
    regs = hll_registers(elems, "g", "h", p=HLL_Q23_P, hash_bits=60)
    return regs.select(
        F.col("g").alias("event_type"),
        F.posexplode("regs").alias("register_idx", "register_value"),
    ).select(
        "event_type",
        F.col("register_idx").cast("long").alias("register_idx"),
        F.col("register_value").cast("long").alias("register_value"),
    )


_VB23 = 60 - HLL_Q23_P
Q23_SQL = f"""
WITH h AS (
  SELECT event_type,
    (({HA1} * user_id + {HB1}) % {HP30}) * {1 << 30}
      + (({HA2} * user_id + {HB2}) % {HP30}) AS h60
  FROM events
), rr AS (
  SELECT event_type, h60 // {1 << _VB23} AS bucket, h60 % {1 << _VB23} AS rem
  FROM h
), rh AS (
  SELECT event_type, bucket,
    CASE WHEN rem = 0 THEN {_VB23 + 1}
         WHEN rem >= {1 << 32}
           THEN {_VB23 - 32} - CAST(floor(log2(rem // {1 << 32})) AS BIGINT)
         ELSE {_VB23} - CAST(floor(log2(rem)) AS BIGINT) END AS rho
  FROM rr
), mx AS (SELECT event_type, bucket, max(rho) AS mr FROM rh GROUP BY event_type, bucket),
et AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT et.event_type, CAST(i AS BIGINT) AS register_idx
         FROM et, unnest(range(0, {1 << HLL_Q23_P})) AS t(i))
SELECT g.event_type, g.register_idx,
  CAST(coalesce(mx.mr, 0) AS BIGINT) AS register_value
FROM grid g LEFT JOIN mx
  ON g.event_type = mx.event_type AND g.register_idx = mx.bucket
"""


# ---------------------------------------------------------------------------
# q24 — exact median (quantile surface; p=0.5 keeps interpolation exact in
#        binary floating point: results are x.0 or x.5)
# ---------------------------------------------------------------------------


def q24_median_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _scan(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty")
    )


Q24_SQL = """
SELECT l_linestatus, quantile_cont(l_quantity, 0.5) AS median_qty
FROM lineitem GROUP BY l_linestatus
"""


# ---------------------------------------------------------------------------
# q25 — portable densified registers (operators/minhash.densify_cyclic_col):
#        the oracle-checkable densification variant; the production
#        WangHash-probe densify (bbmh.h:31-56) stays pytest-gated (its
#        uint64 wraparound has no portable SQL form).
# ---------------------------------------------------------------------------


def _dense_vec16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, vec array<long> len 16 with nulls) from the q05 registers."""
    regs = q05_oneperm_registers(spark, sf_dir)
    dense = regs.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("register_idx", "register_value"))
        ).alias("mm")
    )
    return dense.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(M_REG - 1)),
            lambda i: F.element_at(F.col("mm"), i.cast("long")),
        ).alias("vec"),
    )


def q25_densified_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.minhash import densify_cyclic_col

    vec = _dense_vec16(spark, sf_dir)
    return vec.select(
        "doc_id",
        F.posexplode(densify_cyclic_col(F.col("vec"), M_REG)).alias(
            "register_idx", "register_value"
        ),
    ).select(
        "doc_id",
        F.col("register_idx").cast("long").alias("register_idx"),
        F.col("register_value").cast("long").alias("register_value"),
    )


Q25_SQL = (
    SQL_DOC_SHINGLE_HASHES
    + f"""
, ex AS (SELECT doc_id, unnest(shingles) AS h FROM sh)
, regs AS (SELECT doc_id, h % {M_REG} AS ri, min(h // {M_REG}) AS rv
           FROM ex GROUP BY doc_id, h % {M_REG})
, grid AS (SELECT d.doc_id, CAST(t.i AS BIGINT) AS i
           FROM (SELECT DISTINCT doc_id FROM regs) d,
                unnest(range(0, {M_REG})) AS t(i))
SELECT g.doc_id, g.i AS register_idx,
  CAST(arg_min(r.rv, (r.ri - g.i + {M_REG}) % {M_REG}) AS BIGINT) AS register_value
FROM grid g JOIN regs r ON r.doc_id = g.doc_id
GROUP BY g.doc_id, g.i
"""
)


# ---------------------------------------------------------------------------
# q26 — counting bottom-k + weighted (histogram-intersection) overlap
#        (reference CountingRangeMinHash mh.h:482-735, tf_idf mh.h:562-588);
#        integer numerator/denominator so the oracle hash-compares exactly.
#        Candidates = shared-minimizer equi-join (ssi.h bottom-k index mode),
#        which is EXACTLY the pairs with w_num >= 1 — no all-pairs join.
# ---------------------------------------------------------------------------

K_W = 16


def _counting_minimizer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared q26/q36 front half: per-doc counting bottom-k minimizers
    (CountingRangeMinHash state) and the shared-minimizer equi-join
    candidates (ssi.h bottom-k index mode — exactly the pairs with at
    least one common minimizer, never an all-pairs join).  Returns
    (a, b, _ma, _mb) with both docs' minimizer arrays attached."""
    from sketch_spark.operators.minhash import bottom_k_counting

    sh = _poly_docs(spark, sf_dir)
    ex = sh.select("doc_id", "source", F.explode("shingles").alias("h"))
    mins = bottom_k_counting(ex, K_W, "doc_id", "h")
    src = sh.select("doc_id", "source")
    m2 = mins.join(src, "doc_id")
    exm = m2.select(
        "doc_id",
        "source",
        F.explode(F.transform("minimizers", lambda s: s.getField("h"))).alias("h"),
    )
    cand = (
        exm.alias("x")
        .join(
            exm.alias("y"),
            (F.col("x.source") == F.col("y.source"))
            & (F.col("x.h") == F.col("y.h"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    ma = m2.select(F.col("doc_id").alias("a"), F.col("minimizers").alias("_ma"))
    mb = m2.select(F.col("doc_id").alias("b"), F.col("minimizers").alias("_mb"))
    return cand.join(ma, "a").join(mb, "b")


def q26_weighted_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.minhash import weighted_overlap_cols

    pairs = _counting_minimizer_pairs(spark, sf_dir)
    num, den = weighted_overlap_cols(F.col("_ma"), F.col("_mb"))
    return pairs.select(
        F.col("a").alias("a_doc"),
        F.col("b").alias("b_doc"),
        num.cast("long").alias("w_num"),
        den.cast("long").alias("w_den"),
    )


Q26_SQL = (
    SQL_DOC_SHINGLE_HASHES
    + f"""
, ex AS (SELECT doc_id, source, unnest(shingles) AS h FROM sh)
, cnts AS (SELECT doc_id, source, h, count(*) AS cnt
           FROM ex GROUP BY doc_id, source, h)
, rk AS (SELECT doc_id, source, h, cnt,
         row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn FROM cnts)
, mins AS (SELECT doc_id, source, h, cnt FROM rk WHERE rn <= {K_W})
, tot AS (SELECT doc_id, sum(cnt) AS tot FROM mins GROUP BY doc_id)
, shared AS (
  SELECT a.doc_id AS a_doc, b.doc_id AS b_doc, sum(least(a.cnt, b.cnt)) AS num
  FROM mins a JOIN mins b
    ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT s.a_doc, s.b_doc, CAST(s.num AS BIGINT) AS w_num,
  CAST(ta.tot + tb.tot - s.num AS BIGINT) AS w_den
FROM shared s
JOIN tot ta ON ta.doc_id = s.a_doc
JOIN tot tb ON tb.doc_id = s.b_doc
"""
)


# ---------------------------------------------------------------------------
# q27 — Count-Min point estimates (ccm.h est_count) with an engine-portable
#        affine mod-prime family through the real cm_sketch/cm_query
#        operators (hash_fn injection).
# ---------------------------------------------------------------------------

CM_D, CM_W = 3, 32


def _cm_hash(key, seed):
    return (
        poly_hash_token_col(key) * F.lit(POLY_B)
        + seed.cast("long") * F.lit(7919)
        + F.lit(13)
    ) % F.lit(POLY_P)


def q27_cm_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.frequency import cm_query, cm_sketch

    e = _scan(spark, sf_dir, "events").select("event_type")
    cm = cm_sketch(e, "event_type", CM_D, CM_W, hash_fn=_cm_hash)
    keys = e.distinct()
    est = cm_query(cm, keys, "event_type", CM_D, CM_W, hash_fn=_cm_hash)
    exact = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    return est.join(exact, "event_type").select(
        "event_type", "est_count", "exact_count"
    )


from sketch_spark.functions.hashing import poly_hash_token_sql  # noqa: E402

_Q27_TH = poly_hash_token_sql("event_type")
Q27_SQL = f"""
WITH k AS (SELECT event_type, {_Q27_TH} AS th FROM events),
cells AS (SELECT t.s AS seed,
            ((th * {POLY_B} + t.s * 7919 + 13) % {POLY_P}) % {CM_W} AS bucket,
            count(*) AS cnt
          FROM k, unnest(range(0, {CM_D})) AS t(s) GROUP BY 1, 2),
probes AS (SELECT DISTINCT event_type, th FROM k),
pe AS (SELECT p.event_type, t.s AS seed,
         ((p.th * {POLY_B} + t.s * 7919 + 13) % {POLY_P}) % {CM_W} AS bucket
       FROM probes p, unnest(range(0, {CM_D})) AS t(s)),
est AS (SELECT pe.event_type, min(coalesce(c.cnt, 0)) AS est_count
        FROM pe LEFT JOIN cells c ON c.seed = pe.seed AND c.bucket = pe.bucket
        GROUP BY pe.event_type)
SELECT e.event_type, CAST(e.est_count AS BIGINT) AS est_count,
  CAST(x.cnt AS BIGINT) AS exact_count
FROM est e JOIN (SELECT event_type, count(*) AS cnt FROM events
                 GROUP BY event_type) x USING (event_type)
"""


# ---------------------------------------------------------------------------
# q28 — Bloom membership probe (bf.h:623-676) through the real bloom_build /
#        bloom_probe operators with a portable position family; the second
#        probe column exercises negatives / false positives deterministically.
# ---------------------------------------------------------------------------

BLOOM_BITS, BLOOM_K = 4096, 3
PROBE_SHIFT = 1_000_000


def _bloom_pos(key, seed, n_bits):
    return (
        (F.lit(HA1) * key + F.lit(HB1) + seed.cast("long") * F.lit(HA2))
        % F.lit(HP30)
    ) % F.lit(n_bits)


def q28_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.membership import bloom_build, bloom_probe

    o = _scan(spark, sf_dir, "orders").select("o_custkey")
    c = _scan(spark, sf_dir, "customer").select(
        "c_custkey", (F.col("c_custkey") + PROBE_SHIFT).alias("shifted_key")
    )
    bloom = bloom_build(o, "o_custkey", BLOOM_BITS, BLOOM_K, pos_fn=_bloom_pos)
    p1 = bloom_probe(
        c, bloom, "c_custkey", BLOOM_BITS, BLOOM_K, "may_contain", pos_fn=_bloom_pos
    )
    p2 = bloom_probe(
        p1, bloom, "shifted_key", BLOOM_BITS, BLOOM_K, "may_contain_shifted",
        pos_fn=_bloom_pos,
    )
    return p2.select(
        "c_custkey",
        F.col("may_contain").cast("long").alias("may_contain"),
        F.col("may_contain_shifted").cast("long").alias("may_contain_shifted"),
    )


def _bloom_pos_sql(key: str) -> str:
    return f"(({HA1} * {key} + {HB1} + t.s * {HA2}) % {HP30}) % {BLOOM_BITS}"


Q28_SQL = f"""
WITH bits AS (SELECT DISTINCT {_bloom_pos_sql('o_custkey')} AS p
              FROM orders, unnest(range(0, {BLOOM_K})) AS t(s)),
probe AS (SELECT c_custkey, 0 AS which, {_bloom_pos_sql('c_custkey')} AS p
          FROM customer, unnest(range(0, {BLOOM_K})) AS t(s)
          UNION ALL
          SELECT c_custkey, 1 AS which,
                 {_bloom_pos_sql(f'(c_custkey + {PROBE_SHIFT})')} AS p
          FROM customer, unnest(range(0, {BLOOM_K})) AS t(s)),
m AS (SELECT pr.c_custkey, pr.which, count(b.p) AS ok
      FROM probe pr LEFT JOIN bits b ON b.p = pr.p
      GROUP BY pr.c_custkey, pr.which)
SELECT c_custkey,
  CAST(max(CASE WHEN which = 0 AND ok = {BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
    AS may_contain,
  CAST(max(CASE WHEN which = 1 AND ok = {BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
    AS may_contain_shifted
FROM m GROUP BY c_custkey
"""


# ---------------------------------------------------------------------------
# q29 — signature compress (bbmh.h:933-951) through compress_signature_col:
#        16 registers fold to 4 contiguous blocks, value re-adds the
#        discarded bucket bits (j * 2^60).
# ---------------------------------------------------------------------------


def q29_compressed_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.minhash import compress_signature_col

    vec = _dense_vec16(spark, sf_dir)
    comp = compress_signature_col(F.col("vec"), 4, 2)
    return vec.select(
        "doc_id", F.posexplode(comp).alias("register_idx", "register_value")
    ).select(
        "doc_id",
        F.col("register_idx").cast("long").alias("register_idx"),
        F.coalesce(F.col("register_value"), F.lit(-1)).cast("long").alias(
            "register_value"
        ),
    )


Q29_SQL = (
    SQL_DOC_SHINGLE_HASHES
    + f"""
, ex AS (SELECT doc_id, unnest(shingles) AS h FROM sh)
, regs AS (SELECT doc_id, h % {M_REG} AS ri, min(h // {M_REG}) AS rv
           FROM ex GROUP BY doc_id, h % {M_REG})
, grid AS (SELECT d.doc_id, CAST(t.i AS BIGINT) AS i
           FROM (SELECT DISTINCT doc_id FROM regs) d,
                unnest(range(0, 4)) AS t(i))
SELECT g.doc_id, g.i AS register_idx,
  CAST(coalesce(min(r.rv + (r.ri % 4) * {1 << 60}), -1) AS BIGINT)
    AS register_value
FROM grid g LEFT JOIN regs r ON r.doc_id = g.doc_id AND r.ri // 4 = g.i
GROUP BY g.doc_id, g.i
"""
)


# ---------------------------------------------------------------------------
# q30 — signed-random-projection signatures over embeddings: bit j =
#        sign(<v, r_j>) with deterministic ±1 (Rademacher) planes, so the
#        projection stays integer-exact and the SQL oracle agrees bit-exactly.
# ---------------------------------------------------------------------------

SRP_BITS, SRP_DIM = 16, 64
_SRP_SIGNS = [
    [1 - 2 * (((j * SRP_DIM + k) * HA1 + HB1) % HP30 % 2) for k in range(SRP_DIM)]
    for j in range(SRP_BITS)
]


def q30_srp_signs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _scan(spark, sf_dir, "embeddings")
    qv = F.transform("embedding", lambda v: F.round(v * QSCALE).cast("long"))
    df = e.select("vec_id", qv.alias("qv"))
    sig = F.lit(0).cast("long")
    for j in range(SRP_BITS):
        signs = F.array(*[F.lit(s).cast("long") for s in _SRP_SIGNS[j]])
        dot = F.aggregate(
            F.zip_with(F.col("qv"), signs, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return df.select("vec_id", sig.alias("srp_sig"))


def _srp_dot_sql(j: int) -> str:
    lits = "[" + ", ".join(str(s) for s in _SRP_SIGNS[j]) + "]"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {SRP_DIM} + 1), "
        f"i -> qv[CAST(i AS INTEGER)] * ({lits})[CAST(i AS INTEGER)])), "
        f"(acc, v) -> acc + v)"
    )


Q30_SQL = (
    "WITH q AS (SELECT vec_id, list_transform(embedding, "
    f"v -> CAST(round(v * {QSCALE}) AS BIGINT)) AS qv FROM embeddings)\n"
    "SELECT vec_id, CAST("
    + " + ".join(
        f"(CASE WHEN ({_srp_dot_sql(j)}) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SRP_BITS)
    )
    + " AS BIGINT) AS srp_sig FROM q"
)


# ---------------------------------------------------------------------------
# q31 — Count-sketch join-size estimate (ccm.h:218-226 join_size_l2est)
#        through cs_sketch/cs_inner_product with a portable signed family;
#        exact join size alongside for the tolerance check.
# ---------------------------------------------------------------------------

CS_D, CS_W = 3, 64


def _cs_hash(key, seed):
    return (
        F.lit(HA1) * key + F.lit(HB1) + seed.cast("long") * F.lit(HA2)
    ) % F.lit(HP30)


def _cs_sign(key, seed):
    return F.lit(1) - 2 * (
        (
            (F.lit(HA2) * key + F.lit(HB2) + seed.cast("long") * F.lit(HA1))
            % F.lit(HP30)
        )
        % F.lit(2)
    )


def q31_join_size_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.frequency import cs_inner_product, cs_sketch

    o = _scan(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = _scan(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    csa = cs_sketch(o, "k", CS_D, CS_W, hash_fn=_cs_hash, sign_fn=_cs_sign)
    csb = cs_sketch(li, "k", CS_D, CS_W, hash_fn=_cs_hash, sign_fn=_cs_sign)
    est = cs_inner_product(csa, csb, CS_D)
    exact = o.join(li, "k").agg(
        F.count(F.lit(1)).cast("long").alias("exact_join_size")
    )
    return est.crossJoin(exact)


def _cs_cells_sql(src: str) -> str:
    return f"""
(SELECT t.s AS seed,
   (({HA1} * k + {HB1} + t.s * {HA2}) % {HP30}) % {CS_W} AS bucket,
   sum(1 - 2 * ((({HA2} * k + {HB2} + t.s * {HA1}) % {HP30}) % 2)) AS val
 FROM {src}, unnest(range(0, {CS_D})) AS t(s) GROUP BY 1, 2)
"""


Q31_SQL = f"""
WITH a AS (SELECT o_orderkey AS k FROM orders),
b AS (SELECT l_orderkey AS k FROM lineitem),
ca AS {_cs_cells_sql('a')},
cb AS {_cs_cells_sql('b')},
dots AS (SELECT s.s AS seed, coalesce(sum(ca.val * cb.val), 0) AS dot
         FROM unnest(range(0, {CS_D})) AS s(s)
         LEFT JOIN ca ON ca.seed = s.s
         LEFT JOIN cb ON cb.seed = ca.seed AND cb.bucket = ca.bucket
         GROUP BY s.s)
SELECT CAST(median(dot) AS BIGINT) AS est_join_size,
  (SELECT CAST(count(*) AS BIGINT) FROM a JOIN b USING (k)) AS exact_join_size
FROM dots
"""


# ---------------------------------------------------------------------------
# q32 — first-k-of-union bottom-k Jaccard walk numerator (mh.h:201-220:
#        among the k smallest of A ∪ B, count those in both — NOT |A∩B|/k).
#        Candidates from the shared-minimizer equi-join (exact superset:
#        every element counted by the walk is a shared bottom-k value).
# ---------------------------------------------------------------------------


def q32_bottomk_union_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingle_hashes(spark, sf_dir)
    bk = sh.select(
        "doc_id",
        "source",
        F.slice(F.array_sort(F.array_distinct("shingles")), 1, K_PAIR).alias("bk"),
    )
    ex = bk.select("doc_id", "source", F.explode("bk").alias("h"))
    cand = (
        ex.alias("x")
        .join(
            ex.alias("y"),
            (F.col("x.source") == F.col("y.source"))
            & (F.col("x.h") == F.col("y.h"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    ba = bk.select(F.col("doc_id").alias("a"), F.col("bk").alias("_ba"))
    bb = bk.select(F.col("doc_id").alias("b"), F.col("bk").alias("_bb"))
    union_k = F.slice(F.array_sort(F.array_union("_ba", "_bb")), 1, K_PAIR)
    shared = F.size(F.array_intersect(F.array_intersect(union_k, "_ba"), "_bb"))
    return (
        cand.join(ba, "a")
        .join(bb, "b")
        .select(
            F.col("a").alias("a_doc"),
            F.col("b").alias("b_doc"),
            shared.cast("long").alias("shared_unionk"),
        )
        .where(F.col("shared_unionk") >= 1)
    )


Q32_SQL = (
    SQL_DOC_SHINGLE_HASHES
    + f"""
, bk AS (SELECT doc_id, source,
    list_slice(list_sort(list_distinct(shingles)), 1, {K_PAIR}) AS bk FROM sh)
, pairs AS (SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
    len(list_intersect(list_intersect(
      list_slice(list_sort(list_distinct(list_concat(a.bk, b.bk))), 1, {K_PAIR}),
      a.bk), b.bk)) AS s
  FROM bk a JOIN bk b ON a.source = b.source AND a.doc_id < b.doc_id)
SELECT a_doc, b_doc, CAST(s AS BIGINT) AS shared_unionk
FROM pairs WHERE s >= 1
"""
)


# ---------------------------------------------------------------------------
# q33 — PCSA register-exact build (pc.h:20-123: per-bucket OR of the
#        one-hot lowest-zero-bit of h >>> p) through the engine's own
#        pcsa_registers operator over the portable 60-bit hash.  Registers
#        are pure bit arithmetic in both engines — hash-comparable.
# ---------------------------------------------------------------------------

PCSA_P = 6


def q33_pcsa_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.hll import pcsa_registers

    e = _scan(spark, sf_dir, "events")
    h1 = (F.lit(HA1) * F.col("user_id") + F.lit(HB1)) % F.lit(HP30)
    h2 = (F.lit(HA2) * F.col("user_id") + F.lit(HB2)) % F.lit(HP30)
    h60 = h1 * F.lit(1 << 30) + h2
    elems = e.select(F.col("event_type").alias("g"), h60.alias("h"))
    regs = pcsa_registers(elems, "g", "h", p=PCSA_P)
    return regs.select(
        F.col("g").alias("event_type"),
        F.posexplode("regs").alias("register_idx", "register_value"),
    ).select(
        "event_type",
        F.col("register_idx").cast("long").alias("register_idx"),
        F.col("register_value").cast("long").alias("register_value"),
    )


Q33_SQL = f"""
WITH h AS (
  SELECT event_type,
    (({HA1} * user_id + {HB1}) % {HP30}) * {1 << 30}
      + (({HA2} * user_id + {HB2}) % {HP30}) AS h60
  FROM events
), bm AS (
  SELECT event_type, h60 % {1 << PCSA_P} AS bucket,
    ((~(h60 // {1 << PCSA_P})) & ((h60 // {1 << PCSA_P}) + 1)) AS bit
  FROM h
), agg AS (SELECT event_type, bucket, bit_or(bit) AS mp FROM bm GROUP BY 1, 2),
et AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT et.event_type, CAST(i AS BIGINT) AS register_idx
         FROM et, unnest(range(0, {1 << PCSA_P})) AS t(i))
SELECT g.event_type, g.register_idx,
  CAST(coalesce(agg.mp, 0) AS BIGINT) AS register_value
FROM grid g LEFT JOIN agg
  ON g.event_type = agg.event_type AND g.register_idx = agg.bucket
"""


# ---------------------------------------------------------------------------
# q34 — HyperMinHash register-exact build (hmh.h:355-366: register =
#        (lzc << r) | mantissa) through hmh_registers' portable path:
#        lzc = integer-exact rho of the 60-bit hash's low bits, mantissa =
#        an independent mod-prime hash's low r bits.  The float estimators
#        (Ertl-MLE cardinality, collision-corrected Jaccard) stay
#        pytest-gated; registers are the deterministic surface.
# ---------------------------------------------------------------------------

HMH_Q34_P = 6
HMH_Q34_RSIZE = 16  # r = 10 mantissa bits
HA3, HB3 = 1_664_525, 1_013_904_223
_VB34 = 60 - HMH_Q34_P
_R34 = HMH_Q34_RSIZE - 6


def q34_hmh_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.hyperminhash import hmh_registers

    e = _scan(spark, sf_dir, "events")
    h1 = (F.lit(HA1) * F.col("user_id") + F.lit(HB1)) % F.lit(HP30)
    h2 = (F.lit(HA2) * F.col("user_id") + F.lit(HB2)) % F.lit(HP30)
    h60 = h1 * F.lit(1 << 30) + h2
    rem2 = (F.lit(HA3) * F.col("user_id") + F.lit(HB3)) % F.lit(HP30)
    elems = e.select(
        F.col("event_type").alias("g"), h60.alias("h"), rem2.alias("r2")
    )
    regs = hmh_registers(
        elems, "g", "h",
        p=HMH_Q34_P, rsize=HMH_Q34_RSIZE, hash_bits=60, rem_col="r2",
    )
    return regs.select(
        F.col("g").alias("event_type"),
        F.posexplode("regs").alias("register_idx", "register_value"),
    ).select(
        "event_type",
        F.col("register_idx").cast("long").alias("register_idx"),
        F.col("register_value").cast("long").alias("register_value"),
    )


Q34_SQL = f"""
WITH h AS (
  SELECT event_type,
    (({HA1} * user_id + {HB1}) % {HP30}) * {1 << 30}
      + (({HA2} * user_id + {HB2}) % {HP30}) AS h60,
    (({HA3} * user_id + {HB3}) % {HP30}) % {1 << _R34} AS rem2
  FROM events
), rr AS (
  SELECT event_type, h60 // {1 << _VB34} AS bucket, h60 % {1 << _VB34} AS v,
    rem2
  FROM h
), rh AS (
  SELECT event_type, bucket,
    (CASE WHEN v = 0 THEN {_VB34 + 1}
          WHEN v >= {1 << 32}
            THEN {_VB34 - 32} - CAST(floor(log2(v // {1 << 32})) AS BIGINT)
          ELSE {_VB34} - CAST(floor(log2(v)) AS BIGINT) END)
      * {1 << _R34} + rem2 AS reg
  FROM rr
), mx AS (SELECT event_type, bucket, max(reg) AS mr FROM rh GROUP BY 1, 2),
et AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT et.event_type, CAST(i AS BIGINT) AS register_idx
         FROM et, unnest(range(0, {1 << HMH_Q34_P})) AS t(i))
SELECT g.event_type, g.register_idx,
  CAST(coalesce(mx.mr, 0) AS BIGINT) AS register_value
FROM grid g LEFT JOIN mx
  ON g.event_type = mx.event_type AND g.register_idx = mx.bucket
"""


# ---------------------------------------------------------------------------
# q35 — ShrivastavaHash sparse fixed-dim signatures (mh.h:1009-1177) through
#        operators/ann.shrivastava_registers_portable: register j = the
#        first support coordinate in sampling order j.  The portable
#        mod-prime time replaces WangHash ranks (same production/oracle
#        split as q25); support = coordinates with embedding > 0.
# ---------------------------------------------------------------------------

SHR_M, SHR_DIM = 16, 64


def _shr_time(d, j):
    # (d+1)*HA1 + (j+1)*HB1 + d*j*HA2 mod HP30 — all terms < 2^37, ANSI-safe
    return (
        (d + 1) * F.lit(HA1) + (j + 1) * F.lit(HB1) + d * j * F.lit(HA2)
    ) % F.lit(HP30)


def q35_shrivastava_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.ann import shrivastava_registers_portable

    e = _scan(spark, sf_dir, "embeddings")
    nz = F.filter(
        F.sequence(F.lit(0).cast("long"), F.lit(SHR_DIM - 1).cast("long")),
        lambda d: F.element_at("embedding", (d + 1).cast("int")) > 0,
    )
    sig = shrivastava_registers_portable(F.col("nz"), SHR_M, SHR_DIM, _shr_time)
    return (
        e.select("vec_id", nz.alias("nz"))
        .where(F.size("nz") > 0)
        .select("vec_id", F.posexplode(sig).alias("register_idx", "register_value"))
        .select(
            "vec_id",
            F.col("register_idx").cast("long").alias("register_idx"),
            F.col("register_value").cast("long").alias("register_value"),
        )
    )


Q35_SQL = f"""
WITH nz AS (
  SELECT vec_id,
         list_filter(range(0, {SHR_DIM}),
                     d -> embedding[CAST(d + 1 AS INTEGER)] > 0) AS nz
  FROM embeddings
), ex AS (
  SELECT vec_id, CAST(u.d AS BIGINT) AS d
  FROM nz, unnest(nz.nz) AS u(d)
  WHERE len(nz.nz) > 0
), keyed AS (
  SELECT ex.vec_id, CAST(t.j AS BIGINT) AS j,
         min((((ex.d + 1) * {HA1} + (CAST(t.j AS BIGINT) + 1) * {HB1}
               + ex.d * CAST(t.j AS BIGINT) * {HA2}) % {HP30})
             * {SHR_DIM} + ex.d) AS k
  FROM ex, unnest(range(0, {SHR_M})) AS t(j)
  GROUP BY ex.vec_id, t.j
)
SELECT vec_id, j AS register_idx, CAST(k % {SHR_DIM} AS BIGINT) AS register_value
FROM keyed
"""


# ---------------------------------------------------------------------------
# q36 — FinalRMinHash::tf_idf merge walk (mh.h:366-391): the weighted
#        Jaccard estimate over a bounded PREFIX of the signature union —
#        at most |sig_a| merge steps, stopping when either signature
#        exhausts.  Distinct from q26's full histogram intersection: this
#        is the reference's actual bottom-k sampling estimator.  Same
#        shared-minimizer candidates as q26 (never all-pairs); the
#        sequential walk is re-expressed set-wise (see
#        minhash.tfidf_walk_cols) and, in the oracle, as window-function
#        prefix conditions over the union in hash order.
# ---------------------------------------------------------------------------


def q36_tfidf_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.minhash import tfidf_walk_cols

    pairs = _counting_minimizer_pairs(spark, sf_dir)
    num, den = tfidf_walk_cols(F.col("_ma"), F.col("_mb"))
    return pairs.select(
        F.col("a").alias("a_doc"),
        F.col("b").alias("b_doc"),
        num.cast("long").alias("t_num"),
        den.cast("long").alias("t_den"),
    )


Q36_SQL = (
    SQL_DOC_SHINGLE_HASHES
    + f"""
, ex AS (SELECT doc_id, source, unnest(shingles) AS h FROM sh)
, cnts AS (SELECT doc_id, source, h, count(*) AS cnt
           FROM ex GROUP BY doc_id, source, h)
, rk AS (SELECT doc_id, source, h, cnt,
         row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn FROM cnts)
, mins AS (SELECT doc_id, source, h, cnt FROM rk WHERE rn <= {K_W})
, lens AS (SELECT doc_id, count(*) AS sz FROM mins GROUP BY doc_id)
, pairs AS (
  SELECT DISTINCT a.doc_id AS a_doc, b.doc_id AS b_doc
  FROM mins a JOIN mins b
    ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id)
-- union of both signatures per pair, in hash order = merge-walk order
, pu AS (
  SELECT p.a_doc, p.b_doc, m.h,
         max(CASE WHEN m.doc_id = p.a_doc THEN m.cnt END) AS wa,
         max(CASE WHEN m.doc_id = p.b_doc THEN m.cnt END) AS wb
  FROM pairs p JOIN mins m ON m.doc_id = p.a_doc OR m.doc_id = p.b_doc
  GROUP BY p.a_doc, p.b_doc, m.h)
, w AS (
  SELECT pu.*,
    CASE WHEN wa IS NOT NULL THEN 1 ELSE 0 END AS ina,
    CASE WHEN wb IS NOT NULL THEN 1 ELSE 0 END AS inb,
    row_number() OVER (PARTITION BY a_doc, b_doc ORDER BY h) AS rn,
    sum(CASE WHEN wa IS NOT NULL THEN 1 ELSE 0 END)
      OVER (PARTITION BY a_doc, b_doc ORDER BY h) AS i1,
    sum(CASE WHEN wb IS NOT NULL THEN 1 ELSE 0 END)
      OVER (PARTITION BY a_doc, b_doc ORDER BY h) AS i2
  FROM pu)
-- mh.h:374-390 break happens AFTER accumulating, so element n is processed
-- iff the prefix BEFORE it (i1-ina, i2-inb, rn-1) had exhausted nothing
SELECT w.a_doc, w.b_doc,
  CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN least(wa, wb) ELSE 0 END)
       AS BIGINT) AS t_num,
  CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN greatest(wa, wb)
           ELSE coalesce(wa, wb) END) AS BIGINT) AS t_den
FROM w
JOIN lens la ON la.doc_id = w.a_doc
JOIN lens lb ON lb.doc_id = w.b_doc
WHERE (i1 - ina) < la.sz AND (i2 - inb) < lb.sz AND rn <= la.sz
GROUP BY w.a_doc, w.b_doc
"""
)


# ---------------------------------------------------------------------------
# q37 — approximate-counting Count-Min (pccm_t = ccmbase_t<PowerOfTwo>,
#        ccm.h:876 + update.h:35-83): the CM table with Morris log-domain
#        cells.  Registers are exact under the deterministic
#        expectation-matched encoding c(n) = floor(log2 n) + 1 (see
#        frequency.pccm_quantize_col); est_cell = 2^(c-1) is the
#        update.h:80-82 decode.  Same portable hash family as q27, so the
#        two rows differ only in the counter representation.
# ---------------------------------------------------------------------------

PCCM_BITS = 8


def q37_pccm_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.frequency import pccm_est_col, pccm_sketch

    e = _scan(spark, sf_dir, "events").select("event_type")
    pc = pccm_sketch(e, "event_type", CM_D, CM_W, PCCM_BITS, hash_fn=_cm_hash)
    return pc.select(
        F.col("seed").cast("long").alias("seed"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("c").alias("c"),
        pccm_est_col(F.col("c")).alias("est_cell"),
    )


Q37_SQL = f"""
WITH k AS (SELECT event_type, {_Q27_TH} AS th FROM events),
cells AS (SELECT t.s AS seed,
            ((th * {POLY_B} + t.s * 7919 + 13) % {POLY_P}) % {CM_W} AS bucket,
            count(*) AS cnt
          FROM k, unnest(range(0, {CM_D})) AS t(s) GROUP BY 1, 2),
q AS (SELECT seed, bucket,
        least(CAST(length(bin(CAST(cnt AS BIGINT))) AS BIGINT),
              {(1 << PCCM_BITS) - 1}) AS c
      FROM cells WHERE cnt > 0)
SELECT CAST(seed AS BIGINT) AS seed, CAST(bucket AS BIGINT) AS bucket,
  c, CAST(power(2, c - 1) AS BIGINT) AS est_cell
FROM q
"""


# ---------------------------------------------------------------------------
# q38 — ntcard coverage-counter table (Card/VecCard, mult.h:178-337)
#        through operators/ntcard.ntcard_buckets over the portable 60-bit
#        hash: keep h iff its top NT_P bits are zero (2^-p sampling),
#        selector bit = bit (60-NT_P-1), bucket = low NT_R bits
#        (+ 2^NT_R for the second half), counters saturate at NT_MAXCNT.
#        Register-exact — saturating unit increments commute with
#        clamping the exact count.  The report() recursion (estimate) is
#        pytest-gated (tests/test_ntcard_lpcqf_vac.py) — a recursive
#        convolution has no portable SQL form.
# ---------------------------------------------------------------------------

NT_R, NT_P, NT_MAXCNT = 6, 2, 7


def q38_ntcard_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.ntcard import ntcard_buckets

    e = _scan(spark, sf_dir, "events")
    h1 = (F.lit(HA1) * F.col("user_id") + F.lit(HB1)) % F.lit(HP30)
    h2 = (F.lit(HA2) * F.col("user_id") + F.lit(HB2)) % F.lit(HP30)
    h60 = h1 * F.lit(1 << 30) + h2
    elems = e.select(F.col("event_type").alias("g"), h60.alias("h"))
    b = ntcard_buckets(
        elems, "g", "h", r=NT_R, p=NT_P, maxcnt=NT_MAXCNT, hash_bits=60
    )
    return b.select(
        F.col("g").alias("event_type"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("cnt").alias("cnt"),
    )


Q38_SQL = f"""
WITH h AS (
  SELECT event_type,
    (({HA1} * user_id + {HB1}) % {HP30}) * {1 << 30}
      + (({HA2} * user_id + {HB2}) % {HP30}) AS h60
  FROM events
), k AS (
  SELECT event_type,
    (h60 % {1 << NT_R})
      + ((h60 // {1 << (60 - NT_P - 1)}) % 2) * {1 << NT_R} AS bucket
  FROM h WHERE h60 // {1 << (60 - NT_P)} = 0
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
  CAST(least(count(*), {NT_MAXCNT}) AS BIGINT) AS cnt
FROM k GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q39 — LPCQF point-frequency estimates (lpcqf.h:129-520) through the real
#        lpcqf_sketch / lpcqf_query operators: cells keyed by
#        (h mod LP_NREGS, h & (2^LP_SIGBITS - 1)) — LP_NREGS is prime so
#        bucket and signature bits stay independent — probed for every
#        customer key; absent cell -> 0 (count_estimate, lpcqf.h:342-370).
#        Estimates upper-bound true counts (sig-collision false positives
#        are the structure's contract, preserved exactly).
# ---------------------------------------------------------------------------

LP_NREGS, LP_SIGBITS = 61, 4


def _lp_hash(key: Column) -> Column:
    h1 = (F.lit(HA1) * key + F.lit(HB1)) % F.lit(HP30)
    h2 = (F.lit(HA2) * key + F.lit(HB2)) % F.lit(HP30)
    return h1 * F.lit(1 << 30) + h2


_LP_SQL_H = (
    f"(({HA1} * {{key}} + {HB1}) % {HP30}) * {1 << 30}"
    f" + (({HA2} * {{key}} + {HB2}) % {HP30})"
)


def q39_lpcqf_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.frequency import lpcqf_query, lpcqf_sketch

    o = _scan(spark, sf_dir, "orders").select("o_custkey")
    c = _scan(spark, sf_dir, "customer").select("c_custkey")
    sk = lpcqf_sketch(
        o, "o_custkey", nregs=LP_NREGS, sigbits=LP_SIGBITS, hash_fn=_lp_hash
    )
    est = lpcqf_query(
        sk, c, "c_custkey", nregs=LP_NREGS, sigbits=LP_SIGBITS, hash_fn=_lp_hash
    )
    return est.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("est_count").alias("est_count"),
    )


Q39_SQL = f"""
WITH oh AS (SELECT {_LP_SQL_H.format(key="o_custkey")} AS h60 FROM orders),
cells AS (SELECT h60 % {LP_NREGS} AS bucket, h60 % {1 << LP_SIGBITS} AS sig,
            count(*) AS cnt
          FROM oh GROUP BY 1, 2),
ch AS (SELECT c_custkey, {_LP_SQL_H.format(key="c_custkey")} AS h60
       FROM customer)
SELECT CAST(ch.c_custkey AS BIGINT) AS c_custkey,
  CAST(coalesce(cells.cnt, 0) AS BIGINT) AS est_count
FROM ch LEFT JOIN cells
  ON ch.h60 % {LP_NREGS} = cells.bucket
 AND ch.h60 % {1 << LP_SIGBITS} = cells.sig
"""


# ---------------------------------------------------------------------------
# q40 — VACSketch cascade profile (vac.h:16-125) through operators/vac:
#        level i receives a 2^-i sample of OCCURRENCES (draw = portable
#        hash of the unique event_id, replacing the reference's
#        thread-local RNG with a deterministic per-occurrence draw — same
#        uniform law, reproducible/mergeable); per (event_type, level) the
#        exact-distinct base sketch (vac_distinct).  The HLL instantiation
#        (HVAC, vac.h:118) is pytest-gated register-exact.
# ---------------------------------------------------------------------------

VAC_N = 6


def q40_vac_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketch_spark.operators.vac import vac_distinct

    e = _scan(spark, sf_dir, "events")
    draw = (
        (F.lit(HA1) * F.col("event_id") + F.lit(HB1)) % F.lit(HP30)
    ) * F.lit(1 << 30) + (
        (F.lit(HA2) * F.col("event_id") + F.lit(HB2)) % F.lit(HP30)
    )
    elems = e.select("event_type", "user_id", draw.alias("u"))
    prof = vac_distinct(
        elems, "event_type", "user_id", "u", n=VAC_N, hash_bits=60
    )
    return prof.select(
        F.col("g").alias("event_type"),
        F.col("level").cast("long").alias("level"),
        F.col("n_occurrences"),
        F.col("n_distinct"),
    )


Q40_SQL = f"""
WITH h AS (
  SELECT event_type, user_id,
    (({HA1} * event_id + {HB1}) % {HP30}) * {1 << 30}
      + (({HA2} * event_id + {HB2}) % {HP30}) AS u
  FROM events
), lv AS (
  SELECT event_type, user_id, CAST(t.i AS BIGINT) AS level
  FROM h, unnest(range(0, {VAC_N})) AS t(i)
  WHERE u % (1 << t.i) = 0
)
SELECT event_type, level,
  CAST(count(*) AS BIGINT) AS n_occurrences,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM lv GROUP BY 1, 2
"""


def q41_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming surface as an oracle row (VERDICT r4 #6):
    replay the events table as a deterministic file stream (one parquet
    file per micro-batch, so the replay is a genuine multi-batch run),
    drive the watermarked `windowed_counts` operator to a memory sink in
    COMPLETE output mode with an availableNow trigger, and return the
    final window table.  Batch-equivalence is the contract: complete-mode
    final state is the full aggregation over every micro-batch, so it
    must equal the same tumbling-window aggregation computed in one batch
    — which is exactly what the DuckDB oracle computes.

    Timezone proofing: events.ts is TIMESTAMP_NTZ; watermarks require an
    instant, so it is cast through the session timezone and the window
    start is rendered BACK to the wall clock with date_format — a
    round-trip that is exact for 15-minute tumbling windows under every
    real timezone (all offsets are multiples of 15 minutes), so the
    result matches DuckDB's wall-clock time_bucket no matter which
    session timezone the driver harness runs with."""
    from sketch_spark.streaming.topk import windowed_counts

    path = f"{sf_dir}/events.parquet"
    batch = spark.read.parquet(path)
    # FileStreamSource needs a DIRECTORY of files, and a multi-file layout
    # is what makes the replay a real multi-batch run: stage a 4-file copy
    # once per (session, source content).  Complete-mode final state is
    # content-only, so the file split cannot affect the result.
    #
    # The stage dir must be EXECUTOR-VISIBLE on a cluster (VERDICT r5
    # what's-wrong #2 — a driver-local tempdir is the same bug class as
    # the r4 CC barrier): it defaults to a sibling of sf_dir (shared
    # storage by construction — executors already read the parquet from
    # there), is overridable with SPARK_GRAFT_STAGE_DIR, and only falls
    # back to the driver tempdir when neither is writable (correct on
    # local[N] only).  The staging tag hashes the source FILE LISTING
    # (paths + sizes + mtimes, r5 ADVICE #3), so a regenerated
    # events.parquet re-stages instead of replaying stale data.
    import hashlib
    import os
    import tempfile

    listing = []
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, f))
            listing.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        listing.append(f":{st.st_size}:{st.st_mtime_ns}")
    tag = hashlib.sha256(
        "\n".join([path] + listing).encode()
    ).hexdigest()[:12]
    root = os.environ.get("SPARK_GRAFT_STAGE_DIR")
    if root is None:
        cand = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "_stage")
        root = cand if os.access(os.path.dirname(cand) or "/", os.W_OK) else None
    if root is None:
        root = tempfile.gettempdir()  # local[N] fallback only
    stage_dir = os.path.join(root, f"q41_events_{tag}")
    if not os.path.exists(os.path.join(stage_dir, "_SUCCESS")):
        batch.repartition(4).write.mode("overwrite").parquet(stage_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    wc = windowed_counts(
        stream, "event_type", "ts", window="15 minutes", watermark="30 minutes"
    )
    sink = "q41_stream_sink"
    try:
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    q = (
        wc.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        F.date_format("start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        F.col("event_type"),
        F.col("cnt").cast("long").alias("cnt"),
    )


Q41_SQL = """
SELECT strftime(time_bucket(INTERVAL '15 minutes', ts), '%Y-%m-%d %H:%M:%S')
         AS win_start,
       event_type,
       CAST(count(*) AS BIGINT) AS cnt
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "q01_fingerprint_groups": q01_fingerprint_groups,
    "q02_shingle_topk": q02_shingle_topk,
    "q03_bottomk": q03_bottomk,
    "q04_kmv_pairs": q04_kmv_pairs,
    "q05_oneperm_registers": q05_oneperm_registers,
    "q06_band_buckets": q06_band_buckets,
    "q07_simhash": q07_simhash,
    "q08_hamming_pairs": q08_hamming_pairs,
    "q09_topk_event_types": q09_topk_event_types,
    "q10_distinct_users": q10_distinct_users,
    "q11_mod_sample": q11_mod_sample,
    "q12_text_quality": q12_text_quality,
    "q13_langid": q13_langid,
    "q14_order_part_overlap": q14_order_part_overlap,
    "q15_ngram_jaccard": q15_ngram_jaccard,
    "q16_ann_topk": q16_ann_topk,
    "q17_user_sessions": q17_user_sessions,
    "q18_lineitem_agg": q18_lineitem_agg,
    "q19_cc_clusters": q19_cc_clusters,
    "q20_containment_pairs": q20_containment_pairs,
    "q21_orders_with_heavy_lineitem": q21_orders_with_heavy_lineitem,
    "q22_customers_without_orders": q22_customers_without_orders,
    "q23_hll_registers": q23_hll_registers,
    "q24_median_quantity": q24_median_quantity,
    "q25_densified_registers": q25_densified_registers,
    "q26_weighted_overlap": q26_weighted_overlap,
    "q27_cm_estimates": q27_cm_estimates,
    "q28_bloom_probe": q28_bloom_probe,
    "q29_compressed_registers": q29_compressed_registers,
    "q30_srp_signs": q30_srp_signs,
    "q31_join_size_cs": q31_join_size_cs,
    "q32_bottomk_union_walk": q32_bottomk_union_walk,
    "q33_pcsa_registers": q33_pcsa_registers,
    "q34_hmh_registers": q34_hmh_registers,
    "q35_shrivastava_registers": q35_shrivastava_registers,
    "q36_tfidf_walk": q36_tfidf_walk,
    "q37_pccm_registers": q37_pccm_registers,
    "q38_ntcard_buckets": q38_ntcard_buckets,
    "q39_lpcqf_counts": q39_lpcqf_counts,
    "q40_vac_cascade": q40_vac_cascade,
    "q41_streaming_windowed_counts": q41_streaming_windowed_counts,
}

ORACLES = {
    "q01_fingerprint_groups": Q01_SQL,
    "q02_shingle_topk": Q02_SQL,
    "q03_bottomk": Q03_SQL,
    "q04_kmv_pairs": Q04_SQL,
    "q05_oneperm_registers": Q05_SQL,
    "q06_band_buckets": Q06_SQL,
    "q07_simhash": Q07_SQL,
    "q08_hamming_pairs": Q08_SQL,
    "q09_topk_event_types": Q09_SQL,
    "q10_distinct_users": Q10_SQL,
    "q11_mod_sample": Q11_SQL,
    "q12_text_quality": Q12_SQL,
    "q13_langid": Q13_SQL,
    "q14_order_part_overlap": Q14_SQL,
    "q15_ngram_jaccard": Q15_SQL,
    "q16_ann_topk": Q16_SQL,
    "q17_user_sessions": Q17_SQL,
    "q18_lineitem_agg": Q18_SQL,
    "q19_cc_clusters": Q19_SQL,
    "q20_containment_pairs": Q20_SQL,
    "q21_orders_with_heavy_lineitem": Q21_SQL,
    "q22_customers_without_orders": Q22_SQL,
    "q23_hll_registers": Q23_SQL,
    "q24_median_quantity": Q24_SQL,
    "q25_densified_registers": Q25_SQL,
    "q26_weighted_overlap": Q26_SQL,
    "q27_cm_estimates": Q27_SQL,
    "q28_bloom_probe": Q28_SQL,
    "q29_compressed_registers": Q29_SQL,
    "q30_srp_signs": Q30_SQL,
    "q31_join_size_cs": Q31_SQL,
    "q32_bottomk_union_walk": Q32_SQL,
    "q33_pcsa_registers": Q33_SQL,
    "q34_hmh_registers": Q34_SQL,
    "q35_shrivastava_registers": Q35_SQL,
    "q36_tfidf_walk": Q36_SQL,
    "q37_pccm_registers": Q37_SQL,
    "q38_ntcard_buckets": Q38_SQL,
    "q39_lpcqf_counts": Q39_SQL,
    "q40_vac_cascade": Q40_SQL,
    "q41_streaming_windowed_counts": Q41_SQL,
}

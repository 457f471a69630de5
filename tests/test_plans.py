"""Physical-plan quality gates: pushdown, pruning, broadcast, codegen.

The 100 TB contract is about plans, not just answers — these tests pin the
properties that matter at scale so regressions show up in CI."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").where(F.col("vec_id") < 10)
    plan = _formatted(emb)
    assert "PushedFilters" in plan
    assert "LessThan(vec_id,10)" in plan.replace(" ", "").replace("vec_id,10", "vec_id,10")


def test_column_pruning_in_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    plan = _formatted(docs)
    # ReadSchema must not include text (the widest column)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "text" not in read_schema[0]


def test_signature_agg_is_partial_final_hash_agg(spark):
    from sketch_spark.operators import minhash

    df = spark.createDataFrame([("a", i * 7919) for i in range(100)], "conv_id string, h long")
    sig = minhash.one_perm_signature(df, p=4)
    plan = _plan(sig)
    # two-level aggregation with map-side partial (HashAggregate x4:
    # partial+final for each groupBy level)
    assert plan.count("HashAggregate") >= 2
    assert "partial_min" in plan or "partial" in plan.lower()


def test_dedup_shingle_path_has_no_python_udf(spark):
    from sketch_spark.operators import transcripts

    t = spark.createDataFrame(
        [("c", 0, "user", "a b c d", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    conv = transcripts.conv_table(t)
    plan = _plan(conv)
    assert "Python" not in plan  # no BatchEvalPython/ArrowEvalPython stages
    assert "xxhash64" in plan.lower() or "xxhash" in plan.lower()


def test_candidate_pairs_no_shuffle_joins(spark):
    """The LSH candidate stage must never shuffle-join the band table: the
    fast path is a single (band, key) aggregation; the hot-bucket guard may
    only add BROADCAST joins against the (tiny, map-side-combined) census
    of over-threshold buckets.  SortMergeJoin/ShuffledHashJoin of the band
    table is the 3-shuffle census-join formulation that bounded measured
    scaling — keep it dead."""
    from sketch_spark.operators import lsh

    bands = spark.createDataFrame(
        [(f"c{i}", b, i % 3) for i in range(12) for b in range(2)],
        "conv_id string, band int, key long",
    )
    plan = _plan(lsh.candidate_pairs(bands))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # every join present is a broadcast of the hot census
    assert plan.count("Join") == plan.count("BroadcastHashJoin")


def test_substring_candidates_no_shuffle_joins(spark):
    from sketch_spark.operators import suffix

    fps = spark.createDataFrame(
        [(f"c{i}", i % 3, i) for i in range(12)],
        "conv_id string, fp long, pos int",
    )
    plan = _plan(suffix.substring_candidate_pairs(fps))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("Join") == plan.count("BroadcastHashJoin")


def test_exact_verify_uses_native_array_intersect(spark):
    from sketch_spark.operators.dedup import DedupConfig, DedupPipeline
    # plan-shape check only: build the verify expression over tiny data
    df = spark.createDataFrame(
        [("a", [1, 2]), ("b", [2, 3])], "conv_id string, shingles array<long>"
    )
    j = df.alias("x").crossJoin(df.alias("y")).select(
        F.size(F.array_intersect("x.shingles", "y.shingles")).alias("i")
    )
    assert "array_intersect" in _plan(j)


def test_overlap_count_join_counts_before_exchange(spark):
    """The inverted-index overlap join must fold matched rows into partial
    counts INSIDE the join's pipeline — the Σ df² matched rows may never
    cross an exchange (q15/q20's 100-TB contract)."""
    from sketch_spark.operators.setsim import overlap_count_join

    df = spark.createDataFrame(
        [(1, "x", [1, 2, 3]), (2, "x", [2, 3, 4]), (3, "y", [1, 2, 3])],
        "id long, blk string, es array<long>",
    )
    plan = _plan(overlap_count_join(df, "id", "es", 2, ("blk",)))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    # the pair-count aggregation's exchange reads partial counts, not raw
    # matched rows: partial agg appears below the (a, b) exchange
    pc = plan.index("partial_count")
    ex = plan.index("Exchange hashpartitioning(_id")
    assert ex < pc  # final-agg exchange is printed above the partial agg


def test_q14_has_no_allpairs_block_join(spark):
    from sketch_spark.plans import entry_queries as EQ

    plan = _plan(EQ.QUERIES["q14_order_part_overlap"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_q36_walk_is_jvm_only_equijoin(spark):
    """q36's bounded tf_idf walk must stay a candidate equi-join (never
    all-pairs) with the walk itself a JVM expression — no Python UDF and
    no CartesianProduct anywhere in the plan."""
    from sketch_spark.plans import entry_queries as EQ

    plan = _plan(EQ.QUERIES["q36_tfidf_walk"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q37_pccm_cells_aggregate_partially(spark):
    """pccm registers are a monoid count until the quantize projection, so
    the d*N exploded rows must partial-aggregate before the exchange —
    the property that keeps the sketch build one-pass at 10^12 rows."""
    from sketch_spark.plans import entry_queries as EQ

    plan = _plan(EQ.QUERIES["q37_pccm_registers"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_q38_ntcard_sampling_filter_precedes_shuffle(spark):
    """ntcard's whole point at 10^12 rows: the 2^-p prefix filter runs
    map-side BEFORE the bucket groupBy, so the exchange carries only the
    sampled stream; counts partial-aggregate; no Python anywhere."""
    from sketch_spark.plans import entry_queries as EQ

    plan = _plan(EQ.QUERIES["q38_ntcard_buckets"](spark, SF))
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the filter must sit under the exchange (map side), not above it
    exch = plan.index("Exchange")
    assert "Filter" in plan[exch:], "sampling filter missing"
    assert plan.rindex("Filter") > exch  # deepest (printed last) = below


def test_q39_lpcqf_probe_broadcasts_sketch(spark):
    """The LPCQF cell table is bounded by nregs — the probe join must
    broadcast it, never shuffle the (unbounded) key side."""
    from sketch_spark.plans import entry_queries as EQ

    plan = _plan(EQ.QUERIES["q39_lpcqf_counts"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q40_vac_levels_stay_jvm_and_partial_agg(spark):
    """The cascade explode+filter is pure codegen (no Python), and the
    per-(group, level) counts partial-aggregate before the exchange."""
    from sketch_spark.plans import entry_queries as EQ

    plan = _plan(EQ.QUERIES["q40_vac_cascade"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan

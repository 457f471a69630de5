"""Replays the driver's correctness gate locally: every queries() entry must
match its oracle_sql() on DuckDB (row count + schema + values)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from tests.oracle_compare import compare, duck_connect  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF)
    yield con
    con.close()


def test_entry_smoke(spark):
    """entry() runs DedupPipeline over the sf0.001 documents; its
    doc->cluster partition shape is pinned (500 docs, 476 clusters, 21 of
    them with more than one doc), with ANSI off and on (a driver-owned
    Spark 4 session defaults ANSI on)."""
    from collections import Counter

    for ansi in ("false", "true"):
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        try:
            df = E.entry(spark)
            rows = df.collect()
        finally:
            spark.conf.set("spark.sql.ansi.enabled", "false")
        assert df.columns == [
            "doc_id", "cluster_id", "canonical_doc_id", "cluster_size"
        ]
        sizes = Counter(r.cluster_id for r in rows)
        assert len(rows) == 500, ansi
        assert len(sizes) == 476, ansi
        assert sum(1 for n in sizes.values() if n > 1) == 21, ansi
        assert all(r.cluster_size == sizes[r.cluster_id] for r in rows)
        assert all(r.canonical_doc_id == r.cluster_id for r in rows)


def test_poly_docs_matches_column_folds(spark):
    """The vectorized-Python hash memo (_poly_docs) must be value-identical
    to the independent pure-Column fold implementations."""
    from pyspark.sql import functions as F

    from sketch_spark.functions import text as T
    from sketch_spark.plans import entry_queries as EQ

    got = {
        r.doc_id: (list(r.shingles), list(r.h60), r.fp)
        for r in EQ._poly_docs(spark, SF).collect()
    }
    col_sh = {
        r.doc_id: list(r.s)
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", T.poly_shingle_hashes_col(F.col("text"), 3).alias("s"))
        .collect()
    }
    col_h60 = {
        r.doc_id: list(r.h60) for r in EQ._build_h60_expr(spark, SF).collect()
    }
    col_fp = {
        r.doc_id: r.fp
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", T.fingerprint_col(F.col("text")).alias("fp"))
        .collect()
    }
    assert set(got) == set(col_sh) == set(col_h60) == set(col_fp)
    for d in got:
        assert got[d][0] == col_sh[d], d
        assert got[d][1] == col_h60[d], d
        assert got[d][2] == col_fp[d], d


def test_q41_stage_dir_from_shared_root(spark, tmp_path, monkeypatch):
    """The streaming replay's stage dir must derive from a configurable
    shared root (VERDICT r5 #2: a driver-local tempdir is invisible to
    executors on a real cluster), and the staging tag must track source
    content (file sizes/mtimes), not just the path."""
    from sketch_spark.plans import entry_queries as EQ

    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path))
    n = EQ.QUERIES["q41_streaming_windowed_counts"](spark, SF).count()
    staged = [d for d in os.listdir(tmp_path) if d.startswith("q41_events_")]
    assert n > 0 and len(staged) == 1
    assert os.path.exists(os.path.join(tmp_path, staged[0], "_SUCCESS"))


def test_queries_are_ansi_safe(spark):
    """The driver owns its session and Spark 4 defaults ANSI on; every
    queries() plan must be overflow-free under strict arithmetic (mod-prime
    folds, bit ops, bounded products only).  The memo is cleared so plans
    re-build under the strict conf."""
    from sketch_spark.plans import entry_queries as EQ

    for df in EQ._MEMO.values():
        df.unpersist()
    EQ._MEMO.clear()
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for name, fn in E.queries().items():
            assert fn(spark, SF).count() >= 0, name
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        for df in EQ._MEMO.values():
            df.unpersist()
        EQ._MEMO.clear()


def test_memo_holds_live_application_only(spark, monkeypatch):
    """An entry memoized under another applicationId (a stopped session)
    is dropped when the live application stores its first entry, so the
    memo never outlives one SparkContext."""
    from sketch_spark.plans import entry_queries as EQ

    monkeypatch.setattr(EQ, "_MEMO", {})
    live = spark.sparkContext.applicationId
    stale = EQ._memo(("app-stopped", "t"), lambda: spark.range(3))
    fresh = EQ._memo((live, "t"), lambda: spark.range(3))
    try:
        assert list(EQ._MEMO) == [(live, "t")]
    finally:
        stale.unpersist()
        fresh.unpersist()


@pytest.mark.parametrize("name", sorted(E.queries().keys()))
def test_query_vs_oracle(spark, duck, name):
    fn = E.queries()[name]
    sql = E.oracle_sql().get(name)
    if sql is None:
        df = fn(spark, SF)
        assert df.count() >= 0
        return
    ok, msg = compare(fn(spark, SF), duck.execute(sql).df())
    assert ok, f"{name}: {msg}"

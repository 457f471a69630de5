"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: near-duplicate clustering of the sf0.001
                 documents table by the dedup pipeline (DedupPipeline from
                 the sig stage on, over word-3-gram shingles: one-perm
                 MinHash -> exact dups + LSH bands -> exact verify +
                 winnowing substrings -> connected components).
queries()      — operator registry (SURVEY.md §2 re-expressed relationally),
                 each paired with a DuckDB oracle in oracle_sql() using
                 engine-portable integer arithmetic.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(
    spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001"
) -> DataFrame:
    """Flagship query: dedup.document_clusters, which runs DedupPipeline
    over the documents table.  The driver calls entry(spark) and checks
    rows>0 (the default keeps that contract — sf_dir exists for deployment
    drivers like scripts/run_queries.py that point the flagship
    elsewhere)."""
    from sketch_spark.operators.dedup import document_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return document_clusters(docs)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from sketch_spark.plans.entry_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from sketch_spark.plans.entry_queries import ORACLES

    return dict(ORACLES)

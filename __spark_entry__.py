"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship smoke query; ``queries()`` — one entry per
implemented operator (SURVEY.md §2 driver-keys + scale extensions);
``oracle_sql()`` — DuckDB twins for the value-hash correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_pipeline2_0_spark.plans.registry import oracle_sql_map, query_map  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the document pipeline (detect → extract → normalize) over
    the sf0.001 documents corpus, summarized as the reference's
    items_by_type aggregate with the W1 total broadcast onto every row.

    Stable schema: (type string, n_records bigint, total_items bigint).
    """
    from pyspark.sql import functions as F

    from etl_pipeline2_0_spark.pipeline import count_by_type
    from etl_pipeline2_0_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("text").alias("content"),
    )
    by_type = count_by_type(spark, docs)
    total = by_type.agg(F.sum("n_records").alias("total_items"))
    return by_type.crossJoin(F.broadcast(total))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator; see plans/registry.py."""
    return query_map()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twins (identical column aliases)."""
    return oracle_sql_map()

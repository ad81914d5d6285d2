"""The end-to-end pipeline (reference ``ETLPipeline.run``, etl_pipeline.py:382-430).

  read (S1/S2) → detect (E1–E5) → extract (E6–E11) → schema report (A4)
  → normalize (P1–P3, U1, W1) → load (S5–S8)

Every caller goes through one detect → extract → union-by-name chain
(``_extracted``), in one of two forms:

- ``count_by_type`` is the lazy form for plan callers (registry queries,
  ``entry``, ``bench.py``): the reference's items_by_type aggregate as a
  ``(type, n_records)`` frame.  It runs no action, so the caller's own
  action plans the whole chain.
- ``run_batch`` is the materialized form for the CLI, the HTTP API and watch
  mode.  It owns the run's one persisted frame, the pre-drop union: the
  schema report with its per-type counts, the ordered rows or the sinks all
  read that cache, and every one of those actions finishes before
  ``run_batch`` unpersists it.

The records are counted once, by the schema report's aggregate: the W1
``total_items`` column is the sum of its per-type counts, attached as a
literal.

Unlike the reference (eager, single-threaded, one file at a time), every
stage here is a DataFrame transform over a *corpus* — one job processes a
directory of any size, partitioned by file.  A ``payloads`` run is the
exception: the request bounds its size, so its frame goes to one partition
before the persist, and the report and the ordered rows need no exchange.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline2_0_spark.operators.detect import detect_blocks
from etl_pipeline2_0_spark.operators.extract import KIND_ORDER, extract_records
from etl_pipeline2_0_spark.operators.partitioning import ensure_min_parallelism
from etl_pipeline2_0_spark.operators.normalize import (
    normalize_union,
    sorted_output,
    union_by_name,
)
from etl_pipeline2_0_spark.operators.schema_report import infer_schema_report
from etl_pipeline2_0_spark.sinks.load import load_outputs
from etl_pipeline2_0_spark.sources.documents import (
    documents_from_strings,
    read_documents,
)


def _extracted(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """detect → extract → union-by-name, before the P1 artifact drop (the
    frame the A4 schema report reads)."""
    detected = detect_blocks(docs)
    per_kind = extract_records(spark, detected)
    return union_by_name([per_kind[k] for k in KIND_ORDER])


def count_by_type(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """detect → extract → items_by_type (A2) as one lazy plan: one
    ``(type string, n_records bigint)`` row per record kind found in
    ``docs``, a ``(doc_id, content)`` frame.  No report, no sinks."""
    return (
        _extracted(spark, ensure_min_parallelism(docs))
        .groupBy("type")
        .agg(F.count(F.lit(1)).alias("n_records"))
    )


def run_batch(
    spark: SparkSession,
    input_path: str | None = None,
    payloads: list[str] | None = None,
    out_dir: str | None = None,
    use_rowstore: bool = False,
    docs: DataFrame | None = None,
) -> dict[str, Any]:
    """Entry points 1 (CLI batch), 3 (watch micro-batch) and 4 (HTTP payload)
    of SURVEY.md §3.

    Exactly one source: ``input_path`` (a directory of files), ``payloads``
    (in-memory strings) or ``docs`` (a ``(doc_id, content)`` frame).
    Returns ``{"normalized": DataFrame, "schema": report, "items_by_type":
    {...}}`` plus, with ``out_dir``, the ``"metadata"`` of the reference's
    output files written there.  A ``payloads`` run without ``out_dir`` also
    returns the ordered output ``"rows"``, collected from the cache: their
    size is bounded by the request.  File and ``docs`` sources never collect
    rows to the driver.  ``normalized`` stays lazy; an action on it re-runs
    the chain, because the cache is gone once ``run_batch`` returns.
    """
    start = datetime.now(timezone.utc)
    if payloads is not None:
        docs, source_name = documents_from_strings(spark, payloads), "<payload>"
    elif input_path is not None:
        docs = ensure_min_parallelism(read_documents(spark, input_path))
        source_name = input_path
    elif docs is not None:
        docs, source_name = ensure_min_parallelism(docs), "<documents>"
    else:
        raise ValueError("one of input_path / payloads / docs is required")

    pre_drop = _extracted(spark, docs)
    if payloads is not None:
        # The request bounds the rows: in one partition, the report's
        # groupBy and sorted_output's orderBy run with no exchange.
        pre_drop = pre_drop.coalesce(1)
    # MEMORY_AND_DISK: extracted records are far smaller than raw input,
    # but spillable if not.
    pre_drop = pre_drop.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        report, items_by_type = infer_schema_report(pre_drop)
        normalized = normalize_union(
            pre_drop, total_items=sum(items_by_type.values())
        )
        result: dict[str, Any] = {
            "normalized": normalized,
            "schema": report,
            "items_by_type": items_by_type,
        }
        if out_dir is not None:
            result["metadata"] = load_outputs(
                sorted_output(normalized),
                report,
                out_dir,
                source_name=source_name,
                items_by_type=items_by_type,
                start_time=start,
                use_rowstore=use_rowstore,
            )
        elif payloads is not None:
            result["rows"] = sorted_output(normalized).collect()
        return result
    finally:
        pre_drop.unpersist()

"""Normalization (reference operators P1–P3, U1/U2, W1, O1, F9 — SURVEY.md §2).

Reference behavior (citations into /root/reference):

- P1 artifact drop            etl_pipeline.py:227-230 — remove ``word_count``
  and ``title`` before normalization.
- U1/U2 union-by-name + fill  etl_pipeline.py:241-264 — per-type frames
  concatenated in fixed kind order; missing columns null-filled.
- W1 total_items              etl_pipeline.py:269-271 — every row carries the
  table's total row count.
- O1 kind ordering            etl_pipeline.py:242-258 — html→json→text→media.
- P3 column reorder           etl_pipeline.py:273-277 — ``type, source_index,
  total_items`` first, remaining columns sorted lexicographically.
- F9 coercion                 etl_pipeline.py:279-283 — ``total_items`` forced
  to integer with nulls → 0.

Scale notes:

- ``unionByName(allowMissingColumns=True)`` is the exact Spark primitive for
  the reference's group-by-type-then-concat strategy; the null fill is free.
- ``total_items`` is counted once: the A4 schema report's one aggregate
  (grouped by ``type``) already yields every record kind's count, and the
  caller passes their sum in, so ``normalize_union`` attaches a literal.
  The table is never counted a second time, and never with
  ``count(*) OVER ()`` — a global window collapses the whole table into a
  single partition, which is exactly the anti-pattern that dies at 100 TB.
- Deliberately NOT reproduced: the reference's cross-file record-accumulation
  bug (etl_pipeline.py:26 list never cleared across runs — SURVEY.md §2.9);
  each ``normalize_union`` call is a pure function of its inputs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline2_0_spark.operators.extract import KIND_ORDER

ARTIFACT_COLUMNS = ["word_count", "title"]  # P1
CORE_COLUMNS = ["type", "source_index", "total_items"]  # P3 fixed prefix


def union_by_name(frames: list[DataFrame]) -> DataFrame:
    """U1/U2: union heterogeneous frames, null-filling missing columns."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def kind_rank(col):
    """O1: numeric rank of the fixed kind order html→json→text→media."""
    order = F.array(*[F.lit(k) for k in KIND_ORDER])
    return F.array_position(order, col)


def normalize_union(unioned: DataFrame, total_items: int) -> DataFrame:
    """P1 → W1/F9 → O1/P3: the reference's ``normalize`` stage over the
    union-by-name (U1) of the per-kind record frames.

    ``total_items`` is the row count of ``unioned``, which the caller has
    already taken (the schema report's per-type counts); every row carries
    it as a bigint literal (W1, and F9 by construction: never null).

    Produces the single rectangular table with the provenance columns
    ``doc_id``, ``ordinal``, universal columns ``type``, ``source_index``,
    ``total_items`` and lexicographically-sorted data columns.  The P1
    artifact columns are dropped after the union, so the schema report can
    read the same pre-drop frame (dropping an absent column is a no-op).
    Output row order is only meaningful via the
    ``_kind_rank`` / ``ordinal`` sort keys (Spark tables are unordered);
    ``sorted_output`` applies the reference's display ordering when a
    deterministic order is required (demo CSV, goldens).
    """
    unioned = unioned.drop(*ARTIFACT_COLUMNS)  # P1
    with_total = unioned.withColumn(
        "total_items", F.lit(total_items).cast("bigint")
    )
    rest = sorted(
        c
        for c in with_total.columns
        if c not in set(CORE_COLUMNS) | {"doc_id", "ordinal"}
    )  # P3: lexicographic data columns
    # Backticks: a flattened JSON key may contain a dot (``user.id``), which
    # an unquoted name would resolve as a struct path.
    return with_total.select(
        *[F.col(f"`{c}`") for c in ("doc_id", "ordinal", *CORE_COLUMNS, *rest)]
    )


def sorted_output(normalized: DataFrame) -> DataFrame:
    """O1 display ordering: kind order, then per-kind detection ordinal.

    Drops the provenance columns ``doc_id`` and ``ordinal``.
    """
    return normalized.orderBy(
        "doc_id", kind_rank(F.col("type")), F.col("ordinal")
    ).drop("doc_id", "ordinal")

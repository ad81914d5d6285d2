"""Dynamic schema report (reference operator A4 + S6, SURVEY.md §2.4).

Reference behavior (etl_pipeline.py:197-218): for every field observed across
the extracted records, report ``{'type': [observed type names], 'nullable':
bool, 'present_in': int}``.  The report is computed *before* the artifact
columns are dropped (etl_pipeline.py:227-230 runs after 197-218), so
``title``/``word_count`` appear in the schema file but not the output table —
a quirk we reproduce.

Spark-first design: one aggregate pass over the pre-drop union, grouped by
``type`` — ``count(col)`` per column for ``present_in``, ``count(*) >
count(col)`` for ``nullable``, ``count(*)`` per group for the reference's
``items_by_type`` (A2); map-side partial aggregation, one row per record kind
collected.

Documented divergence (SURVEY.md §7 wrinkle 4 + §1.2): the reference records
the multiset of Python runtime types per field (a field seen as both ``int``
and ``str`` lists both) because it never resolves types.  Spark's JSON
inference *widens* conflicting types (→ string), so this report lists the
resolved Spark type, named with the closest Python type name.  A key that is
present with an explicit JSON ``null`` is counted as absent here (``from_json``
maps both to SQL NULL); the reference counts it present.  Both divergences
only matter for pathological inputs and are pinned by tests.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TYPE_NAMES: dict[type, str] = {
    T.StringType: "str",
    T.LongType: "int",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.DoubleType: "float",
    T.FloatType: "float",
    T.BooleanType: "bool",
    T.TimestampType: "datetime",
    T.DateType: "date",
    T.NullType: "NoneType",
}


def _python_type_name(dt: T.DataType) -> str:
    if isinstance(dt, T.ArrayType):
        return "list"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "dict"
    if isinstance(dt, T.DecimalType):
        return "float"
    return _TYPE_NAMES.get(type(dt), dt.simpleString())


def infer_schema_report(
    pre_drop_union: DataFrame, exclude: tuple[str, ...] = ("doc_id", "ordinal")
) -> tuple[dict[str, dict[str, Any]], dict[str, int]]:
    """A4: per-field ``{'type': [...], 'nullable': bool, 'present_in': int}``,
    and the A2 per-type record counts (``items_by_type``).

    ``pre_drop_union`` is the union of the per-kind record frames *before*
    the P1 artifact drop, matching the reference's computation point.
    One aggregation job grouped by ``type``; the result is one small row per
    record kind, summed on the driver.
    """
    fields = [f for f in pre_drop_union.schema.fields if f.name not in exclude]
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, f in enumerate(fields):
        aggs.append(F.count(F.col(f"`{f.name}`")).alias(f"p__{i}"))
    rows = pre_drop_union.groupBy("type").agg(*aggs).collect()
    items_by_type = {r["type"]: r["__total"] for r in rows}
    total = sum(items_by_type.values())
    report: dict[str, dict[str, Any]] = {}
    for i, f in enumerate(fields):
        present = sum(r[f"p__{i}"] for r in rows)
        report[f.name] = {
            "type": [_python_type_name(f.dataType)],
            "nullable": present < total,
            "present_in": present,
        }
    return report, items_by_type


def frontend_type_tags(df: DataFrame) -> dict[str, str]:
    """API-layer type tags (app.py:79-94): per-column categorical tag for a
    frontend — ``array`` / ``boolean`` / ``number`` / ``datetime`` /
    ``string`` — derived from the Spark schema instead of element-wise
    pandas introspection."""
    tags: dict[str, str] = {}
    for f in df.schema.fields:
        dt = f.dataType
        if isinstance(dt, T.ArrayType):
            tags[f.name] = "array"
        elif isinstance(dt, T.BooleanType):
            tags[f.name] = "boolean"
        elif isinstance(dt, (T.NumericType,)):
            tags[f.name] = "number"
        elif isinstance(dt, (T.TimestampType, T.DateType)):
            tags[f.name] = "datetime"
        else:
            tags[f.name] = "string"
    return tags

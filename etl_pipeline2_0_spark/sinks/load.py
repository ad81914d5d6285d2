"""Sinks (reference operators S5–S8, SURVEY.md §2.1).

Reference behavior (citations into /root/reference):

- S5 CSV sink       etl_pipeline.py:289-292 — normalized table → CSV, header.
- S6 schema JSON    etl_pipeline.py:294-298 — inferred schema dict → JSON.
- S7 metadata JSON  etl_pipeline.py:300-306 — start/end timestamps, filename,
  total_items, items_by_type.
- S8 row store      etl_pipeline.py:320-380 — two SQLite tables,
  ``processed_data`` (one JSON-serialized row per record) and ``schemas``.

Spark mapping: CSV via the native writer (quoting rules of the reference's
browser export, S9, are the CSV writer's defaults); the row store is
partitioned **parquet** with the same two-table layout and
``to_json(struct(*))`` reproducing the row-as-JSON-blob semantics
(etl_pipeline.py:360) — Spark-SQL-queryable, no 2 GB SQLite ceiling.  The
CSV is coalesced to one part file, the reference's single ``cleaned_output``
file; the row store's writes stay partitioned.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, MapType, StringType, StructType


def _repr_str_elem(x: Column) -> Column:
    """Python ``repr`` of one string list element: backslashes escaped;
    double-quoted iff the value contains a single quote and no double quote
    (CPython's rule), else single-quoted with embedded ``'`` escaped."""
    esc = F.regexp_replace(x, r"\\", r"\\\\")
    return F.when(
        x.contains("'") & ~x.contains('"'),
        F.concat(F.lit('"'), esc, F.lit('"')),
    ).otherwise(
        F.concat(F.lit("'"), F.regexp_replace(esc, "'", r"\\'"), F.lit("'"))
    )


def _csv_safe(df: DataFrame) -> DataFrame:
    """Render non-atomic columns as strings the way the reference's pandas
    ``to_csv`` does (etl_pipeline.py:289-292): a list cell prints as the
    Python repr ``['a', 'b']`` (quoted string elements, ``, `` separator,
    numbers bare, NULL elements as ``None``, quote/backslash escaping per
    CPython's repr rules); structs/maps fall back to JSON.  Deviation:
    non-printable characters are not ``\\x``-escaped.  Spark's CSV writer
    rejects complex types outright, so this projection is what makes S5
    faithful for JSON records that kept array fields through flattening."""
    cols, changed = [], False
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")  # a flattened JSON key may contain a dot
        if isinstance(f.dataType, ArrayType):
            if isinstance(f.dataType.elementType, StringType):
                elems = F.transform(
                    c,
                    lambda x: F.when(x.isNull(), F.lit("None")).otherwise(
                        _repr_str_elem(x)
                    ),
                )
            elif isinstance(f.dataType.elementType, BooleanType):
                # Python prints True/False, Spark's cast prints true/false.
                elems = F.transform(
                    c, lambda x: F.coalesce(F.initcap(x.cast("string")), F.lit("None"))
                )
            else:
                elems = F.transform(
                    c, lambda x: F.coalesce(x.cast("string"), F.lit("None"))
                )
            rendered = F.concat(F.lit("["), F.concat_ws(", ", elems), F.lit("]"))
            cols.append(
                F.when(c.isNull(), F.lit(None).cast("string"))
                .otherwise(rendered)
                .alias(f.name)
            )
            changed = True
        elif isinstance(f.dataType, (StructType, MapType)):
            cols.append(F.to_json(c).alias(f.name))
            changed = True
        else:
            cols.append(c)
    return df.select(*cols) if changed else df


def write_csv(df: DataFrame, path: str) -> None:
    """S5: CSV with header, in one part file like the reference's output."""
    out = _csv_safe(df).coalesce(1)
    out.write.mode("overwrite").option("header", "true").csv(path)


def write_schema_json(schema_report: dict[str, Any], path: str) -> None:
    """S6: the A4 schema report, driver-side (it is one small dict)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(schema_report, f, indent=2, default=str)


def write_metadata_json(metadata: dict[str, Any], path: str) -> None:
    """S7: run metadata, driver-side."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(metadata, f, indent=2, default=str)


def write_rowstore(
    normalized: DataFrame,
    schema_report: dict[str, Any],
    base_path: str,
    source_name: str = "",
) -> None:
    """S8: the two-table row store.

    ``processed_data(filename, source_index, data_type, data_json,
    created_at)`` — one JSON blob per record via ``to_json(struct(*))`` —
    and ``schemas(filename, schema_json, created_at)``, as parquet
    (``processed_data`` partitioned by ``data_type`` so per-type scans
    prune).
    """
    spark = normalized.sparkSession
    processed = normalized.select(
        F.lit(source_name).alias("filename"),
        F.col("source_index"),
        F.col("type").alias("data_type"),
        F.to_json(F.struct(*[F.col(f"`{c}`") for c in normalized.columns])).alias(
            "data_json"
        ),
        F.current_timestamp().alias("created_at"),
    )
    schemas = spark.createDataFrame(
        [(source_name, json.dumps(schema_report, default=str))],
        "filename string, schema_json string",
    ).withColumn("created_at", F.current_timestamp())
    processed.write.mode("overwrite").partitionBy("data_type").parquet(
        os.path.join(base_path, "processed_data")
    )
    schemas.write.mode("overwrite").parquet(os.path.join(base_path, "schemas"))


def load_outputs(
    normalized: DataFrame,
    schema_report: dict[str, Any],
    out_dir: str,
    source_name: str = "",
    items_by_type: dict[str, int] | None = None,
    start_time: datetime | None = None,
    use_rowstore: bool = False,
) -> dict[str, Any]:
    """The reference's ``load`` stage: CSV + schema JSON + metadata JSON
    (+ optional row store).  Returns the metadata dict."""
    write_csv(normalized, os.path.join(out_dir, "cleaned_output"))
    write_schema_json(schema_report, os.path.join(out_dir, "dynamic_schema.json"))
    end = datetime.now(timezone.utc)
    metadata = {
        "source_file": source_name,
        "processing_start": (start_time or end).isoformat(),
        "processing_end": end.isoformat(),
        "total_items": sum((items_by_type or {}).values()),
        "items_by_type": items_by_type or {},
    }
    write_metadata_json(metadata, os.path.join(out_dir, "processing_metadata.json"))
    if use_rowstore:
        write_rowstore(normalized, schema_report, os.path.join(out_dir, "rowstore"), source_name)
    return metadata


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    dynamic_overwrite: bool = True,
) -> None:
    """Hive-partitioned parquet layout — the 100 TB table format.

    Partition columns become directory keys (``.../col=value/``) so reads
    with a predicate on them list only matching directories (partition
    pruning: the scan's ``PartitionFilters``, enforced by
    ``tests/test_scale_ops.py``).  With ``dynamic_overwrite``, an overwrite
    replaces only the partitions present in ``df`` — the idempotent
    backfill/re-run primitive — instead of truncating the whole table.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    if dynamic_overwrite:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_shards(
    df: DataFrame,
    path: str,
    max_records_per_file: int,
    order_cols: list[str] | None = None,
) -> None:
    """Training-shard export: parquet files capped at
    ``max_records_per_file`` rows each — the bounded-shard contract data
    loaders expect (a loader maps shards to workers; one giant file
    serializes a worker, so the CAP is the contract, not the layout).

    ``order_cols`` sorts within each output task first, so rows inside a
    shard are deterministically ordered (stable re-exports, reproducible
    sequence order for packed corpora) WITHOUT a global sort — a
    ``sortWithinPartitions``, never an ``orderBy``, because a total order
    at 100 TB is a range-exchange of the whole corpus for no training
    benefit.

    Size control uses Spark's own ``maxRecordsPerFile`` writer option (the
    writer rolls files as it streams rows), so no repartition/shuffle is
    introduced by the cap itself.
    """
    out = df.sortWithinPartitions(*order_cols) if order_cols else df
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def upsert_snapshot_partitions(
    table_path: str,
    new_snapshot: DataFrame,
    diff: DataFrame,
    partition_cols: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Partition-scoped snapshot upsert: given a stored table (snapshot A,
    hive-partitioned on ``partition_cols``), the NEW snapshot B, and a
    ``snapshot_diff``-shaped delta (rows with changed/added/removed ids),
    rewrite ONLY the partitions that contain an affected document and leave
    every clean partition's files untouched — the incremental-maintenance
    move that turns a 100 TB full refresh into a rewrite of the drifted
    slice.

    Affected partitions are gathered from BOTH sides (a removed doc exists
    only in the stored table; an added one only in B).  A partition whose
    docs are ALL removed never appears in the replacement frame — dynamic
    overwrite would silently leave it stale (the classic pitfall) — so
    fully-vacated partitions are deleted explicitly.  Returns the
    affected-partition-keys DataFrame (small — callers log/audit it).
    """
    import shutil

    spark = new_snapshot.sparkSession
    stored = spark.read.parquet(table_path)
    delta_ids = diff.select(id_col)
    # Materialize the affected keys BEFORE the rewrite: the plan reads the
    # stored table's files, which the write below replaces — a lazy frame
    # returned to the caller would resolve against deleted parquet parts.
    affected_lazy = (
        stored.join(delta_ids, id_col, "semi").select(*partition_cols)
        .union(new_snapshot.join(delta_ids, id_col, "semi").select(*partition_cols))
        .distinct()
    )
    affected = spark.createDataFrame(
        affected_lazy.collect(), affected_lazy.schema
    )
    replacement = new_snapshot.join(F.broadcast(affected), partition_cols, "semi")
    vacated = affected.join(
        replacement.select(*partition_cols).distinct(), partition_cols, "anti"
    ).collect()
    if not replacement.isEmpty():
        write_partitioned(replacement, table_path, partition_cols)
    for row in vacated:  # bounded: ≤ #affected partitions
        rel = "/".join(
            f"{c}={_escape_partition_value(row[c])}" for c in partition_cols
        )
        target = os.path.join(table_path, rel)
        # Fail loudly: a vacated partition by construction came from the
        # stored side (a new-snapshot partition always lands in
        # ``replacement``), so its directory MUST exist — a miss means the
        # path was built wrong and a stale partition would survive, the
        # exact bug this function exists to prevent (r8 advisor finding).
        if not os.path.isdir(target):
            raise FileNotFoundError(
                f"vacated partition directory not found: {target}"
            )
        shutil.rmtree(target)
    return affected


# Characters Spark/Hive %-escape in partition directory names
# (ExternalCatalogUtils.escapePathName / Hive FileUtils): C0 controls,
# DEL, and the filesystem/URI specials below.
_HIVE_SPECIALS = set('"#%\'*/:=?\\{[]^')


def _escape_partition_value(v: object) -> str:
    """Render a partition VALUE exactly as Spark renders it in the
    ``col=value`` directory name: NULL → __HIVE_DEFAULT_PARTITION__,
    booleans lowercased, and Hive %-escaping of special characters —
    without this, deleting a vacated partition whose value contains
    e.g. ':' or '%' would miss the %-encoded directory Spark wrote."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    return "".join(
        f"%{ord(ch):02X}"
        if ch < "\x20" or ch == "\x7f" or ch in _HIVE_SPECIALS
        else ch
        for ch in str(v)
    )

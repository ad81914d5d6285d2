"""Loaders for the driver's synthetic TPC-H-ish parquet tables (TESTDATA.md)."""

from __future__ import annotations

import functools as _functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _nanos_columns(path: str) -> tuple[str, ...]:
    """Names of TIMESTAMP(NANOS) columns across a parquet file/dir's footers.

    Spark's reader rejects nanos timestamps outright (or, under the
    ``nanosAsLong`` legacy conf, surfaces them as raw LongType — unusable
    by every consumer), so the loader must know which columns need the
    ns→µs normalization.  The scan UNIONS every part file's footer — a
    multi-part dataset may carry a nanos column only in later parts
    (schema evolution), and inspecting just the first footer would leave
    it un-normalized.  Driver-side footer reads only, no data pages —
    O(#parts) metadata fetches, the same cost class as the file listing
    the read itself performs.  Cached on the (file, mtime) fingerprint so
    immutable tables never re-read footers while an in-process rewrite
    invalidates naturally.
    """
    if os.path.isdir(path):
        parts = tuple(
            os.path.join(path, p)
            for p in sorted(os.listdir(path))
            if p.endswith(".parquet")
        )
    else:
        parts = (path,)
    fp = []
    for p in parts:
        try:
            fp.append((p, os.stat(p).st_mtime_ns))
        except OSError:
            fp.append((p, -1))
    return _nanos_columns_fingerprinted(tuple(fp))


@_functools.lru_cache(maxsize=256)
def _nanos_columns_fingerprinted(fingerprint: tuple) -> tuple[str, ...]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols: dict[str, None] = {}  # insertion-ordered de-dup across parts
    for p, _mtime in fingerprint:
        try:
            schema = pq.read_schema(p)
        except Exception:
            continue
        for f in schema:
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
                cols.setdefault(f.name)
    return tuple(cols)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One table; parquet scans get column pruning + predicate pushdown free.

    Any TIMESTAMP(NANOS) column (historically ``events.ts``; the dtype
    canary plants it on the date columns too) is read as epoch-nanos LONG
    (legacy conf, set at runtime so any session works) and converted to a
    microsecond timestamp with integer division (epoch ≈ 1.7e18 exceeds
    double precision — never use float division here).  DuckDB performs
    the same ns→µs truncation.  This is encoding NORMALIZATION of an
    otherwise-unusable LongType read — it never re-types a column that
    green queries already consume (the dtype-contract rule): under data
    with no nanos columns the loader is a plain ``spark.read.parquet``.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        if isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}

"""Partition-shape guards.

The heavy per-row operators (shingling, hashing, regex extraction) are CPU
bound: their wall time is input-partition-count / cores.  On a real cluster
a 100 TB scan arrives in ~100k splits and needs no help, but a small or
badly-laid-out source (one parquet row group, one gzip file, a driver-created
payload) arrives as ONE partition and serializes the whole pipeline onto a
single core — profiled 30× slower than the same query at sf0.1.

``ensure_min_parallelism`` widens only when the scan is narrower than the
cluster's default parallelism, so it never inserts a wasteful full-data
shuffle on a well-partitioned source, and when it does shuffle, that is
precisely the case where redistributing the data is worth one exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster parallelism iff the current plan
    would execute in fewer partitions than that."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

"""The in-memory payload source (S4): ``documents_from_strings``."""

from __future__ import annotations

from etl_pipeline2_0_spark.sources.documents import documents_from_strings

PAYLOADS = [
    'double " and single \' quotes',
    "a back\\slash",
    "named :name and positional $1 markers",
    "é中😀",
    "nul\x00byte",
    "crlf\r\nline",
    "",
    "x" * 100_000,
]


def test_payloads_round_trip(spark):
    docs = documents_from_strings(spark, PAYLOADS)
    assert docs.columns == ["doc_id", "content"]
    rows = docs.collect()
    assert [r["doc_id"] for r in rows] == [f"payload_{i}" for i in range(len(PAYLOADS))]
    for row, payload in zip(rows, PAYLOADS):
        assert row["content"].encode("utf-8") == payload.encode("utf-8")


def test_partitions_capped_at_parallelism(spark):
    slots = spark.sparkContext.defaultParallelism
    assert documents_from_strings(spark, ["one"]).rdd.getNumPartitions() == 1
    many = documents_from_strings(spark, PAYLOADS)
    assert many.rdd.getNumPartitions() == min(len(PAYLOADS), slots)


def test_payload_rows_built_in_jvm(spark):
    # No job over the payload rows starts a Python worker to convert them.
    docs = documents_from_strings(spark, PAYLOADS[:2])
    lineage = docs._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage

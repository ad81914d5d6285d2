"""Document sources (reference operators S1–S4, SURVEY.md §2.1).

Reference behavior (citations into /root/reference):

- S1 whole-file read   etl_pipeline.py:41-55 — entire file as one string,
  UTF-8 with Latin-1 fallback.
- S2 directory batch   main.py:85-102 — glob ``inputs/`` and run per file.
- S3 watch mode        main.py:21-35, 67-83 — watchdog ``on_created`` →
  settle sleep → run pipeline on the new file.
- S4 HTTP body         app.py:51-75 — request payload → pipeline.

Spark mapping: the ``text`` source with ``wholetext=true`` reads one row per
file (S1) and a whole directory in one distributed job (S2);
``input_file_name()`` preserves per-file provenance.  S3 is the Structured
Streaming file source (see ``streaming.watch``) — file-arrival-triggered
micro-batch is exactly the reference's watch mode, minus the settle-sleep
race (the file source only lists completed files).  S4 builds its rows in
the JVM, one per payload, so no Python worker runs for it.

Charset note: Spark's text source decodes UTF-8 with replacement rather than
raising, so the reference's Latin-1 *fallback* (a recovery path for its
strict-UTF-8 first attempt) has no error to recover from; pass
``charset='ISO-8859-1'`` explicitly for known Latin-1 corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_documents(
    spark: SparkSession, path: str, charset: str = "UTF-8"
) -> DataFrame:
    """S1+S2: one row per file — ``doc_id`` (file URI) + ``content``.

    A directory path reads every file in one job; partition parallelism is
    file-granular (one whole file per task at minimum), which is the right
    unit for the detect/extract pipeline since every downstream operator is
    per-document.

    Charset: the ``text`` source decodes UTF-8 only (its charset option is
    a no-op for whole files — verified by test), so non-UTF-8 corpora go
    through the ``binaryFile`` source with a JVM-side ``decode`` — same
    (doc_id, content) contract, same per-file parallelism.
    """
    if charset.upper() in ("UTF-8", "UTF8"):
        return (
            spark.read.format("text")
            .option("wholetext", "true")
            .load(path)
            .select(
                F.input_file_name().alias("doc_id"),
                F.col("value").alias("content"),
            )
        )
    return (
        spark.read.format("binaryFile")
        .load(path)
        .select(
            F.col("path").alias("doc_id"),
            F.decode(F.col("content"), charset).alias("content"),
        )
    )


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S3: streaming variant — new files under ``path`` arrive as micro-batch
    rows with the same (doc_id, content) schema as the batch source."""
    reader = (
        spark.readStream.format("text")
        .option("wholetext", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path).select(
        F.input_file_name().alias("doc_id"),
        F.col("value").alias("content"),
    )


def documents_from_strings(spark: SparkSession, payloads: list[str]) -> DataFrame:
    """S4: in-memory payloads (e.g. HTTP bodies) as a documents frame, with
    ``doc_id`` ``payload_<i>``.

    The rows are built in the JVM: each payload crosses py4j once, into a
    ``java.util.List<Row>`` that ``JavaSparkContext.parallelize`` slices
    into ``min(n, defaultParallelism)`` partitions, and
    ``createDataFrame(JavaRDD<Row>, StructType)`` wraps it.  The plan is a
    ``Scan ExistingRDD`` whose lineage holds no ``PythonRDD``, so no Python
    worker starts for any job over it.  A local relation (``VALUES`` or
    ``createDataFrame(list)``) is avoided on purpose: Catalyst would fold
    the whole detect chain into it and evaluate it on the driver,
    interpreted, once per query."""
    sc, jvm = spark.sparkContext, spark._jvm
    rows = jvm.java.util.ArrayList(len(payloads))
    for i, payload in enumerate(payloads):
        cells = sc._gateway.new_array(jvm.java.lang.Object, 2)
        cells[0], cells[1] = f"payload_{i}", payload
        rows.add(jvm.org.apache.spark.sql.RowFactory.create(cells))
    slices = max(1, min(len(payloads), sc.defaultParallelism))
    jrdd = sc._jsc.parallelize(rows, slices)
    schema = jvm.org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id string, content string"
    )
    return DataFrame(spark._jsparkSession.createDataFrame(jrdd, schema), spark)

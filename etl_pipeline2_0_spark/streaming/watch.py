"""Watch mode as Structured Streaming (reference S3, SURVEY.md §2.9 / §3.3).

Reference behavior (main.py:21-35, 67-83): a watchdog observer fires the full
batch pipeline once per newly created file, with a 1-second settle sleep and
no recovery story.

Spark mapping: the Structured Streaming **file source** is exactly this model
done right — file-arrival-triggered micro-batches, completed-file listing
(no settle-sleep race), checkpoint-based exactly-once bookkeeping, and
``maxFilesPerTrigger`` for pacing.  Each micro-batch runs the batch
pipeline itself (``run_batch`` over the batch's documents) via
``foreachBatch`` and writes the reference's per-run files under
``batch_<id>/``: ``cleaned_output/`` (CSV), ``dynamic_schema.json`` and
``processing_metadata.json``.  Per-batch schema inference preserves the
reference's per-file dynamic-schema semantics.

Deliberately NOT reproduced: the reference's cross-file record accumulation
(etl_pipeline.py:26's list is never cleared across watch events — a latent
bug, SURVEY.md §2.9); each micro-batch here is isolated.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline2_0_spark.pipeline import run_batch
from etl_pipeline2_0_spark.sources.documents import read_documents_stream


def run_watch_mode(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Watch ``input_dir``; per micro-batch of new files, run the pipeline and
    write batch-numbered outputs under ``out_dir``.

    ``available_now=True`` processes the current backlog and stops (used by
    tests); the default runs continuously.  Returns the StreamingQuery.
    """
    checkpoint = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    stream = read_documents_stream(spark, input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_batch(
            spark, docs=batch_df, out_dir=os.path.join(out_dir, f"batch_{batch_id}")
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

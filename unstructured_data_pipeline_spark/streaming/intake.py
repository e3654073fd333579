"""Structured Streaming intake (SURVEY.md section 7, M4).

The reference hand-rolls streaming with an uploads table and a ``processed``
boolean flipped by MERGE (`app/Auto-Magic Document AI.py:548-554,920-926`) —
at-least-once intake bookkeeping.  The Spark-native replacement is a
checkpointed file-source stream: the checkpoint is the processed flag and is
restart-safe, with no bookkeeping table to merge into.  Delivery to the sink
is AT-LEAST-ONCE (foreachBatch replays a batch if the process dies after the
sink writes but before the checkpoint commit); end-to-end results are still
effectively-once because the sink upserts keyed by document
(`persist_pipeline_outputs_idempotent`), so a replay rewrites the same rows.

`start_intake_stream` wires: landing dir -> binaryFile/text stream ->
foreachBatch(run_document_pipeline + persist).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from unstructured_data_pipeline_spark.ai.backends import DocumentAIBackend
from unstructured_data_pipeline_spark.operators.dml import ParquetTable
from unstructured_data_pipeline_spark.pipelines.batch import (
    run_document_pipeline,
    persist_pipeline_outputs_idempotent,
)


def start_intake_stream(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    tables: dict[str, ParquetTable],
    backend: DocumentAIBackend | None = None,
    file_format: str = "text",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Stream the landing directory through the document pipeline.

    ``file_format='text'`` treats each file as one text document
    (wholetext); ``'binaryFile'`` feeds raw bytes through the OCR UDF first.
    ``trigger_available_now`` drains what's there and stops — the batch-ish
    mode used by tests and backfills; continuous deployments drop it.
    """
    if file_format == "text":
        stream = (
            spark.readStream.format("text")
            .option("wholetext", "true")
            .load(landing_dir)
            .select(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file_ref"),
                F.input_file_name().alias("file_url"),
                F.col("value").alias("text"),
            )
        )
    else:
        from unstructured_data_pipeline_spark.ai.udfs import make_udfs

        ocr_udf = make_udfs(backend)["ocr"]
        stream = (
            spark.readStream.format("binaryFile")
            # streaming sources require an explicit schema; this is the
            # binaryFile source's fixed one
            .schema(
                "path string, modificationTime timestamp, length long, content binary"
            )
            .load(landing_dir)
            .select(
                F.element_at(F.split(F.col("path"), "/"), -1).alias("file_ref"),
                F.col("path").alias("file_url"),
                # raw bytes -> OCR envelope (content-sniffed: PDF text
                # extraction, utf-8 decode, or opaque-binary marker) -> the
                # recovered text feeds classify/extract downstream
                F.get_json_object(
                    ocr_udf(F.col("content")), "$.content"
                ).alias("text"),
            )
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # cache_intermediate (C6): the idempotent writer below drives THREE
        # actions off the shared AI stage — persist it once per micro-batch
        # so the batch is read once; the writer's cache fill is also its
        # empty-batch guard, and it unpersists in its finally.
        out = run_document_pipeline(batch_df, backend, cache_intermediate=True)
        # keyed upserts, not appends: a replayed batch rewrites its own rows
        persist_pipeline_outputs_idempotent(out, tables)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

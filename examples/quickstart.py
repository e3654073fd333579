#!/usr/bin/env python
"""End-to-end quickstart: what a user of the reference app does, on Spark.

    upload files -> stage -> classify -> extract -> persist 5 tables
    -> history analytics -> export

Run:  python examples/quickstart.py [work_dir]
Uses the deterministic stub AI backend (swap in a real LLM backend by
implementing ai.backends.DocumentAIBackend).
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from unstructured_data_pipeline_spark import get_spark
from unstructured_data_pipeline_spark.ai.udfs import make_udfs
from unstructured_data_pipeline_spark.catalog import (
    bootstrap_warehouse,
    seed_invoice_prompts,
)
from unstructured_data_pipeline_spark.operators.history import (
    HistoryFilters,
    class_summary,
    documents_latest,
)
from unstructured_data_pipeline_spark.pipelines.batch import (
    persist_pipeline_outputs,
    run_document_pipeline,
)
from unstructured_data_pipeline_spark.sources.binary_docs import (
    directory_listing,
    read_binary_documents,
)
from unstructured_data_pipeline_spark.sources.export import to_csv_bytes


def main() -> None:
    work = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(tempfile.mkdtemp())
    stage = work / "stage"
    stage.mkdir(parents=True, exist_ok=True)

    # 1. "upload" three documents to the stage directory
    (stage / "inv_001.pdf").write_bytes(b"customer invoice total 42 due friday")
    (stage / "rcp_002.png").write_bytes(b"stream receipt for two coffees")
    (stage / "ctr_003.pdf").write_bytes(b"agreement between parties hereto")

    spark = get_spark(app_name="udp-quickstart")
    spark.sparkContext.setLogLevel("ERROR")

    # 2. warehouse bootstrap (CREATE IF NOT EXISTS x5 + seed prompts)
    tables = bootstrap_warehouse(spark, str(work / "warehouse"))
    seed_invoice_prompts(spark, tables)

    # 3. directory listing (the DIRECTORY(@stage) scan)
    directory_listing(spark, str(stage)).show(truncate=False)

    # 4. classify -> extract -> OCR -> summarize, then persist
    udfs = make_udfs()
    blobs = read_binary_documents(spark, str(stage))
    docs = blobs.select(
        F.element_at(F.split("path", "/"), -1).alias("file_ref"),
        F.col("path").alias("file_url"),
        F.get_json_object(udfs["ocr"](F.col("content")), "$.content").alias("text"),
    )
    outputs = run_document_pipeline(docs, with_ocr=True, cache_intermediate=True)
    persist_pipeline_outputs(outputs, tables)

    # 5. history analytics over the persisted tables
    eav = tables["documents_extracted_fields"].read()
    print("\n== class summary ==")
    class_summary(eav).show()
    print("== latest documents ==")
    documents_latest(
        eav, filters=HistoryFilters(), processed=tables["documents_processed"].read()
    ).show(truncate=False)

    # 6. export
    csv_bytes = to_csv_bytes(eav.select("file_ref", "field_name", "field_value"))
    print(f"== export: {len(csv_bytes)} CSV bytes ==")
    print(csv_bytes.decode("utf-8"))


if __name__ == "__main__":
    main()

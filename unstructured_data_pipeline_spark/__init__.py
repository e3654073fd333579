"""unstructured_data_pipeline_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of the reference IDP pipeline
(`sfc-gh-aguadalupe/Unstructured-Data-Pipeline`), rebuilt Spark-first.

The reference (see SURVEY.md) is a Snowflake intelligent-document-processing app:

    upload -> stage -> AI classify -> prompt-schema lookup/generation
           -> AI field extraction -> OCR + AI summarization
           -> persist to 5 relational tables -> history analytics

This package re-expresses every operator in that pipeline (SURVEY.md section 2)
as idiomatic DataFrame / Spark SQL / Structured Streaming, plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal columns) the reference lacks.

Layout:
    session      SparkSession factory with scale-oriented defaults
    schemas      StructTypes for the 5 pipeline tables + fixture tables
    catalog      table bootstrap (CREATE IF NOT EXISTS semantics) over parquet
    functions/   pure logic + JVM-side Column builders (variant, prompts,
                 scalars, text analysis)
    ai/          pluggable document-AI backends (classify/extract/ocr/
                 summarize/generate_prompts) + their pandas UDFs
    operators/   DML (upsert/delete/anti-insert), history analytics,
                 dedup (exact / MinHash-LSH / SimHash), similarity search,
                 dynamic pivot, as-of join, sessionization
    pipelines/   batch document pipeline (classify -> extract -> persist)
    sources/     binary document source / directory listing
    streaming/   Structured Streaming intake (checkpointed replacement for
                 the reference's NEW_UPLOADS.processed bookkeeping)
"""

from unstructured_data_pipeline_spark.dist import install_zip_cache_check
from unstructured_data_pipeline_spark.session import get_spark

# executor workers import this package when they unpickle a UDF: from then
# on their per-task invalidate_caches() skips unchanged zips (see dist.py)
install_zip_cache_check()

__all__ = ["get_spark"]
__version__ = "0.1.0"

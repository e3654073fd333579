"""Raw-document sources.

The reference's "stage + directory table" (SURVEY.md section 1.1; stage DDL
`database/setup_database.sql:26-29`, directory scan
`app/Auto-Magic Document AI.py:135-141,948-952`) maps to Spark's built-in
``binaryFile`` source: a directory of blobs becomes a DataFrame of
``(path, modificationTime, length, content)`` rows.  At 100 TB this is the
right shape — the listing is distributed, the content column streams through
executors, and `pathGlobFilter` prunes formats at the source.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# reference-supported upload formats (`app.py:365`, `:815`)
SUPPORTED_FORMATS = ("pdf", "jpg", "jpeg", "png")


def read_binary_documents(
    spark: SparkSession,
    path: str,
    formats: tuple[str, ...] = SUPPORTED_FORMATS,
    streaming: bool = False,
) -> DataFrame:
    """Scan a landing directory of document blobs.

    Equivalent of ``SELECT ... FROM DIRECTORY(@stage)`` + ``TO_FILE`` in one:
    rows carry both the listing metadata and the file bytes.  ``streaming``
    switches to the Structured Streaming file source (checkpointed intake —
    replaces the reference's NEW_UPLOADS.processed bookkeeping, see
    streaming/intake.py).
    """
    glob = "*.{" + ",".join(formats) + "}" if formats else None
    reader = spark.readStream if streaming else spark.read
    r = reader.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def directory_listing(spark: SparkSession, path: str) -> DataFrame:
    """``SELECT ... FROM DIRECTORY(@stage)`` (`app.py:135-141`): every file
    under the stage, subdirectories included, of a supported format,
    as its path relative to the stage, full url, size and mtime.  The scan
    reads metadata only — the content column is pruned at the source (check
    ReadSchema in the plan) — so it is safe on a stage holding terabytes of
    blobs."""
    base = path.rstrip("/")
    # the source reports a local file as a `file:/abs/path` URI
    if "://" not in base and not base.startswith("file:"):
        base = "file:" + os.path.abspath(base)
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.{" + ",".join(SUPPORTED_FORMATS) + "}")
        .load(path)
        .select(
            F.regexp_replace(F.col("path"), "^" + re.escape(base) + "/", "").alias(
                "relative_path"
            ),
            F.col("path").alias("file_url"),
            F.col("length"),
            F.col("modificationTime").alias("modification_time"),
        )
    )

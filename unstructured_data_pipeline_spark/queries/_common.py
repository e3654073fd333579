"""The engine's query registry: every operator from SURVEY.md section 2 (plus
the training-data-pipeline extensions) phrased as an oracle-checkable query
over the driver fixture tables.

Each entry is ``name -> (spark_callable, duckdb_oracle_sql | None)``; the
callable takes (spark, sf_dir) and returns a DataFrame whose row-count,
schema, and order-insensitive value-hash must match the oracle.

Cross-engine determinism rules used throughout (see SURVEY.md section 7,
"hard parts"):

* Money/value sums go through integer cents — ``FLOOR(x*100 + 0.5)`` is the
  same IEEE operation in both engines, and BIGINT sums are exact; divide by
  100.0 at the end.  Never hash a float reduction.
* ``events.ts`` is nanosecond parquet; ``_events`` normalizes it (by schema
  introspection, both Spark 4.1 native TIMESTAMP_NTZ and legacy
  nanosAsLong BIGINT paths) to BIGINT epoch MICROseconds == DuckDB
  ``epoch_us(ts)``, and ALL event-time arithmetic runs on those integers —
  timezone-free on both engines.
* NTZ timestamps (orders/lineitem) are emitted as formatted strings.
* Every hash is md5 (identical everywhere); ranks break ties on ids.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.ai.udfs import make_udfs, unwrap_response
from unstructured_data_pipeline_spark.functions import text as TX
from unstructured_data_pipeline_spark.operators import dedup as DD
from unstructured_data_pipeline_spark.operators import similarity as SIM
from unstructured_data_pipeline_spark.operators.partitioning import (
    ensure_min_parallelism,
)
from unstructured_data_pipeline_spark.operators.history import (
    HistoryFilters,
    class_summary,
    documents_latest,
    field_flatten,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from unstructured_data_pipeline_spark.dist import ensure_shipped

    ensure_shipped(spark)  # executor workers must import this package (UDFs)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _heavy(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan feeding compute-heavy per-row work (hashing, shingling, HOF
    lambdas, pandas UDFs): spread across cores when the input arrives in
    fewer splits than the cluster's parallelism.  Single-row-group fixture
    files scan as ONE split, which would serialize all narrow compute onto
    one core; at deployment scale inputs come in many splits and this adds
    no shuffle (see operators/partitioning.py)."""
    return ensure_min_parallelism(_t(spark, sf_dir, name))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts normalized to BIGINT epoch-MICROS == DuckDB ``epoch_us(ts)``.

    events.parquet carries nanosecond timestamps.  How Spark surfaces them
    depends on the version: Spark 4.1+ reads them natively as TIMESTAMP_NTZ
    (and silently ignores the ``nanosAsLong`` legacy conf), while older
    Sparks reject the file unless ``spark.sql.legacy.parquet.nanosAsLong``
    makes the column a BIGINT of nanos.  We set the conf (scoped: set, load,
    restore — leaving it session-wide would corrupt later timestamp reads,
    ADVICE r1), then introspect whichever type actually arrived and
    normalize to a single engine-wide convention: ``ts`` is BIGINT epoch
    MICROseconds (not nanos — ANSI mode makes nanos SUMs overflow).  The
    session timezone is UTC (session.py), so the NTZ->timestamp cast is
    identity-on-the-wall-clock and ``unix_micros`` matches DuckDB's
    ``epoch_us`` exactly."""
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = _t(spark, sf_dir, "events")
        # materialize the analyzed plan so the conf is baked in before restore
        ts_type = df.schema["ts"].dataType
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    from pyspark.sql.types import LongType

    if isinstance(ts_type, LongType):  # legacy conf honored: BIGINT nanos
        ts_us = F.expr("ts DIV 1000")
    else:  # Spark 4.1+: TIMESTAMP_NTZ (micros precision)
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return df.withColumn("ts", ts_us.cast("long"))


def _par(*thunks):
    """Run independent driver-side actions concurrently and return their
    results in argument order (guide §2.6 "overlap independent jobs":
    Spark's scheduler happily runs several jobs at once inside one
    application; actions are only sequential because driver code calls
    them sequentially).  Used by the executed-lifecycle queries whose
    phases are sequences of independent per-table actions (appends,
    audits, COW deletes on disjoint tables) — the tail of each job
    back-fills executors freed by the others.  Results are unchanged by
    construction: every thunk touches its own table/frame.  Exceptions
    propagate (the first raised wins, like sequential code)."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(t) for t in thunks]
        return [f.result() for f in futs]


def _stream_shuffle_partitions(spark: SparkSession) -> int:
    """Shuffle/state partition count for the bounded availableNow
    streaming drains (round 13, guide §2.2 "fewer, larger partitions"):
    every stateful-stream shuffle partition owns its own state store(s),
    and each store pays per-micro-batch file I/O (delta write + commit)
    regardless of how little state it holds — measured at sf0.1 the
    stream-stream interval join spent 6-11 s at 32 partitions vs
    2.4-2.8 s at 8, identical output.  State partitioning should track
    STATE VOLUME, not core count, so the count derives from the
    cluster's parallelism (cores/4, floor 4 — enough to keep executors
    busy on the bounded drains while cutting per-store overhead 4x)."""
    return max(4, spark.sparkContext.defaultParallelism // 4)


class _scoped_conf:
    """Set a session conf for the duration of a with-block, restoring the
    previous value (or unsetting) on exit — the same scoped set/load/
    restore discipline `_events` uses for the nanos conf."""

    def __init__(self, spark: SparkSession, key: str, value: str):
        self.spark, self.key, self.value = spark, key, str(value)

    def __enter__(self):
        self.prev = self.spark.conf.get(self.key, None)
        self.spark.conf.set(self.key, self.value)
        return self

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(self.key)
        else:
            self.spark.conf.set(self.key, self.prev)
        return False


def _cents(col: F.Column) -> F.Column:
    """Deterministic integer cents: same IEEE double ops in both engines."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


_SQL_CENTS = "CAST(FLOOR(({x}) * 100 + 0.5) AS BIGINT)"


def _c(x: str) -> str:
    return _SQL_CENTS.format(x=x)


# the deterministic stub classifier (ai/backends.py) as SQL — keep in sync
_CLASSIFY_SQL = (
    "CASE WHEN text LIKE '%customer%' THEN 'invoice' "
    "WHEN text LIKE '%stream%' THEN 'receipt' ELSE 'contract' END"
)

# documents corpus -> pipeline input shape used by the pipeline queries
_DOCS_BASE_SQL = (
    "SELECT CAST(doc_id AS VARCHAR) AS file_ref, "
    "'@docs_stage/' || CAST(doc_id AS VARCHAR) || '.txt' AS file_url, "
    f"text, {_CLASSIFY_SQL} AS class_name FROM documents"
)

# the stub extractor's three fields as SQL (one UNION ALL branch each)
_EAV_SQL = f"""
WITH base AS ({_DOCS_BASE_SQL}),
eav AS (
  SELECT file_ref, file_url, class_name, 'first_word' AS field_name,
         string_split(text, ' ')[1] AS field_value FROM base
  UNION ALL
  SELECT file_ref, file_url, class_name, 'n_words',
         CAST(len(string_split(text, ' ')) AS VARCHAR) FROM base
  UNION ALL
  SELECT file_ref, file_url, class_name, 'fingerprint', md5(text) FROM base
)
"""


def _docs_pipeline_eav(
    spark: SparkSession, sf_dir: str, backend=None
) -> DataFrame:
    """documents fixture -> classify+extract -> EAV (deterministic columns
    only — timestamps dropped for oracle comparison).  ``backend`` defaults
    to the stub; `pipeline_flaky_transport_recovery` injects the retrying
    remote adapter over a fault-planted transport."""
    from unstructured_data_pipeline_spark.pipelines.batch import run_document_pipeline

    docs = _heavy(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("file_ref"),
        F.concat(F.lit("@docs_stage/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias(
            "file_url"
        ),
        "text",
    )
    out = run_document_pipeline(docs, backend=backend, with_ocr=False)
    return out.extracted_fields.select(
        "file_ref", "file_url", "class_name", "field_name", "field_value"
    )



"""The document pipeline as one DataFrame job (SURVEY.md section 3).

Reference flow (`app/Auto-Magic Document AI.py`, entry points 1-2):

    file -> classify (AI1) -> prompt lookup/auto-gen (AI5/D2) -> extract (AI2)
         -> OCR (AI3) + summarize (AI4)            [same Arrow pass as extract]
         -> persist: documents_processed (append), documents_extracted_fields
            (EAV append), document_ocr (append), new_uploads (mark processed)

The reference runs this per-file on a client thread pool; here it is a single
declarative plan over a documents DataFrame — its "Single SQL over stage"
mode (`app.py:948-953`) generalized.  Parallelism = partitions.  The prompt
dimension rides in the classify+extract UDF's closure (classes are few by
construction).  All four AI calls are one projection over the documents, so
Spark evaluates them in one Python-worker pass and every sink reads its
columns from that one stage.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.ai.backends import (
    DeterministicStubBackend,
    DocumentAIBackend,
)
from unstructured_data_pipeline_spark.ai.udfs import make_udfs, unwrap_response
from unstructured_data_pipeline_spark.functions.variant import canonical_json
from unstructured_data_pipeline_spark.operators.dml import ParquetTable


@dataclass
class PipelineOutputs:
    processed: DataFrame  # documents_processed shape
    extracted_fields: DataFrame  # EAV shape
    ocr: DataFrame  # document_ocr shape
    # C6 (metadata/result caching, `app.py:89-199` @st.cache_data): when
    # run_document_pipeline(cache_intermediate=True) persisted the shared AI
    # stage (class, extraction, OCR and summary per document), this is that
    # frame — persist_pipeline_outputs* unpersists it after the multi-sink
    # write so nothing leaks.
    cached: DataFrame | None = None


def _make_classify_extract(backend: DocumentAIBackend, prompts_map: dict[str, str]):
    """AI1+AI2 fused into ONE pandas UDF: the text crosses the Arrow
    boundary once and both stub calls run in the same Python batch.  The
    class->prompts schema dimension rides in the closure (tiny by
    construction — the reference loads it client-side too,
    `app.py:150-159`).  AI7 error envelope: catch-and-encode, never throw
    (app.py:506-510)."""
    from pyspark.sql import functions as SF

    @SF.pandas_udf("class_name string, extraction_result string")
    def classify_extract(text: pd.Series) -> pd.DataFrame:
        def one(t):
            t = t or ""
            try:
                c = backend.classify(t)
            except Exception as e:
                return "", canonical_json({"error": str(e)})
            try:
                pj = prompts_map.get(c, "{}")
                return c, canonical_json({"response": backend.extract(t, pj)})
            except Exception as e:
                return c, canonical_json({"error": str(e)})

        rows = [one(t) for t in text]
        return pd.DataFrame(rows, columns=["class_name", "extraction_result"])

    return classify_extract


def run_document_pipeline(
    docs: DataFrame,
    backend: DocumentAIBackend | None = None,
    prompts: DataFrame | None = None,
    with_ocr: bool = True,
    cache_intermediate: bool = False,
) -> PipelineOutputs:
    """Classify -> (seed prompts) -> extract -> explode EAV -> OCR+summary.

    ``docs`` needs (file_ref, text[, file_url]); a missing ``file_url``
    column reads as ``""``.  Binary sources first run the OCR UDF to
    obtain text (see sources/binary_docs.py).
    ``prompts`` (class_name, prompts JSON) overrides per-class schemas —
    missing classes are auto-generated (AI5), matching the reference's
    seed-if-unseen behavior.

    ``cache_intermediate`` is C6 (the reference memoizes re-read results
    with ``@st.cache_data``, `app.py:89-199`): `processed`,
    `extracted_fields` and `ocr` are all projections of one AI stage
    (classify+extract, OCR and summary pandas UDFs), so a multi-sink
    consumer (persist_pipeline_outputs writes three tables = three actions)
    re-runs the source scan and the AI stage once per sink unless it is
    persisted.  True persists that shared stage (MEMORY_AND_DISK —
    spill-safe at scale) and hands the handle back via
    ``PipelineOutputs.cached`` for the writer to unpersist.  Default False:
    a single-consumer caller (e.g. the EAV-only analytics queries) would pay
    the materialization for nothing, and its plan keeps only the UDFs its
    columns need.
    """
    b = backend or DeterministicStubBackend()
    spark = docs.sparkSession
    from unstructured_data_pipeline_spark.dist import ensure_shipped

    ensure_shipped(spark)

    url = F.col("file_url") if "file_url" in docs.columns else F.lit("")
    base = docs.select("file_ref", url.alias("file_url"), "text")
    # the AI UDF stages are the expensive path — make sure they run with
    # cluster-wide parallelism even when the source is one small file.
    from unstructured_data_pipeline_spark.operators.partitioning import (
        ensure_min_parallelism,
    )

    par = spark.sparkContext.defaultParallelism
    base = ensure_min_parallelism(base, target=par, threshold=max(2, par // 2))

    # prompt dimension (AI5): provided schemas win over auto-generated ones.
    # The class domain of the stub classifier is closed (3 classes), so the
    # generated schemas are built driver-side without a Spark job — at scale
    # this avoids a distinct() over the full corpus; caller schemas cost one
    # collect of their (tiny) frame.
    prompts_map = {
        c: canonical_json(b.generate_prompts(c))
        for c in ("contract", "invoice", "receipt")
    }
    if prompts is not None:
        prompts_map.update(prompts.select("class_name", "prompts").collect())

    # AI1+AI2 fused, AI3 and AI4 beside it in the same projection: Spark
    # evaluates the three pandas UDFs in one Arrow pass, so the text ships
    # to Python once and the stage carries results, not text.
    ce = _make_classify_extract(b, prompts_map)(F.col("text"))
    side = []
    if with_ocr:
        udfs = make_udfs(b)
        side = [
            udfs["ocr"](F.col("text")).alias("ocr"),
            udfs["summarize"](F.col("text")).alias("summary"),
        ]
    stage = (
        base.select("file_ref", "file_url", ce.alias("_ce"), *side)
        .select("*", "_ce.*")
        .drop("_ce")
    )
    if cache_intermediate:
        stage = stage.persist()

    processed = stage.select(
        "file_url",
        "file_ref",
        "class_name",
        "extraction_result",
        F.current_timestamp().cast("timestamp_ntz").alias("processed_at"),
    )

    # EAV explode: response map -> one row per field (built-in, no UDTF)
    eav = (
        stage.select(
            "file_url",
            "file_ref",
            "class_name",
            F.explode(unwrap_response(F.col("extraction_result"))).alias(
                "field_name", "field_value"
            ),
        )
        .withColumn("confidence", F.lit(None).cast("double"))  # never populated
        .withColumn(
            "extracted_at", F.current_timestamp().cast("timestamp_ntz")
        )
    )

    if with_ocr:
        ocr = stage.select(
            F.col("file_ref").alias("file_name"),
            "file_ref",
            "ocr",
            "summary",
            F.current_timestamp().cast("timestamp_ntz").alias("processed_at"),
        )
    else:
        ocr = spark.createDataFrame(
            [], "file_name string, file_ref string, ocr string, summary string, processed_at timestamp_ntz"
        )

    return PipelineOutputs(
        processed=processed,
        extracted_fields=eav,
        ocr=ocr,
        cached=stage if cache_intermediate else None,
    )


def _write_sinks(outputs: PipelineOutputs, tables, write) -> None:
    """Run ``write(table, frame, keys)`` for the three document sinks
    concurrently (the targets are disjoint tables, guide §2.6).  The shared cached stage is materialized
    FIRST — concurrent sinks would otherwise race to compute the same cached
    partitions and duplicate the AI stage — and that count doubles as the
    empty-batch guard: no documents, no write, no new table version.  The
    cache is unpersisted in every case."""
    from concurrent.futures import ThreadPoolExecutor
    from functools import partial

    try:
        if outputs.cached is not None and outputs.cached.count() == 0:
            return
        steps = [
            partial(write, tables["documents_processed"], outputs.processed, ["file_ref"]),
            partial(
                write,
                tables["documents_extracted_fields"],
                outputs.extracted_fields,
                ["file_ref", "field_name"],
            ),
            partial(write, tables["document_ocr"], outputs.ocr, ["file_name"]),
        ]
        with ThreadPoolExecutor(max_workers=len(steps)) as pool:
            for f in [pool.submit(s) for s in steps]:
                f.result()
    finally:
        if outputs.cached is not None:
            outputs.cached.unpersist()


def persist_pipeline_outputs(
    outputs: PipelineOutputs, tables: dict[str, ParquetTable]
) -> None:
    """The three document appends of the persistence steps
    (`app.py:523-554`).  Round 13: the sinks are disjoint
    tables — the writes overlap (guide §2.6); per-table contents are
    unchanged (the shared AI stage is persisted by ``cache_intermediate``
    callers, so concurrent sinks share one materialization rather than
    re-running the AI stage).

    Failure atomicity is WEAKER than the sequential form (ADVICE r13): if
    one sink fails, sibling writes already in flight still commit (futures
    are not cancelled), so a blind re-run duplicates rows in the tables
    whose appends succeeded.  Retry paths must use
    :func:`persist_pipeline_outputs_idempotent` (keyed upserts — replay
    converges regardless of which subset committed)."""
    _write_sinks(outputs, tables, lambda t, df, _keys: t.append(df))


def persist_pipeline_outputs_idempotent(
    outputs: PipelineOutputs, tables: dict[str, ParquetTable]
) -> None:
    """Replay-safe variant of :func:`persist_pipeline_outputs` for
    at-least-once delivery (foreachBatch replays a batch whose sink ran but
    whose checkpoint commit didn't): every write is an UPSERT keyed by the
    document, so re-processing a file rewrites its rows instead of
    duplicating them.  Cost is O(table) per batch under ``ParquetTable`` —
    fine for intake-sized tables.  For big targets pass
    ``PartitionedParquetTable`` instances instead (same ``upsert``
    contract): with a partition column that is part of the merge key —
    e.g. an ingest-date or a stable hash bucket of the document key —
    each batch rewrites only its touched partitions (O(touched+batch)).
    Each upsert runs in the table's one optimistic write loop
    (``ParquetTable._write``): a sink overtaken by another writer's commit
    (a second stream, a compaction) rebuilds its upsert on the winner's
    version instead of raising out of ``foreachBatch``, so a replayed or
    raced batch still lands once."""
    _write_sinks(outputs, tables, lambda t, df, keys: t.upsert(df, keys))

"""History analytics (SURVEY.md section 3, entry point 3).

The reference's History tab runs three queries over the persisted tables,
sharing one dynamically-built predicate (`app/Auto-Magic Document AI.py:
663-674`).  Rebuilt here as DataFrame ops with the correlated subqueries
decorrelated by hand into aggregates and a semi-join flag (what Snowflake's
optimizer did implicitly, and what Catalyst does given the SQL form):

* class_summary     — COUNT(DISTINCT file_ref) per class      (`app.py:678-693`)
* documents_latest  — current state per (file_ref, class_name) (the
                      QUALIFY ROW_NUMBER query, `app.py:698-741`), with
                      fields_extracted (J2), timestamp backfill (J1), and
                      has_ocr (P5 EXISTS semi-join)
* field_flatten     — field-level projection + TO_JSON        (`app.py:744-759`)

Schema drift: ``processed_at``/``extracted_at`` are OPTIONAL (the app-side
DDL omits them); the reference retries a timestamp-free SQL variant on error
(`app.py:738-741`) — here we introspect ``df.columns`` instead (C7).

Scale notes: documents_latest shuffles once, on (file_ref, class_name): EAV
and ``processed`` rows fold in one aggregate, so the backfill needs no join.
Each result is collected by one process (the History UI or the caller), so
it is sorted in one task rather than range-partitioned (no sampling job); the
scans and partial aggregates stay parallel.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.functions.scalars import stage_from_file_url


@dataclass
class HistoryFilters:
    """The dynamic predicate builder (P1-P4, `app.py:663-674`): all filters
    optional; empty -> identity (the reference's ``"1=1"``)."""

    classes: list[str] = field(default_factory=list)  # P2: IN list
    stage_contains: str | None = None  # P3: ILIKE on derived stage
    file_contains: str | None = None  # P4: LOWER LIKE on file_ref

    def predicate(self, df: DataFrame) -> Column:
        preds: list[Column] = []
        if self.classes:
            preds.append(F.col("class_name").isin(self.classes))
        if self.stage_contains and "file_url" in df.columns:
            stage = stage_from_file_url("file_url")
            preds.append(F.lower(stage).contains(self.stage_contains.lower()))
        if self.file_contains:
            preds.append(F.lower(F.col("file_ref")).like(f"%{self.file_contains.lower()}%"))
        out = F.lit(True)
        for p in preds:
            out = out & p
        return out


def class_summary(eav: DataFrame, filters: HistoryFilters | None = None) -> DataFrame:
    """Docs per class: COUNT(DISTINCT file_ref) GROUP BY class ORDER BY DESC
    (A1, `app.py:678-688`).  Note the reference neutralizes the stage filter
    here because its CTE drops file_url (`app.py:685`) — preserved by simply
    not applying stage_contains when file_url is absent (HistoryFilters does
    that introspectively)."""
    f = filters or HistoryFilters()
    narrowed = eav.select(
        *[c for c in ("file_ref", "class_name") if c in eav.columns]
    )
    return (
        narrowed.filter(f.predicate(narrowed))
        .groupBy("class_name")
        .agg(F.countDistinct("file_ref").alias("docs"))
        .coalesce(1)
        .sortWithinPartitions(F.desc("docs"), F.asc("class_name"))
    )


def documents_latest(
    eav: DataFrame,
    processed: DataFrame | None = None,
    ocr: DataFrame | None = None,
    filters: HistoryFilters | None = None,
) -> DataFrame:
    """The core "current state" query (`app.py:698-741`): one row per
    (file_ref, class_name) = the latest run, with per-doc field counts and an
    OCR flag.

    Output: file_ref, class_name, stage, fields_extracted, has_ocr,
    processed_at (nullable) — ordered processed_at DESC NULLS LAST.
    """
    f = filters or HistoryFilters()
    df = eav.filter(f.predicate(eav))
    kept = [c for c in ("file_url", "extracted_at") if c in df.columns]
    rows = df.select("file_ref", "class_name", F.lit(1).alias("_e"), *kept)
    # J2 decorrelated: per-key field count (was a correlated COUNT subquery);
    # only EAV rows carry _e, so count(_e) counts fields
    agg_cols = [F.count("_e").alias("fields_extracted")]
    agg_cols += [F.max(c).alias(c) for c in kept]
    ts = F.col("extracted_at") if "extracted_at" in kept else F.lit(None).cast("timestamp_ntz")

    # J1 decorrelated: the master table's MAX(processed_at) folds into the
    # same aggregate; null keys match nothing in the reference's equi-join
    if processed is not None and "processed_at" in processed.columns:
        backfill = processed.filter(
            F.col("file_ref").isNotNull() & F.col("class_name").isNotNull()
        ).select("file_ref", "class_name", F.col("processed_at").alias("_backfill_ts"))
        rows = rows.unionByName(backfill, allowMissingColumns=True)
        agg_cols.append(F.max("_backfill_ts").alias("_backfill_ts"))
        ts = F.coalesce(ts, F.col("_backfill_ts"))
    # the reference drives from the EAV rows: a key only in processed is dropped
    per_key = (
        rows.groupBy("file_ref", "class_name")
        .agg(*agg_cols)
        .filter(F.col("fields_extracted") > 0)
        .withColumn("processed_at", ts)
    )

    # P5: EXISTS -> left-semi-derived boolean flag
    if ocr is not None:
        ocr_keys = ocr.select(F.col("file_ref")).distinct().withColumn("_has_ocr", F.lit(True))
        per_key = per_key.join(F.broadcast(ocr_keys), "file_ref", "left")
        per_key = per_key.withColumn("has_ocr", F.coalesce(F.col("_has_ocr"), F.lit(False)))
    else:
        per_key = per_key.withColumn("has_ocr", F.lit(False))

    stage = stage_from_file_url("file_url") if "file_url" in kept else F.lit("")
    out = per_key.select(
        "file_ref",
        "class_name",
        stage.alias("stage"),
        "fields_extracted",
        "has_ocr",
        "processed_at",
    )
    return out.coalesce(1).sortWithinPartitions(
        F.col("processed_at").desc_nulls_last(), "file_ref", "class_name"
    )


def field_flatten(eav: DataFrame, filters: HistoryFilters | None = None) -> DataFrame:
    """Field-level flatten (`app.py:744-759`): projection + TO_JSON(field
    value) + three-key ORDER BY.  A one-partition shuffle (not a coalesce)
    keeps the scan parallel."""
    f = filters or HistoryFilters()
    df = eav.filter(f.predicate(eav))
    return (
        df.select(
            "file_ref",
            "class_name",
            "field_name",
            F.col("field_value").alias("field_value_json"),
        )
        .repartition(1)
        .sortWithinPartitions("file_ref", "class_name", "field_name")
    )

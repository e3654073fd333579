"""Catalog bootstrap — the engine's equivalent of the reference's DDL.

The reference creates its five tables both in a setup script and idempotently
at app startup (`app/Auto-Magic Document AI.py:38-81`, `database/
setup_database.sql:46-90`); catalog/metadata scans (S4) are `SHOW`-style
queries.  Here: a warehouse directory of ParquetTables with CREATE IF NOT
EXISTS semantics, plus listing helpers over spark.catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.operators.dml import ParquetTable
from unstructured_data_pipeline_spark.schemas import (
    VARIANT_NATIVE_CONF,
    pipeline_tables,
)


def bootstrap_warehouse(
    spark: SparkSession, root: str, variant_native: bool | None = None
) -> dict[str, ParquetTable]:
    """CREATE IF NOT EXISTS for all five pipeline tables (S8).

    ``variant_native=None`` reads the session conf
    ``spark.unstructured_data_pipeline.variantNative`` (default off): when
    on, the structured payload columns are stored as Spark-4 VariantType;
    writers hand the same JSON strings either way (ParquetTable converts at
    the boundary)."""
    if variant_native is None:
        variant_native = (
            str(spark.conf.get(VARIANT_NATIVE_CONF, "false")).lower() == "true"
        )
    tables = {
        name: ParquetTable(spark, root, name, schema)
        for name, schema in pipeline_tables(variant_native).items()
    }
    for t in tables.values():
        t.ensure()  # metadata-only: a few filesystem calls, no Spark job
    return tables


def seed_invoice_prompts(spark: SparkSession, tables: dict[str, ParquetTable]) -> None:
    """Seed the `invoice` class iff absent (D2 anti-insert), mirroring the
    reference's static seed (`database/setup_database.sql:129-142`)."""
    from unstructured_data_pipeline_spark.functions.variant import canonical_json

    seed = {
        "invoice_number": "What is the invoice number?",
        "invoice_date": "What is the invoice date?",
        "due_date": "What is the payment due date?",
        "vendor_name": "What is the vendor or supplier name?",
        "vendor_address": "What is the vendor address?",
        "customer_name": "What is the customer name?",
        "total_amount": "What is the total amount due?",
        "tax_amount": "What is the tax amount?",
        "subtotal": "What is the subtotal before tax?",
        "payment_terms": "What are the payment terms?",
    }
    # inline VALUES is a LocalRelation: no Python worker pool for one row
    src = spark.sql(
        "SELECT * FROM VALUES (:class_name, :prompts,"
        " CAST(NULL AS TIMESTAMP_NTZ), CAST(NULL AS TIMESTAMP_NTZ))"
        " AS t(class_name, prompts, created_at, updated_at)",
        args={"class_name": "invoice", "prompts": canonical_json(seed)},
    )
    tables["class_prompts"].anti_insert(src, ["class_name"])


def list_stages(
    spark: SparkSession,
    roots: list[str],
    tables: dict[str, ParquetTable] | None = None,
) -> DataFrame:
    """SHOW STAGES counterpart (`app.py:108-133`): stages here are landing
    directories.  Mirrors the reference's union of scope listings plus the
    stage names already seen in NEW_UPLOADS (stripped of their ``@``).
    Output: (stage_name, stage_root) sorted by name."""
    import os

    rows: set[tuple[str, str]] = set()
    for root in roots:
        if os.path.isdir(root):
            for d in os.listdir(root):
                full = os.path.join(root, d)
                if os.path.isdir(full):
                    rows.add((d, full))
    seen = None
    if tables and "new_uploads" in tables:
        seen = (
            tables["new_uploads"]
            .read()
            .select(
                F.regexp_replace(F.col("stage_name"), "^@", "").alias("stage_name")
            )
            .filter(F.col("stage_name").isNotNull() & (F.col("stage_name") != ""))
            .distinct()
            .withColumn("stage_root", F.lit(None).cast("string"))
        )
    df = spark.createDataFrame(
        sorted(rows), "stage_name string, stage_root string"
    )
    if seen is not None:
        df = (
            df.unionByName(seen)
            .groupBy("stage_name")
            .agg(F.max("stage_root").alias("stage_root"))
        )
    return df.orderBy("stage_name")


def verify_table_counts(
    spark: SparkSession, tables: dict[str, ParquetTable]
) -> DataFrame:
    """INFORMATION_SCHEMA-style per-table row counts
    (`setup_database.sql:148-161`): one (table_name, row_count) row per
    warehouse table, sorted by name — the post-setup check that every
    CREATE landed and seeds arrived.  Counts are parquet-metadata reads
    (count() over a ParquetTable scan never materializes rows), so this is
    safe against warehouse tables of any size."""
    # round 13: the per-table counts are independent metadata-read jobs —
    # overlap them (guide §2.6); row values unchanged
    from concurrent.futures import ThreadPoolExecutor

    names = sorted(tables)
    with ThreadPoolExecutor(max_workers=max(1, len(names))) as pool:
        ns = list(pool.map(lambda n: tables[n].read().count(), names))
    counts = list(zip(names, ns))
    return spark.createDataFrame(counts, "table_name string, row_count long")


def setup_verification(
    spark: SparkSession,
    tables: dict[str, ParquetTable],
    stage_roots: list[str] | None = None,
) -> DataFrame:
    """The reference's post-setup verification block
    (`setup_database.sql:145-168`): one (object_type, count) row per object
    family — tables, stages, document classes, seeded prompts."""
    n_tables = len(tables)
    n_stages = (
        list_stages(spark, stage_roots, tables).count() if stage_roots else 0
    )
    # round 13: one aggregate instead of two actions over class_prompts.
    # countDistinct excludes NULL while .distinct().count() counted it as
    # a value, so a NULL-presence flag keeps the numbers identical.
    row = (
        tables["class_prompts"]
        .read()
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.countDistinct("class_name")
                + F.coalesce(
                    F.max(F.col("class_name").isNull().cast("long")), F.lit(0)
                )
            ).alias("c"),
        )
        .collect()[0]
    )
    n_classes = int(row["c"])
    n_prompts = int(row["n"])
    return spark.createDataFrame(
        [
            ("Tables", n_tables),
            ("Stages", n_stages),
            ("Document Classes", n_classes),
            ("Prompt Rows", n_prompts),
        ],
        "object_type string, count long",
    )

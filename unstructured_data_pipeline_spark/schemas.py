"""Schemas for the engine's data model.

Mirrors the reference's five relational tables (SURVEY.md section 1.1;
reference DDL `database/setup_database.sql:46-90`) resolved in favor of the
richer DDL variant — timestamp columns included but OPTIONAL: the reference's
app-side DDL omits them and its history query degrades gracefully
(`app/Auto-Magic Document AI.py:698-741`), so every reader here introspects
``df.columns`` instead of assuming them.

VARIANT columns (`prompts`, `extraction_result`, `field_value`, `ocr`) are
modeled as canonically-serialized JSON strings (compact separators, the same
client-side encoding the reference itself uses, `app.py:277-283`), with an
upgrade path to Spark 4 VariantType.
"""

from __future__ import annotations

from pyspark.sql import types as T

# class_name -> extraction prompt schema (reference setup_database.sql:46-51)
CLASS_PROMPTS = T.StructType(
    [
        T.StructField("class_name", T.StringType(), nullable=False),
        T.StructField("prompts", T.StringType()),  # JSON: {field: question} | ["q", text]
        T.StructField("created_at", T.TimestampNTZType()),
        T.StructField("updated_at", T.TimestampNTZType()),
    ]
)

# master record, one row per (document, run) (setup_database.sql:54-61)
DOCUMENTS_PROCESSED = T.StructType(
    [
        T.StructField("file_url", T.StringType()),
        T.StructField("file_ref", T.StringType()),
        T.StructField("class_name", T.StringType()),
        T.StructField("extraction_result", T.StringType()),  # JSON envelope
        T.StructField("processed_at", T.TimestampNTZType()),  # optional (drift)
    ]
)

# normalized EAV, one row per extracted field (setup_database.sql:64-72)
DOCUMENTS_EXTRACTED_FIELDS = T.StructType(
    [
        T.StructField("file_url", T.StringType()),
        T.StructField("file_ref", T.StringType()),
        T.StructField("class_name", T.StringType()),
        T.StructField("field_name", T.StringType()),
        T.StructField("field_value", T.StringType()),  # JSON scalar/object/array
        T.StructField("confidence", T.DoubleType()),  # reference never populates
        T.StructField("extracted_at", T.TimestampNTZType()),  # optional (drift)
    ]
)

# intake tracking — the hand-rolled streaming source (setup_database.sql:75-81)
NEW_UPLOADS = T.StructType(
    [
        T.StructField("file_name", T.StringType(), nullable=False),
        T.StructField("file_ref", T.StringType()),
        T.StructField("stage_name", T.StringType()),
        T.StructField("processed", T.BooleanType()),
        T.StructField("uploaded_at", T.TimestampNTZType()),
    ]
)

# OCR text + AI summary, one row per file (setup_database.sql:84-90)
DOCUMENT_OCR = T.StructType(
    [
        T.StructField("file_name", T.StringType(), nullable=False),
        T.StructField("file_ref", T.StringType()),
        T.StructField("ocr", T.StringType()),  # JSON: {"content": text, ...}
        T.StructField("summary", T.StringType()),
        T.StructField("processed_at", T.TimestampNTZType()),
    ]
)

PIPELINE_TABLES: dict[str, T.StructType] = {
    "class_prompts": CLASS_PROMPTS,
    "documents_processed": DOCUMENTS_PROCESSED,
    "documents_extracted_fields": DOCUMENTS_EXTRACTED_FIELDS,
    "new_uploads": NEW_UPLOADS,
    "document_ocr": DOCUMENT_OCR,
}

# primary keys for upsert semantics (MERGE targets in the reference,
# app.py:185-195, :548-554, :920-926)
PIPELINE_KEYS: dict[str, list[str]] = {
    "class_prompts": ["class_name"],
    "new_uploads": ["file_name"],
    "document_ocr": ["file_name"],
}

# --- Spark-4 native VariantType upgrade path (SURVEY §1.2) -----------------
# which columns upgrade per table (the reference's VARIANT columns that carry
# structured payloads; setup_database.sql:54-72)
VARIANT_COLUMNS: dict[str, list[str]] = {
    "documents_processed": ["extraction_result"],
    "documents_extracted_fields": ["field_value"],
}


def pipeline_tables(variant_native: bool = False) -> dict[str, T.StructType]:
    """The warehouse schemas under either VARIANT encoding.  String mode
    (default) is byte-stable canonical JSON — what the oracle hash gate
    compares; native mode stores binary VariantType (columnar decode,
    ~order-faster repeated path extraction on wide payloads)."""
    if not variant_native:
        return dict(PIPELINE_TABLES)
    out: dict[str, T.StructType] = {}
    for name, schema in PIPELINE_TABLES.items():
        vcols = set(VARIANT_COLUMNS.get(name, []))
        out[name] = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.VariantType() if f.name in vcols else f.dataType,
                    f.nullable,
                )
                for f in schema.fields
            ]
        )
    return out


# driver-generated fixture tables (TESTDATA.md)
FIXTURE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

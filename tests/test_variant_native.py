"""Spark-4 native VariantType warehouse encoding (SURVEY §1.2 upgrade path,
VERDICT r1 #8): the same pipeline persists green under BOTH encodings, with
semantically identical payloads."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from unstructured_data_pipeline_spark.catalog import bootstrap_warehouse
from unstructured_data_pipeline_spark.pipelines.batch import (
    persist_pipeline_outputs,
    run_document_pipeline,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            ("1.txt", "@s/1.txt", "customer alpha beta"),
            ("2.txt", "@s/2.txt", "stream gamma"),
            ("3.txt", "@s/3.txt", "plain contract words here"),
        ],
        "file_ref string, file_url string, text string",
    )


def _persist(spark, root, variant_native):
    tables = bootstrap_warehouse(spark, root, variant_native=variant_native)
    out = run_document_pipeline(_docs(spark), with_ocr=False)
    persist_pipeline_outputs(out, tables)
    return tables


def _norm(v):
    """Parse-if-JSON so '42' (string mode) and 42 (variant round-trip)
    compare equal."""
    if v is None:
        return None
    try:
        return json.loads(v)
    except (ValueError, TypeError):
        return v


def test_both_encodings_store_equivalent_payloads(spark, tmp_path):
    st = _persist(spark, str(tmp_path / "wh_str"), variant_native=False)
    vt = _persist(spark, str(tmp_path / "wh_var"), variant_native=True)

    # schema: the flagged columns really are VariantType
    vschema = vt["documents_extracted_fields"].schema
    assert isinstance(vschema["field_value"].dataType, T.VariantType)
    assert isinstance(
        vt["documents_processed"].schema["extraction_result"].dataType, T.VariantType
    )
    assert isinstance(
        st["documents_extracted_fields"].schema["field_value"].dataType, T.StringType
    )

    def eav(tables, val_col):
        return sorted(
            (r["file_ref"], r["field_name"], _norm(r["v"]))
            for r in tables["documents_extracted_fields"]
            .read()
            .select("file_ref", "field_name", val_col.alias("v"))
            .collect()
        )

    assert eav(st, F.col("field_value")) == eav(vt, F.to_json("field_value"))

    def envelopes(tables, col):
        return sorted(
            (r["file_ref"], _norm(r["v"]))
            for r in tables["documents_processed"]
            .read()
            .select("file_ref", col.alias("v"))
            .collect()
        )

    assert envelopes(st, F.col("extraction_result")) == envelopes(
        vt, F.to_json("extraction_result")
    )


def test_variant_native_path_extraction(spark, tmp_path):
    """The point of the upgrade: native variant path extraction works
    directly on the stored column — no JSON string re-parse per access."""
    vt = _persist(spark, str(tmp_path / "wh"), variant_native=True)
    rows = (
        vt["documents_processed"]
        .read()
        .select(
            "file_ref",
            F.try_variant_get(
                F.col("extraction_result"), "$.response.n_words", "string"
            ).alias("n_words"),
        )
        .collect()
    )
    got = {r["file_ref"]: r["n_words"] for r in rows}
    assert got == {"1.txt": "3", "2.txt": "2", "3.txt": "4"}


def test_variant_upsert_roundtrip(spark, tmp_path):
    """MERGE on a variant-encoded table: keyed rewrite keeps variant typing
    and replaces payloads."""
    vt = _persist(spark, str(tmp_path / "wh"), variant_native=True)
    tbl = vt["documents_extracted_fields"]
    patch = spark.createDataFrame(
        [("@s/1.txt", "1.txt", "invoice", "first_word", '"PATCHED"', None, None)],
        "file_url string, file_ref string, class_name string, field_name string,"
        " field_value string, confidence double, extracted_at timestamp_ntz",
    )
    tbl.upsert(patch, ["file_ref", "field_name"])
    got = {
        (r["file_ref"], r["field_name"]): r["v"]
        for r in tbl.read()
        .select("file_ref", "field_name", F.to_json("field_value").alias("v"))
        .collect()
    }
    assert got[("1.txt", "first_word")] == '"PATCHED"'
    assert len(got) == 9  # 3 docs x 3 fields, no dup rows


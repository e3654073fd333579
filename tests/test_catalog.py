"""S4 catalog breadth: SHOW STAGES / DIRECTORY(@stage) / setup-verification
counterparts (`app.py:108-140`, `setup_database.sql:145-168`)."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.catalog import (
    bootstrap_warehouse,
    list_stages,
    seed_invoice_prompts,
    setup_verification,
)
from unstructured_data_pipeline_spark.sources import directory_listing


def test_list_stages_union_of_dirs_and_seen(spark, tmp_path):
    (tmp_path / "stages" / "docs_stage").mkdir(parents=True)
    (tmp_path / "stages" / "img_stage").mkdir()
    tables = bootstrap_warehouse(spark, str(tmp_path / "wh"))
    # a stage only ever referenced by uploads bookkeeping (reference unions
    # SHOW STAGES with DISTINCT stage_name FROM NEW_UPLOADS)
    tables["new_uploads"].append(
        spark.createDataFrame(
            [("a.pdf", "a.pdf", "@legacy_stage", False, None)],
            tables["new_uploads"].schema,
        )
    )
    got = list_stages(spark, [str(tmp_path / "stages")], tables).collect()
    names = [r["stage_name"] for r in got]
    assert names == ["docs_stage", "img_stage", "legacy_stage"]
    roots = {r["stage_name"]: r["stage_root"] for r in got}
    assert roots["docs_stage"].endswith("/docs_stage")
    assert roots["legacy_stage"] is None


def test_list_stage_files_metadata_only(spark, tmp_path):
    """DIRECTORY(@stage): recursive, paths relative to the stage, sizes and
    mtimes; the format glob prunes unsupported files at the source."""
    stage = tmp_path / "docs_stage"
    (stage / "sub").mkdir(parents=True)
    (stage / "a.pdf").write_bytes(b"alpha")
    (stage / "ignored.txt").write_bytes(b"not a supported format")
    (stage / "sub" / "b.txt").write_bytes(b"not a supported format either")
    (stage / "sub" / "c.jpg").write_bytes(b"beta beta")
    df = directory_listing(spark, str(stage))
    rows = sorted(df.collect(), key=lambda r: r["relative_path"])
    assert [r["relative_path"] for r in rows] == ["a.pdf", "sub/c.jpg"]
    assert [r["length"] for r in rows] == [5, 9]
    assert all(r["file_url"].startswith("file:") for r in rows)
    assert all(r["modification_time"] is not None for r in rows)
    # the scan must NOT materialize blob contents: content column pruned
    plan = df._jdf.queryExecution().executedPlan().toString()
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all("content" not in s for s in schemas)


def test_setup_verification_counts(spark, tmp_path):
    (tmp_path / "stages" / "docs_stage").mkdir(parents=True)
    tables = bootstrap_warehouse(spark, str(tmp_path / "wh"))
    seed_invoice_prompts(spark, tables)
    got = {
        r["object_type"]: r["count"]
        for r in setup_verification(
            spark, tables, [str(tmp_path / "stages")]
        ).collect()
    }
    assert got == {
        "Tables": 5,
        "Stages": 1,
        "Document Classes": 1,
        "Prompt Rows": 1,
    }


def test_verify_table_counts_per_table(spark, tmp_path):
    from unstructured_data_pipeline_spark.catalog import verify_table_counts

    tables = bootstrap_warehouse(spark, str(tmp_path / "wh"))
    seed_invoice_prompts(spark, tables)
    rows = verify_table_counts(spark, tables).collect()
    got = {r["table_name"]: r["row_count"] for r in rows}
    # every bootstrapped table reports, names sorted, seed row visible
    assert set(got) == set(tables)
    assert [r["table_name"] for r in rows] == sorted(tables)
    assert got["class_prompts"] == 1
    assert all(v == 0 for k, v in got.items() if k != "class_prompts")


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_bootstrap_is_metadata_only(spark, tmp_path):
    """CREATE IF NOT EXISTS of the five tables submits no Spark job and
    writes no data file; every table reads back zero rows with its
    declared columns."""
    from unstructured_data_pipeline_spark.schemas import pipeline_tables

    root = tmp_path / "wh"
    before = _next_job_id(spark)
    tables = bootstrap_warehouse(spark, str(root))
    assert _next_job_id(spark) == before
    for t in tables.values():
        assert os.listdir(t.data_dir()) == ["_base"]  # no data file
    assert not [f for _, _, fs in os.walk(root) for f in fs if "parquet" in f]
    for name, schema in pipeline_tables(False).items():
        df = tables[name].read()
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in schema
        ]
        assert df.collect() == []


def test_seed_row_is_a_local_relation(spark, tmp_path, monkeypatch):
    """The seed row is built JVM-side (a LocalRelation), not from a Python
    RDD, so seeding starts no Python worker pool."""
    from unstructured_data_pipeline_spark.operators.dml import ParquetTable

    seen = []
    real = ParquetTable.anti_insert

    def spy(self, source, keys):
        seen.append(source._jdf.queryExecution().optimizedPlan().toString())
        return real(self, source, keys)

    monkeypatch.setattr(ParquetTable, "anti_insert", spy)
    tables = bootstrap_warehouse(spark, str(tmp_path / "wh"))
    seed_invoice_prompts(spark, tables)
    assert len(seen) == 1 and seen[0].startswith("LocalRelation")
    (row,) = tables["class_prompts"].read().collect()
    assert row["class_name"] == "invoice" and row["created_at"] is None
    assert '"invoice_number":"What is the invoice number?"' in row["prompts"]

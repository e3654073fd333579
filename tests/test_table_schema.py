"""The schema commits with the version (`operators/dml.py`
``ParquetTable.schema_of``): ``add_column`` commits a version whose
``_schema`` carries the evolved schema, the default as the new field's
Parquet ``EXISTS_DEFAULT``, and every read and write takes the schema from
the version it reads or bases on.  So a handle opened before an ALTER
keeps the column, rewrites keep defaults and stored NULLs apart, a clone
carries the schema inside its one commit, and partitioned tables take
defaults.  A version with no ``_schema`` reads in the constructor
schema."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from unstructured_data_pipeline_spark.operators.dml import (
    ParquetTable,
    PartitionedParquetTable,
)

SCHEMA = T.StructType(
    [T.StructField("k", T.StringType()), T.StructField("v", T.IntegerType())]
)
TIERED = "k string, v int, tier string"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _altered(spark, tmp_path, retain=1):
    """("a", 1) stored before ``tier`` (default STD) was added."""
    t = ParquetTable(spark, str(tmp_path), "t", SCHEMA, retain=retain).ensure()
    t.append(spark.createDataFrame([("a", 1)], SCHEMA))
    t.add_column("tier", T.StringType(), default="STD")
    return t


def test_stale_handle_append_keeps_the_new_column(spark, tmp_path):
    stale = ParquetTable(spark, str(tmp_path), "t", SCHEMA)
    _altered(spark, tmp_path)
    stale.append(spark.createDataFrame([("b", 2, "GOLD")], TIERED))
    assert _rows(stale.read()) == [("a", 1, "STD"), ("b", 2, "GOLD")]


def test_stale_handle_upsert_keeps_every_rows_column(spark, tmp_path):
    """A rewrite by a handle opened before the ALTER keeps the column of
    every row, and rows that lack it raise before anything is staged."""
    stale = ParquetTable(spark, str(tmp_path), "t", SCHEMA)
    t = _altered(spark, tmp_path)
    t.append(spark.createDataFrame([("b", 2, "GOLD")], TIERED))
    stale.upsert(spark.createDataFrame([("c", 3, None)], TIERED), ["k"])
    want = [("a", 1, "STD"), ("b", 2, "GOLD"), ("c", 3, None)]
    assert _rows(t.read()) == want
    v = t.current_version()
    with pytest.raises(KeyError, match="tier"):
        stale.upsert(spark.createDataFrame([("d", 4)], SCHEMA), ["k"])
    assert t.current_version() == v
    assert sorted(os.listdir(t.path)) == [v]
    assert _rows(t.read()) == want


def test_transact_and_commit_rewrite_keep_defaults_and_stored_nulls(
    spark, tmp_path
):
    t = _altered(spark, tmp_path)
    t.append(spark.createDataFrame([("b", 2, None), ("c", 3, "GOLD")], TIERED))
    want = [("a", 1, "STD"), ("b", 2, None), ("c", 3, "GOLD")]
    assert _rows(t.read()) == want
    t.transact(lambda df: df)
    assert _rows(t.read()) == want
    base = t.current_version()
    t.commit_rewrite(t.read_version(base), base)
    assert _rows(t.read()) == want
    t.compact()
    assert _rows(t.read()) == want


def test_clone_crash_after_its_rename_keeps_the_schema(
    spark, tmp_path, monkeypatch
):
    """The clone's schema commits with its one rename: a crash right after
    it leaves a clone whose pre-ALTER rows read the default through a
    fresh handle."""
    t = _altered(spark, tmp_path)

    class Crash(Exception):
        pass

    def crash(self):
        raise Crash

    monkeypatch.setattr(ParquetTable, "_gc", crash)  # runs after the rename
    with pytest.raises(Crash):
        t.clone("dst")
    monkeypatch.undo()
    fresh = ParquetTable(spark, str(tmp_path), "dst", SCHEMA)
    assert _rows(fresh.read()) == [("a", 1, "STD")]


def test_uncastable_default_commits_nothing(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path), "t", SCHEMA).ensure()
    t.append(spark.createDataFrame([("a", 1)], SCHEMA))
    v = t.current_version()
    with pytest.raises(ValueError, match="abc"):
        t.add_column("n", T.IntegerType(), default="abc")
    assert t.current_version() == v
    assert _rows(t.read()) == [("a", 1)]
    t.add_column("n", T.IntegerType(), default=7)
    t.add_column("s", T.StringType(), default="it's \\ fine")
    assert _rows(t.read()) == [("a", 1, 7, "it's \\ fine")]


def test_partitioned_table_takes_a_default(spark, tmp_path):
    schema = T.StructType([*SCHEMA.fields, T.StructField("p", T.StringType())])
    t = PartitionedParquetTable(spark, str(tmp_path), "p", schema, ["p"])
    t.ensure().append(spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")], schema))
    t.add_column("tier", T.StringType(), default="STD")
    assert _rows(t.read()) == [("a", 1, "x", "STD"), ("b", 2, "y", "STD")]
    t.upsert(
        spark.createDataFrame([("a", 5, "x", None)], t.schema), ["k", "p"]
    )
    assert _rows(t.read()) == [("a", 5, "x", None), ("b", 2, "y", "STD")]


def test_snapshot_before_an_alter_reads_without_the_column(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path), "t", SCHEMA, retain=3).ensure()
    t.append(spark.createDataFrame([("a", 1)], SCHEMA))
    before = t.current_version()
    t.add_column("tier", T.StringType(), default="STD")
    assert t.read_version(before).columns == ["k", "v"]
    assert t.read().columns == ["k", "v", "tier"]
    # a table never ALTERed or cloned carries no schema file
    assert "_schema" not in os.listdir(os.path.join(t.path, before))

"""ParquetTable's one commit path (`operators/dml.py` ``ParquetTable._commit``):
every version is staged, claimed O_EXCL, renamed into place and marked
committed, so a rewrite computed from a stale snapshot fails instead of
overwriting another writer's commit, and every read of a version goes
through one reader (``read_version``)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from unstructured_data_pipeline_spark.operators.dml import (
    CommitConflictError,
    ParquetTable,
)

SCHEMA = T.StructType(
    [T.StructField("k", T.StringType()), T.StructField("v", T.IntegerType())]
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_read_version_of_current_keeps_pre_alter_rows(spark, tmp_path):
    """read() and read_version(current_version()) are one read: both see
    the rows hardlinked under the ALTER's `pre-alter-<col>/` epoch dir,
    backfilled with the default.  A snapshot older than the ALTER still
    reads the new column as NULL."""
    t = ParquetTable(spark, str(tmp_path), "alter", SCHEMA, retain=3).ensure()
    t.append(spark.createDataFrame([("a", 1)], SCHEMA))
    before_alter = t.current_version()
    t.add_column("grade", T.StringType(), default="unrated")
    t.append(spark.createDataFrame([("b", 2, None)], t.schema))
    want = [("a", 1, "unrated"), ("b", 2, None)]
    assert _rows(t.read()) == want
    assert _rows(t.read_version(t.current_version())) == want
    assert _rows(t.read_version(before_alter)) == [("a", 1, None)]


def test_upsert_raises_on_lost_update(spark, tmp_path, monkeypatch):
    """A second writer commits while the first upsert's snapshot is being
    written: the first must raise CommitConflictError, and the second
    writer's rows must survive.  retain=2 keeps the shared base readable
    (with retain=1 the winner's GC drops it and the loser's write fails
    on the missing base files instead)."""
    from pyspark.sql.readwriter import DataFrameWriter

    t = ParquetTable(spark, str(tmp_path), "lost", SCHEMA, retain=2).ensure()
    t.append(spark.createDataFrame([("seed", 0)], SCHEMA))
    other = ParquetTable(spark, str(tmp_path), "lost", SCHEMA, retain=2)
    real = DataFrameWriter.parquet
    fired = []

    def parquet(self, path, *args, **kwargs):
        if not fired and str(path).startswith(t.path + os.sep):
            fired.append(path)
            other.upsert(spark.createDataFrame([("b", 2)], SCHEMA), ["k"])
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(CommitConflictError):
        t.upsert(spark.createDataFrame([("a", 1)], SCHEMA), ["k"])
    monkeypatch.undo()
    assert fired
    assert _rows(t.read()) == [("b", 2), ("seed", 0)]
    assert not [d for d in os.listdir(t.path) if d.startswith("stage-")]

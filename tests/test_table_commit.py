"""ParquetTable's one commit path (`operators/dml.py` ``ParquetTable._commit``):
every version is staged, claimed O_EXCL, renamed into place and marked
committed, so a rewrite computed from a stale snapshot fails instead of
overwriting another writer's commit, and every read of a version goes
through one reader (``read_version``)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from unstructured_data_pipeline_spark.operators.dml import (
    CommitConflictError,
    ParquetTable,
    PartitionedParquetTable,
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


# -- metadata-only creation: the first version is an empty dir -------------

SCHEMA3 = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("p", T.StringType()),
        T.StructField("v", T.IntegerType()),
    ]
)
ROWS = [("a", "x", 1), ("b", "y", 2)]


@pytest.fixture(params=["flat", "partitioned"])
def fresh(request, spark, tmp_path):
    """A just-created table in either layout (partitioned on ``p``)."""
    if request.param == "flat":
        t = ParquetTable(spark, str(tmp_path), "t", SCHEMA3, retain=2)
    else:
        t = PartitionedParquetTable(
            spark, str(tmp_path), "t", SCHEMA3, ["p"], retain=2
        )
    t.ensure()
    assert t.current_version() == "v-00000001"
    assert os.listdir(t.data_dir()) == []
    return t


def _df(spark, rows, schema=SCHEMA3):
    return spark.createDataFrame(rows, schema)


def test_fresh_table_reads_empty_with_its_schema(fresh):
    for df in (fresh.read(), fresh.read_version("v-00000001")):
        assert df.schema.names == SCHEMA3.names
        assert [f.dataType for f in df.schema] == [f.dataType for f in SCHEMA3]
        assert df.collect() == []


def test_fresh_table_append(spark, fresh):
    fresh.append(_df(spark, ROWS))
    assert _rows(fresh.read()) == ROWS


def test_fresh_table_upsert(spark, fresh):
    fresh.upsert(_df(spark, ROWS), ["k"])
    assert fresh.current_version() == "v-00000002"
    assert _rows(fresh.read()) == ROWS
    fresh.upsert(_df(spark, [("a", "x", 5)]), ["k"])
    assert _rows(fresh.read()) == [("a", "x", 5), ("b", "y", 2)]


def test_fresh_table_anti_insert(spark, fresh):
    fresh.anti_insert(_df(spark, ROWS), ["k"])
    fresh.anti_insert(_df(spark, [("a", "x", 9), ("c", "x", 3)]), ["k"])
    assert _rows(fresh.read()) == [*ROWS, ("c", "x", 3)]


def test_fresh_table_delete_where(spark, fresh):
    pred = F.col("k") == "a"
    if isinstance(fresh, PartitionedParquetTable):
        fresh.delete_where(pred, [("x",)])
    else:
        fresh.delete_where(pred)
    assert fresh.current_version() == "v-00000002"
    assert fresh.read().collect() == []
    fresh.append(_df(spark, ROWS))
    assert _rows(fresh.read()) == ROWS


def test_fresh_table_delete_keys_mor(spark, fresh):
    fresh.delete_keys_mor(_df(spark, [("a", "x", 0)]), ["k"])
    assert fresh.read().collect() == []
    fresh.append(_df(spark, ROWS))  # a tombstoned key stays hidden
    assert _rows(fresh.read()) == [("b", "y", 2)]


def test_fresh_table_compact(spark, fresh):
    fresh.compact()
    assert fresh.current_version() == "v-00000002"
    assert fresh.read().collect() == []
    fresh.append(_df(spark, ROWS))
    assert _rows(fresh.read()) == ROWS


def test_fresh_table_add_column(spark, fresh):
    schema4 = T.StructType([*SCHEMA3.fields, T.StructField("g", T.StringType())])
    if isinstance(fresh, PartitionedParquetTable):
        with pytest.raises(ValueError):
            fresh.add_column("g", T.StringType(), default="d")
        fresh.add_column("g", T.StringType())
    else:
        fresh.add_column("g", T.StringType(), default="d")
    assert fresh.read().schema.names == schema4.names
    assert fresh.read().collect() == []
    fresh.append(_df(spark, [("a", "x", 1, None), ("b", "y", 2, "z")], schema4))
    # rows written after the ALTER keep a stored NULL as NULL
    assert _rows(fresh.read()) == [("a", "x", 1, None), ("b", "y", 2, "z")]


def test_fresh_table_clone(spark, fresh):
    c = fresh.clone("t_clone")
    assert type(c) is type(fresh)
    assert c.current_version() == "v-00000001"
    assert c.read().collect() == []
    c.append(_df(spark, ROWS))
    assert _rows(c.read()) == ROWS
    assert fresh.read().collect() == []


def test_fresh_table_read_version(spark, fresh):
    fresh.upsert(_df(spark, ROWS), ["k"])
    assert fresh.read_version("v-00000001").collect() == []
    assert _rows(fresh.read_version("v-00000002")) == ROWS


# -- upsert key set: no dedup before the LEFT ANTI join --------------------


def test_upsert_duplicate_source_keys_without_key_aggregate(spark):
    """Duplicate source keys: every source row lands and each matched
    target row goes, exactly as with a deduplicated key set, and the plan
    has no aggregate over the source keys."""
    from unstructured_data_pipeline_spark.operators.dml import upsert

    target = _df(spark, [("a", 1), ("b", 2)], SCHEMA)
    source = _df(spark, [("a", 10), ("a", 11), ("c", 3), ("c", 3)], SCHEMA)
    out = upsert(target, source, ["k"])
    assert _rows(out) == [("a", 10), ("a", 11), ("b", 2), ("c", 3), ("c", 3)]
    qe = out._jdf.queryExecution()
    assert "Aggregate" not in qe.optimizedPlan().toString()
    assert "HashAggregate" not in qe.executedPlan().toString()

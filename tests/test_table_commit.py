"""ParquetTable's one commit path (`operators/dml.py` ``ParquetTable._commit``):
every version is staged in full, with a ``_base`` file naming its base and
a unique cookie, and committed by renaming the stage onto the next version
number, which fails when that version exists.  Every write runs in one
optimistic loop (``ParquetTable._write``), so a write built from a stale
snapshot is rebuilt on the newer version instead of overwriting another
writer's commit, a crash at any step leaves a readable, writable table,
and every read of a version goes through one reader (``read_version``).
Foreign residue at the table root (a file named like a version, a root
``schema.json``) is never read as a version, never blocks a commit, and
``recover_stale`` removes it."""

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
    """read() and read_version(current_version()) are one read: both fill
    the ALTER default into the rows stored before it.  A snapshot older
    than the ALTER reads in its own schema, without the new column."""
    t = ParquetTable(spark, str(tmp_path), "alter", SCHEMA, retain=3).ensure()
    t.append(spark.createDataFrame([("a", 1)], SCHEMA))
    before_alter = t.current_version()
    t.add_column("grade", T.StringType(), default="unrated")
    t.append(spark.createDataFrame([("b", 2, None)], t.schema))
    want = [("a", 1, "unrated"), ("b", 2, None)]
    assert _rows(t.read()) == want
    assert _rows(t.read_version(t.current_version())) == want
    assert t.read_version(before_alter).columns == ["k", "v"]
    assert _rows(t.read_version(before_alter)) == [("a", 1)]


def _overtake_first_fill(monkeypatch, table, race):
    """Run ``race()`` once, when the first write into ``table``'s dir (a
    parquet write or a hardlink walk into a stage) starts: another writer
    commits while this write's fill is under way."""
    from pyspark.sql.readwriter import DataFrameWriter

    from unstructured_data_pipeline_spark.operators import dml

    fired = []

    def hook(real):
        def wrapped(self_or_src, path, *args, **kwargs):
            if not fired and str(path).startswith(table.path + os.sep):
                fired.append(path)
                race()
            return real(self_or_src, path, *args, **kwargs)

        return wrapped

    monkeypatch.setattr(DataFrameWriter, "parquet", hook(DataFrameWriter.parquet))
    monkeypatch.setattr(dml, "_link_tree", hook(dml._link_tree))
    return fired


def _rollup_merge(t):
    from unstructured_data_pipeline_spark.streaming.rollup import merge_rollup_batch

    batch = t.spark.createDataFrame([("a", 1), ("b", 5)], "k string, v long")
    assert merge_rollup_batch(t, batch, ["k"], ["v"], 0)


# op -> (layout, the write, the rows once the winner's ("b", 2) landed first)
OVERTAKEN = {
    "upsert": (
        "flat",
        lambda t: t.upsert(_df(t.spark, [("a", 1)], SCHEMA), ["k"]),
        [("a", 1), ("b", 2), ("seed", 0)],
    ),
    "delete_where": (
        "flat",
        lambda t: t.delete_where(F.col("k") == "seed"),
        [("b", 2)],
    ),
    "compact": ("flat", lambda t: t.compact(1), [("b", 2), ("seed", 0)]),
    "add_column": (
        "flat",
        lambda t: t.add_column("g", T.StringType(), default="d"),
        [("b", 2, "d"), ("seed", 0, "d")],
    ),
    "merge_rollup_batch": ("rollup", _rollup_merge, [("a", 1), ("b", 7), ("seed", 0)]),
    "partitioned_upsert": (
        "partitioned",
        lambda t: t.upsert(_df(t.spark, [("a", "x", 1)], SCHEMA3), ["k"]),
        [("a", "x", 1), ("b", "y", 2), ("seed", "x", 0)],
    ),
}


@pytest.mark.parametrize("retain", [1, 2])
@pytest.mark.parametrize("op", list(OVERTAKEN))
def test_write_overtaken_during_fill_retries(spark, tmp_path, monkeypatch, op, retain):
    """Another writer appends while a write's stage is being filled.  With
    retain=1 the winner's GC drops the base under the fill, so the fill
    fails on missing files; with retain=2 the commit finds its base stale.
    Either way the write retries from the winner's version and lands on
    top of its rows, leaving no stage behind."""
    layout, write, want = OVERTAKEN[op]
    if layout == "partitioned":
        make = lambda: PartitionedParquetTable(  # noqa: E731
            spark, str(tmp_path), "t", SCHEMA3, ["p"], retain=retain
        )
        seed, winner = ("seed", "x", 0), ("b", "y", 2)
    else:
        schema = T.StructType.fromDDL("k string, v long") if layout == "rollup" else SCHEMA
        make = lambda: ParquetTable(  # noqa: E731
            spark, str(tmp_path), "t", schema, retain=retain
        )
        seed, winner = ("seed", 0), ("b", 2)
    t, other = make().ensure(), make()
    t.append(spark.createDataFrame([seed], t.schema))
    fired = _overtake_first_fill(
        monkeypatch, t, lambda: other.append(spark.createDataFrame([winner], t.schema))
    )
    write(t)
    monkeypatch.undo()
    assert fired
    assert _rows(t.read()) == want
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
    assert os.listdir(t.data_dir()) == ["_base"]  # no data file
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


def test_tombstoned_read_builds_without_a_job(spark, fresh):
    """Building ``read()`` of a version with tombstones submits no Spark
    job: the tombstone scan is given its key schema, so nothing is
    inferred."""
    fresh.append(_df(spark, ROWS))
    fresh.delete_keys_mor(_df(spark, [("a", "x", 0)]), ["k"])
    sc = spark.sparkContext._jsc.sc()
    before = sc.dagScheduler().nextJobId()
    df = fresh.read()
    assert sc.dagScheduler().nextJobId() == before
    assert _rows(df) == ROWS[1:]


def test_fresh_table_compact(spark, fresh):
    fresh.compact()
    assert fresh.current_version() == "v-00000002"
    assert fresh.read().collect() == []
    fresh.append(_df(spark, ROWS))
    assert _rows(fresh.read()) == ROWS


def test_fresh_table_add_column(spark, fresh):
    schema4 = T.StructType([*SCHEMA3.fields, T.StructField("g", T.StringType())])
    fresh.add_column("g", T.StringType(), default="d")
    assert fresh.current_version() == "v-00000002"
    assert sorted(os.listdir(fresh.data_dir())) == ["_base", "_schema"]
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


def test_anti_insert_without_key_aggregate(spark, tmp_path, monkeypatch):
    """Duplicate target keys: the LEFT ANTI join ignores them, so neither
    anti_insert form plans an aggregate over the target keys."""
    from unstructured_data_pipeline_spark.operators.dml import anti_insert

    target = _df(spark, [("a", 1), ("a", 1), ("b", 2)], SCHEMA)
    source = _df(spark, [("a", 10), ("c", 3), ("c", 3)], SCHEMA)
    out = anti_insert(target, source, ["k"])
    assert _rows(out) == [("a", 1), ("a", 1), ("b", 2), ("c", 3), ("c", 3)]
    assert "Aggregate" not in out._jdf.queryExecution().optimizedPlan().toString()

    t = ParquetTable(spark, str(tmp_path), "ai", SCHEMA).ensure()
    t.append(target)
    plans = []
    real = ParquetTable._write_snapshot

    def spy(self, df, path):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real(self, df, path)

    monkeypatch.setattr(ParquetTable, "_write_snapshot", spy)
    t.anti_insert(source, ["k"])
    monkeypatch.undo()
    assert len(plans) == 1 and "Aggregate" not in plans[0]
    assert _rows(t.read()) == [("a", 1), ("a", 1), ("b", 2), ("c", 3), ("c", 3)]


# -- every write is a commit: appends and MOR deletes ----------------------


class Crash(RuntimeError):
    pass


def _crash_on_write_under(monkeypatch, table):
    """Make the next parquet write into ``table``'s dir raise right after
    its files are written — a crash inside the commit's fill."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if str(path).startswith(table.path + os.sep):
            raise Crash(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def _staged(t):
    return [d for d in os.listdir(t.path) if d.startswith("stage-")]


def test_append_during_a_rewrite_is_not_lost(spark, tmp_path):
    """A rewrite whose snapshot was read before an append lands must not
    commit over the append: transact runs it again on the appended
    version, and both the append and the rewrite land."""
    from unstructured_data_pipeline_spark.operators.dml import upsert

    t = ParquetTable(spark, str(tmp_path), "t", SCHEMA).ensure()
    t.append(_df(spark, [("a", 1)], SCHEMA))
    calls = []

    def rewrite(cur):
        calls.append(1)
        if len(calls) == 1:
            t.append(_df(spark, [("b", 9)], SCHEMA))
        return upsert(cur, _df(spark, [("a", 2)], SCHEMA), ["k"])

    t.transact(rewrite)
    assert len(calls) == 2
    assert _rows(t.read()) == [("a", 2), ("b", 9)]


def test_gc_error_after_the_rename_commits_once(spark, tmp_path, monkeypatch):
    """The retention GC raises once after a write's rename committed it.
    The write raises that error and is not committed a second time: the
    table holds one new version and the rows once."""
    t = ParquetTable(spark, str(tmp_path), "t", SCHEMA).ensure()
    t.append(_df(spark, [("seed", 0)], SCHEMA))
    before = t.versions()
    real = ParquetTable._gc
    failed = []

    def gc(self):
        if not failed:
            failed.append(1)
            raise FileNotFoundError("a concurrent GC removed a file")
        return real(self)

    monkeypatch.setattr(ParquetTable, "_gc", gc)
    with pytest.raises(FileNotFoundError, match="concurrent GC"):
        t.append(_df(spark, [("a", 1)], SCHEMA))
    monkeypatch.undo()
    assert t.versions() == [*before, _next(before[-1])]
    assert _rows(t.read()) == [("a", 1), ("seed", 0)]


def test_append_overtaken_during_fill_retries(spark, tmp_path, monkeypatch):
    """Another writer commits while an append's new files are being
    written: the append loses the claim, retries from the new base, and
    both rows land."""
    from pyspark.sql.readwriter import DataFrameWriter

    t = ParquetTable(spark, str(tmp_path), "t", SCHEMA).ensure()
    other = ParquetTable(spark, str(tmp_path), "t", SCHEMA)
    real = DataFrameWriter.parquet
    fired = []

    def parquet(self, path, *args, **kwargs):
        if not fired and str(path).startswith(t.path + os.sep):
            fired.append(path)
            other.append(_df(spark, [("b", 2)], SCHEMA))
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    t.append(_df(spark, [("a", 1)], SCHEMA))
    monkeypatch.undo()
    assert fired
    assert _rows(t.read()) == [("a", 1), ("b", 2)]
    assert not _staged(t)


def test_concurrent_appends_all_land(spark, tmp_path):
    """More appenders than cores race on one table (retain=1, so a lost
    base is also GC'd under a loser's link walk): each append retries
    until it commits, and no row is lost."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    t = ParquetTable(spark, str(tmp_path), "t", SCHEMA).ensure()
    n = min((os.cpu_count() or 4) + 2, 10)  # each round one of n writes wins
    rows = [(f"r{i}", i) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=n) as ex:
            futures = [ex.submit(t.append, _df(spark, [r], SCHEMA)) for r in rows]
            for f in futures:
                f.result(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert _rows(t.read()) == sorted(rows)
    assert int(t.current_version()[2:]) == n + 1
    assert not _staged(t)


def test_concurrent_upserts_and_appends_all_land(spark, tmp_path):
    """Upserts and appends race on one retain=1 table, more writers than
    cores: each loser's base is GC'd under its fill or found stale at its
    commit, and every write retries until it lands, once."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    n = min((os.cpu_count() or 4) + 2, 8)
    t = ParquetTable(spark, str(tmp_path), "t", SCHEMA).ensure()
    t.append(_df(spark, [(f"k{i}", 0) for i in range(n)], SCHEMA))
    writes = [
        (t.upsert, (_df(spark, [(f"k{i}", i)], SCHEMA), ["k"]))
        if i % 2
        else (t.append, (_df(spark, [(f"a{i}", i)], SCHEMA),))
        for i in range(n)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=n) as ex:
            futures = [ex.submit(f, *args) for f, args in writes]
            for f in futures:
                f.result(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    want = {f"k{i}": i % 2 * i for i in range(n)}
    want.update({f"a{i}": i for i in range(0, n, 2)})
    assert _rows(t.read()) == sorted(want.items())
    assert int(t.current_version()[2:]) == n + 2
    assert not _staged(t)


def test_append_leaves_the_base_version_untouched(spark, fresh):
    """An append commits a new version; no file of the base version it
    hardlinks from is written, its `_SUCCESS` marker included."""

    def files(vdir):
        return {
            os.path.relpath(os.path.join(d, f), vdir): os.stat(os.path.join(d, f))
            for d, _, fs in os.walk(vdir)
            for f in fs
        }

    fresh.append(_df(spark, ROWS[:1]))
    base = fresh.data_dir()
    before = {p: (st.st_ino, st.st_mtime_ns) for p, st in files(base).items()}
    fresh.append(_df(spark, ROWS[1:]))
    assert fresh.data_dir() != base
    after = files(base)
    assert {p: (st.st_ino, st.st_mtime_ns) for p, st in after.items()} == before
    carried = files(fresh.data_dir())
    # the new version's _SUCCESS and _base are its own
    shared = [p for p in before if "_SUCCESS" not in p and p != "_base"]
    assert shared and all(carried[p].st_ino == before[p][0] for p in shared)


def test_append_crash_in_fill_leaves_table_unchanged(spark, fresh, monkeypatch):
    fresh.append(_df(spark, ROWS[:1]))
    _crash_on_write_under(monkeypatch, fresh)
    with pytest.raises(Crash):
        fresh.append(_df(spark, ROWS[1:]))
    monkeypatch.undo()
    assert _rows(fresh.read()) == ROWS[:1]
    assert not _staged(fresh)
    fresh.append(_df(spark, ROWS[1:]))  # the replay lands once
    assert _rows(fresh.read()) == ROWS


def test_mor_delete_crash_in_fill_leaves_table_unchanged(spark, fresh, monkeypatch):
    fresh.append(_df(spark, ROWS))
    _crash_on_write_under(monkeypatch, fresh)
    with pytest.raises(Crash):
        fresh.delete_keys_mor(_df(spark, [("a", "x", 0)]), ["k"])
    monkeypatch.undo()
    assert _rows(fresh.read()) == ROWS
    assert not _staged(fresh)
    fresh.delete_keys_mor(_df(spark, [("a", "x", 0)]), ["k"])
    assert _rows(fresh.read()) == ROWS[1:]


def test_tombstones_survive_alter_append_and_pruned_upsert(spark, tmp_path):
    """MOR-deleted keys stay hidden through every write that does not fold
    them: an ALTER epoch, an append, and a partition-pruned upsert of
    another partition."""
    flat = ParquetTable(spark, str(tmp_path), "flat", SCHEMA3).ensure()
    flat.append(_df(spark, ROWS))
    flat.delete_keys_mor(_df(spark, [("a", "x", 0)]), ["k"])
    flat.add_column("g", T.StringType(), default="d")
    assert _rows(flat.read()) == [("b", "y", 2, "d")]
    flat.append(_df(spark, [("c", "x", 3, None)], flat.schema))
    assert _rows(flat.read()) == [("b", "y", 2, "d"), ("c", "x", 3, None)]

    part = PartitionedParquetTable(spark, str(tmp_path), "part", SCHEMA3, ["p"])
    part.ensure().append(_df(spark, ROWS))
    part.delete_keys_mor(_df(spark, [("a", "x", 0)]), ["k"])
    part.upsert(_df(spark, [("b", "y", 5)]), ["k", "p"])
    assert _rows(part.read()) == [("b", "y", 5)]
    part.append(_df(spark, [("c", "y", 3)]))
    assert _rows(part.read()) == [("b", "y", 5), ("c", "y", 3)]


def test_pruned_upsert_reinserting_a_tombstoned_key_shows_it(spark, tmp_path):
    """The pruned merge drops the tombstones of keys its rewritten rows
    re-insert, and keeps the others."""
    t = PartitionedParquetTable(spark, str(tmp_path), "t", SCHEMA3, ["p"])
    t.ensure().append(_df(spark, [*ROWS, ("c", "x", 3)]))
    t.delete_keys_mor(_df(spark, [("a", "x", 0), ("c", "x", 0)]), ["k"])
    t.upsert(_df(spark, [("a", "x", 7)]), ["k", "p"])
    assert _rows(t.read()) == [("a", "x", 7), ("b", "y", 2)]


def test_pruned_upsert_keeps_tombstone_of_a_key_in_an_untouched_partition(
    spark, tmp_path
):
    """A tombstone on a key whose deleted row sits in an untouched
    partition must survive a pruned upsert that writes the key elsewhere:
    dropping it would resurrect the carried row beside the new one."""
    t = PartitionedParquetTable(spark, str(tmp_path), "t", SCHEMA3, ["p"])
    t.ensure().append(_df(spark, ROWS))
    t.delete_keys_mor(_df(spark, [("a", "x", 0)]), ["k"])
    t.upsert(_df(spark, [("a", "y", 7)]), ["k"])
    assert _rows(t.read()) == [("b", "y", 2)]  # key-based: hidden until fold


# -- the rename is the commit ----------------------------------------------


def _make(spark, tmp_path, retain=1):
    """A table whose current version v-00000002 holds one row."""
    t = ParquetTable(spark, str(tmp_path), "t", SCHEMA, retain=retain).ensure()
    t.append(_df(spark, [("seed", 0)], SCHEMA))
    return t


def _next(version):
    return f"v-{int(version[2:]) + 1:08d}"


def test_versions_born_with_unique_cookie(spark, tmp_path):
    """Every version holds a `_base` file naming its base version (or
    `create`) and a unique cookie.  It keeps even a just-created table's
    version dir non-empty, so a rename onto an existing version fails."""
    t = _make(spark, tmp_path, retain=3)
    base = t.current_version()
    v = t.commit_rewrite(t.read_version(base), base)
    bodies = {}
    for version in t.versions():
        with open(os.path.join(t.path, version, "_base")) as fh:
            bodies[version] = fh.read()
    assert bodies[v].startswith(base + ":") and len(bodies[v]) == len(base) + 33
    first = bodies["v-00000001"]
    assert first.startswith("create:") and len(first) == len("create:") + 32
    assert len(set(bodies.values())) == 3


def test_stale_base_fails_fast_without_staging(spark, tmp_path, monkeypatch):
    """A rewrite whose base is no longer the newest version conflicts
    before the expensive staged write, not after."""
    t = _make(spark, tmp_path, retain=2)
    base = t.current_version()
    t.append(_df(spark, [("b", 1)], SCHEMA))
    writes = []
    monkeypatch.setattr(ParquetTable, "_write_snapshot", lambda *a: writes.append(a))
    with pytest.raises(CommitConflictError):
        t.commit_rewrite(t.read_version(base), base)
    monkeypatch.undo()
    assert writes == [] and not _staged(t)
    t.transact(lambda df: df)  # the table takes the next commit
    assert _rows(t.read()) == [("b", 1), ("seed", 0)]


def test_racing_commits_on_one_base_have_one_winner(spark, tmp_path):
    """Writers that all staged a version on the same base race to rename
    it into place: exactly one wins, the others raise CommitConflictError
    and leave no stage behind."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    t = _make(spark, tmp_path)
    base = t.current_version()
    n = 8
    all_staged = threading.Barrier(n)

    def commit(i):
        def fill(stage):
            os.makedirs(stage)
            open(os.path.join(stage, f"writer-{i}"), "w").close()
            all_staged.wait(timeout=60)

        try:
            return t._commit(base, fill)
        except CommitConflictError:
            return None

    with ThreadPoolExecutor(max_workers=n) as ex:
        wins = [v for v in ex.map(commit, range(n)) if v]
    assert wins == [_next(base)]
    assert t.versions() == wins
    assert len([f for f in os.listdir(t.data_dir()) if f.startswith("writer-")]) == 1
    assert not _staged(t)


def test_rename_error_after_a_landed_rename_counts_as_commit(
    spark, tmp_path, monkeypatch
):
    """NFS can lose a rename's reply, and the client's retry then fails
    although the first rename landed.  The commit finds its own cookie in
    the version's `_base` and counts as committed, once.  A rename error
    with no landed rename behind it is raised, and the stage removed."""
    import errno

    t = _make(spark, tmp_path)
    real = os.rename

    def lost_reply(src, dst):
        real(src, dst)
        if os.path.basename(dst).startswith("v-"):
            raise FileNotFoundError(errno.ENOENT, "retransmitted rename", src)

    monkeypatch.setattr(os, "rename", lost_reply)
    t.append(_df(spark, [("a", 1)], SCHEMA))
    monkeypatch.undo()
    assert t.versions() == ["v-00000003"]
    assert _rows(t.read()) == [("a", 1), ("seed", 0)]

    def refused(src, dst):
        if os.path.basename(dst).startswith("v-"):
            raise PermissionError(errno.EACCES, "refused", dst)
        return real(src, dst)

    monkeypatch.setattr(os, "rename", refused)
    with pytest.raises(PermissionError):
        t.append(_df(spark, [("b", 2)], SCHEMA))
    monkeypatch.undo()
    assert t.versions() == ["v-00000003"] and not _staged(t)


def test_commit_on_a_base_gcd_during_its_fill_conflicts(spark, tmp_path):
    """With retain=1, two other writers commit v-2 and v-3 while a commit
    based on v-1 fills its stage, and their GC drops v-1 and v-2.  The
    commit must raise CommitConflictError, not land on the freed
    v-00000002 below the current version, where no read sees its rows."""
    t = ParquetTable(spark, str(tmp_path), "t", SCHEMA).ensure()
    other = ParquetTable(spark, str(tmp_path), "t", SCHEMA)

    def fill(stage):
        other.append(_df(spark, [("b", 2)], SCHEMA))
        other.append(_df(spark, [("c", 3)], SCHEMA))
        _df(spark, [("a", 1)], SCHEMA).write.parquet(stage)

    with pytest.raises(CommitConflictError):
        t._commit("v-00000001", fill)
    assert t.versions() == ["v-00000003"]
    assert _rows(t.read()) == [("b", 2), ("c", 3)]
    assert not _staged(t)


@pytest.mark.parametrize("step", ["fill", "rename", "after_rename", "gc"])
def test_crash_at_each_commit_step_leaves_a_writable_table(
    spark, tmp_path, monkeypatch, step
):
    """Crash injection at each step of an append's commit: inside the
    fill, at the rename, after the rename before the retention GC, and
    inside the GC (its delete dies after one file).  Each leaves a
    readable table whose root holds only version dirs plus stage/temp
    residue; no partly deleted version is listed; and the next append
    commits without recover_stale()."""
    import shutil

    t = _make(spark, tmp_path)
    old = t.current_version()
    new = _next(old)
    if step == "fill":
        _crash_on_write_under(monkeypatch, t)
    elif step in ("rename", "after_rename"):
        real_rename = os.rename

        def rename(src, dst):
            if not os.path.basename(dst).startswith("v-"):
                return real_rename(src, dst)
            if step == "after_rename":
                real_rename(src, dst)
            raise Crash(dst)

        monkeypatch.setattr(os, "rename", rename)
    else:
        real_rmtree = shutil.rmtree

        def rmtree(path, *args, **kwargs):
            if not str(path).startswith(t.path + os.sep):
                return real_rmtree(path, *args, **kwargs)
            for d, _, files in os.walk(path):
                if files:
                    os.unlink(os.path.join(d, files[0]))
                    break
            raise Crash(path)

        monkeypatch.setattr(shutil, "rmtree", rmtree)
    with pytest.raises(Crash):
        t.append(_df(spark, [("a", 1)], SCHEMA))
    monkeypatch.undo()
    committed = step in ("after_rename", "gc")
    assert _rows(t.read()) == [("a", 1)] * committed + [("seed", 0)]
    assert t.versions() == {
        "fill": [old],
        "rename": [old],
        "after_rename": [old, new],
        "gc": [new],
    }[step]
    assert all(
        d.startswith(("v-", "stage-")) or ".tmp-" in d for d in os.listdir(t.path)
    )
    t.append(_df(spark, [("b", 2)], SCHEMA))
    assert t.versions() == [_next(new if committed else old)]
    assert ("b", 2) in _rows(t.read())


def test_rollup_replay_after_crash_at_commit_counts_once(
    spark, tmp_path, monkeypatch
):
    """Crash injection: the process dies right after the rename commits
    the merged snapshot, before merge_rollup_batch returns.  The batch id
    committed with the rows, so the replay is a no-op instead of adding
    the batch a second time."""
    from unstructured_data_pipeline_spark.operators.dml import last_applied_batch
    from unstructured_data_pipeline_spark.streaming.rollup import merge_rollup_batch

    schema = "dim string, n long"
    table = ParquetTable(
        spark, str(tmp_path), "rollup_crash", T.StructType.fromDDL(schema)
    ).ensure()
    batch = spark.createDataFrame([("a", 1)], schema)

    class Died(BaseException):
        pass

    real = os.rename

    def die_after_commit(src, dst):
        real(src, dst)
        if os.path.basename(dst).startswith("v-"):
            raise Died

    monkeypatch.setattr(os, "rename", die_after_commit)
    with pytest.raises(Died):
        merge_rollup_batch(table, batch, ["dim"], ["n"], 0)
    monkeypatch.undo()
    assert sorted(map(tuple, table.read().collect())) == [("a", 1)]

    # the restarted stream re-delivers batch 0: counted once, not ("a", 2)
    assert not merge_rollup_batch(table, batch, ["dim"], ["n"], 0)
    assert sorted(map(tuple, table.read().collect())) == [("a", 1)]
    assert last_applied_batch(table) == 0


def test_ensure_loser_never_stages(spark, tmp_path, monkeypatch):
    """A creator that saw no table, then lost the race to another
    creator, finds v-00000001 committed: it stages nothing and reads the
    winner's empty version."""
    t = ParquetTable(spark, str(tmp_path), "race", SCHEMA)
    winner = ParquetTable(spark, str(tmp_path), "race", SCHEMA)
    real_current = ParquetTable.current_version
    real_makedirs = os.makedirs
    raced, stages = [], []

    def current_version(self):
        if self is t and not raced:
            raced.append(winner.ensure().current_version())
            return None  # the loser's check ran before the winner's commit
        return real_current(self)

    def makedirs(path, *args, **kwargs):
        if raced and os.path.basename(path).startswith("stage-"):
            stages.append(path)
        return real_makedirs(path, *args, **kwargs)

    monkeypatch.setattr(ParquetTable, "current_version", current_version)
    monkeypatch.setattr(os, "makedirs", makedirs)
    t.ensure()
    monkeypatch.undo()
    assert raced == ["v-00000001"] and stages == []
    assert t.versions() == ["v-00000001"]
    assert t.read().count() == 0


def test_retention_keeps_the_newest_versions(spark, tmp_path):
    """retain=2 keeps the two newest versions, both readable; the GC
    leaves nothing else in the table root."""
    t = _make(spark, tmp_path, retain=2)
    for i in range(4):
        t.transact(
            lambda df, i=i: df.unionByName(_df(spark, [(f"r{i}", i)], SCHEMA))
        )
    assert t.versions() == ["v-00000005", "v-00000006"]
    assert t.current_version() == "v-00000006"
    assert sorted(os.listdir(t.path)) == t.versions()
    assert t.read_version("v-00000005").count() == 4
    assert t.read().count() == 5


def test_recover_stale_keeps_only_versions(spark, tmp_path):
    """With writers stopped, recover_stale() removes every entry of the
    table root but the version dirs: stage dirs, crashed `_write_atomic`
    temps and foreign residue (a root schema.json, pointer, claim, marker
    and lock files), including a claim on the live version, whose data
    stays."""
    t = ParquetTable(spark, str(tmp_path), "t", SCHEMA, retain=2).ensure()
    t.append(_df(spark, [("a", 1), ("b", 2)], SCHEMA))
    planted = [
        "CURRENT",
        "schema.json",
        "v-00000001.claim",
        "v-00000001.commit",
        "v-00000002.claim",
        "v-00000002.commit",
        "v-00000003.claim",
        "v-00000003.claim.obs",
        "CURRENT.lock",
        "CURRENT.lock.tok-deadbeef0000",
        "CURRENT.lock.stale-deadbeef",
        ".now-probe-deadbeef0000",
        "CURRENT.tmp-12345-ab",
        "v-00000002.commit.tmp-12345-ef",
        "schema.json.tmp-12345-01",
    ]
    for name in planted:
        open(os.path.join(t.path, name), "w").close()
    os.makedirs(os.path.join(t.path, "stage-deadbeef", "p=1"))
    removed = t.recover_stale()
    assert sorted(removed) == sorted([*planted, "stage-deadbeef"])
    assert sorted(os.listdir(t.path)) == ["v-00000001", "v-00000002"]
    assert _rows(t.read()) == [("a", 1), ("b", 2)]
    assert t.recover_stale() == []
    t.append(_df(spark, [("c", 3)], SCHEMA))
    assert _rows(t.read()) == [("a", 1), ("b", 2), ("c", 3)]


# -- the write loop retries on the table's state, never on error text ------


def test_transact_reraises_caller_file_not_found(spark, tmp_path):
    """A FileNotFoundError raised by the CALLER's rewrite — even one whose
    message mentions the table path — is a bug, not staleness: the base is
    still the newest version, so it re-raises on the first attempt."""
    t = _make(spark, tmp_path)
    attempts = []

    def buggy(df):
        attempts.append(1)
        raise FileNotFoundError(f"sidecar {t.path}/lookup.csv missing")

    with pytest.raises(FileNotFoundError, match="lookup.csv"):
        t.transact(buggy)
    assert len(attempts) == 1  # no retries burnt


def test_transact_reraises_jvm_error_without_version_dir(spark, tmp_path):
    """A JVM-style FileNotFoundException on a base that is still the
    newest version is the rewrite's own error, whatever path it names."""
    t = _make(spark, tmp_path)
    attempts = []

    def buggy(df):
        attempts.append(1)
        raise RuntimeError(
            f"java.io.FileNotFoundException: {t.path}/sidecar/part-0.parquet"
        )

    with pytest.raises(RuntimeError, match="sidecar"):
        t.transact(buggy)
    assert len(attempts) == 1


def test_transact_self_heals_aged_dead_claim(spark, tmp_path):
    """Foreign residue named like a claim on the next number (a file, not
    a version dir): transact() commits that number on its first attempt,
    without a manual recover_stale()."""
    t = _make(spark, tmp_path)
    nxt = _next(t.current_version())
    open(os.path.join(t.path, f"{nxt}.claim"), "w").close()
    v = t.transact(lambda df: df.unionByName(_df(spark, [("healed", 1)], SCHEMA)))
    assert v == nxt
    assert t.current_version() == nxt
    assert ("healed", 1) in _rows(t.read())


def test_ensure_self_heals_dead_creation_claim(spark, tmp_path):
    """Foreign residue named like a claim on the first number must not
    wedge ensure(): it commits v-00000001 at once."""
    t = ParquetTable(spark, str(tmp_path), "heal", SCHEMA)
    os.makedirs(t.path, exist_ok=True)
    open(os.path.join(t.path, "v-00000001.claim"), "w").close()
    t.ensure()
    assert t.current_version() == "v-00000001"
    assert t.read().count() == 0


# -- optimistic concurrency over the rename commit -------------------------


def test_occ_conflict_detected_and_retry_preserves_both_writes(spark, tmp_path):
    """Two writers race from the same base: the loser's commit must raise,
    and a transact() retry must land its change on TOP of the winner's —
    the textbook lost-update scenario, prevented.  retain=2 keeps the
    shared base snapshot readable for the loser (with retain=1 the
    winner's GC drops it and the loser sees retention aging instead —
    transact() retries on either)."""
    t = _make(spark, tmp_path, retain=2)
    base = t.current_version()
    add = lambda df, k: df.unionByName(
        df.sparkSession.createDataFrame([(k, 1)], SCHEMA)
    )
    # writer B commits base+1 first
    t.commit_rewrite(add(t.read_version(base), "b"), base)
    # writer A computed from the same (now stale) base: must conflict
    with pytest.raises(CommitConflictError):
        t.commit_rewrite(add(t.read_version(base), "a"), base)
    assert _rows(t.read()) == [("b", 1), ("seed", 0)]  # A's write NOT applied
    # A retries optimistically: recomputes from the new snapshot
    t.transact(lambda df: add(df, "a"))
    assert _rows(t.read()) == [("a", 1), ("b", 1), ("seed", 0)]


def test_occ_threaded_transacts_never_lose_updates(spark, tmp_path):
    """N concurrent writers each increment the single counter row via
    transact(); serializability means the final value is exactly N."""
    from concurrent.futures import ThreadPoolExecutor

    t = _make(spark, tmp_path, retain=2)
    n = 5

    def bump(df):
        return df.select("k", (F.col("v") + F.lit(1)).alias("v").cast("int"))

    def worker(_i):
        return t.transact(bump)

    with ThreadPoolExecutor(max_workers=n) as ex:
        versions = list(ex.map(worker, range(n)))
    assert len(set(versions)) == n  # each commit got its own version
    assert _rows(t.read()) == [("seed", n)]


def test_upsert_and_transact_build_on_each_other(spark, tmp_path):
    """An upsert after transact() commits builds on the transact's
    version, and a transact after the upsert builds on the upsert's."""
    t = _make(spark, tmp_path)
    t.transact(
        lambda df: df.unionByName(
            df.sparkSession.createDataFrame([("occ", 1)], SCHEMA)
        )
    )
    t.upsert(spark.createDataFrame([("upsert", 2)], SCHEMA), ["k"])
    assert _rows(t.read()) == [("occ", 1), ("seed", 0), ("upsert", 2)]
    t.transact(
        lambda df: df.unionByName(
            df.sparkSession.createDataFrame([("occ2", 3)], SCHEMA)
        )
    )
    assert ("occ2", 3) in _rows(t.read())


def test_occ_partitioned_table_keeps_hive_layout(spark, tmp_path):
    """OCC commits on a PartitionedParquetTable must write hive partition
    dirs (a flat snapshot would make the NEXT pruned merge find no
    partitions to carry and silently degrade)."""
    t = PartitionedParquetTable(
        spark, str(tmp_path), "pt", SCHEMA3, partition_by=["p"], retain=2
    ).ensure()
    t.append(_df(spark, [("a", "x", 1), ("b", "y", 2), ("c", "z", 3)]))
    t.transact(
        lambda df: df.unionByName(
            df.sparkSession.createDataFrame([("d", "x", 4)], SCHEMA3)
        )
    )
    live = os.path.join(t.path, t.current_version())
    subdirs = sorted(
        d for d in os.listdir(live) if os.path.isdir(os.path.join(live, d))
    )
    assert subdirs == ["p=x", "p=y", "p=z"]  # hive layout preserved
    # a pruned merge AFTER the OCC commit still carries untouched parts
    t.upsert(_df(spark, [("a", "x", 10)]), ["k"])
    got = sorted((r.k, r.p, r.v) for r in t.read().collect())
    assert got == [("a", "x", 10), ("b", "y", 2), ("c", "z", 3), ("d", "x", 4)]


# -- recover_stale sweeps foreign residue ----------------------------------


def test_occ_recover_stale_claims_and_stages(spark, tmp_path):
    """A writer that died mid-fill leaves its stage dir, and foreign
    residue names a claim on the next number: recover_stale() removes
    both, the rows stay, and the claimed number commits next."""
    t = _make(spark, tmp_path)
    live = t.current_version()
    nxt = f"v-{int(live[2:]) + 1:08d}"
    open(os.path.join(t.path, f"{nxt}.claim"), "w").close()
    os.makedirs(os.path.join(t.path, "stage-deadbeef"))
    open(os.path.join(t.path, "stage-deadbeef", "part-0.parquet"), "w").close()
    removed = t.recover_stale()
    assert set(removed) == {f"{nxt}.claim", "stage-deadbeef"}
    assert _rows(t.read()) == [("seed", 0)]
    assert t.transact(lambda df: df) == nxt


def test_occ_recover_never_deletes_live_snapshot(spark, tmp_path):
    """Foreign residue named like a claim on the LIVE version:
    recover_stale() must drop only that file, never the data."""
    t = _make(spark, tmp_path)
    t.upsert(spark.createDataFrame([("upsert", 7)], SCHEMA), ["k"])
    live = t.current_version()
    with open(os.path.join(t.path, f"{live}.claim"), "w") as fh:
        fh.write("planted")
    assert t.current_version() == live
    removed = t.recover_stale()
    assert removed == [f"{live}.claim"]
    assert t.current_version() == live
    assert os.path.isdir(os.path.join(t.path, live))
    assert ("upsert", 7) in _rows(t.read())


def test_recover_stale_sweeps_lock_token_residue(spark, tmp_path):
    """Foreign residue shaped like a pointer lock's `.lock.tok-` token
    temp file: recover_stale() (writers stopped) must remove it."""
    t = _make(spark, tmp_path)
    residue = os.path.join(t.path, "CURRENT.lock.tok-deadbeef0000")
    with open(residue, "w") as fh:
        fh.write("orphaned-token")
    removed = t.recover_stale()
    assert os.path.basename(residue) in removed
    assert not os.path.exists(residue)


def test_recover_stale_clears_wedged_lock_state(spark, tmp_path):
    """recover_stale() (writers stopped) clears foreign residue shaped like
    pointer-lock crash state — the lock itself, steal graves and age
    probes — and the table commits normally afterwards."""
    t = _make(spark, tmp_path)
    lock = os.path.join(t.path, "CURRENT.lock")
    open(lock, "w").close()
    open(lock + ".stale-deadbeef", "w").close()
    probe = os.path.join(t.path, ".now-probe-deadbeef0000")
    open(probe, "w").close()
    removed = t.recover_stale()
    for name in ("CURRENT.lock", "CURRENT.lock.stale-deadbeef",
                 ".now-probe-deadbeef0000"):
        assert name in removed
    assert not os.path.exists(lock)
    assert not os.path.exists(lock + ".stale-deadbeef")
    assert not os.path.exists(probe)
    t.append(spark.createDataFrame([("after", 1)], SCHEMA))
    assert _rows(t.read()) == [("after", 1), ("seed", 0)]


def test_recover_stale_sweeps_write_atomic_temps(spark, tmp_path):
    """Foreign residue shaped like the `<target>.tmp-<pid>-<tag>` files of
    crashed atomic publishes at the table root: recover_stale() (writers
    stopped) must remove every one and leave the table readable."""
    t = _make(spark, tmp_path)
    residues = [
        "CURRENT.tmp-12345-ab",
        "v-00000002.claim.obs.tmp-12345-cd",
        "v-00000001.commit.tmp-12345-ef",
        "schema.json.tmp-12345-01",
    ]
    for r in residues:
        open(os.path.join(t.path, r), "w").close()
    removed = t.recover_stale()
    assert sorted(removed) == sorted(residues)
    for r in residues:
        assert not os.path.exists(os.path.join(t.path, r))
    assert sorted(os.listdir(t.path)) == t.versions()
    assert t.read().count() == 1
    assert t.recover_stale() == []

"""PartitionedParquetTable: partition-pruned copy-on-write MERGE/DELETE.

The scale claim under test is physical, not just relational: an upsert
touching one partition must (a) produce the same table as the O(table)
whole-rewrite upsert, and (b) carry every untouched partition over as
HARDLINKS of the previous version's files — zero data bytes rewritten.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from unstructured_data_pipeline_spark.operators.dml import (
    ParquetTable,
    PartitionedParquetTable,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("seg", T.StringType()),
        T.StructField("val", T.DoubleType()),
    ]
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _base_rows():
    return [(i, ["A", "B", "C"][i % 3], float(i)) for i in range(30)]


@pytest.fixture()
def table(spark, tmp_path):
    t = PartitionedParquetTable(
        spark, str(tmp_path), "events_part", SCHEMA, partition_by=["seg"]
    )
    t.ensure()
    t.append(_mk(spark, _base_rows()))
    return t


def _leaf_files(data_dir):
    out = {}
    for base, _dirs, files in os.walk(data_dir):
        rel = os.path.relpath(base, data_dir)
        for f in files:
            if f.endswith(".parquet"):
                out.setdefault(rel, []).append(os.path.join(base, f))
    return out


def test_merge_matches_whole_table_upsert(spark, tmp_path, table):
    src = _mk(spark, [(0, "A", 100.0), (3, "A", 103.0), (99, "A", 199.0)])
    # reference result: the unpartitioned O(table) upsert over the same rows
    ref = ParquetTable(spark, str(tmp_path), "ref", SCHEMA)
    ref.ensure()
    ref.append(_mk(spark, _base_rows()))
    ref.upsert(src, keys=["k", "seg"])
    table.upsert(src, keys=["k", "seg"])
    got = sorted(tuple(r) for r in table.read().collect())
    want = sorted(tuple(r) for r in ref.read().collect())
    assert got == want
    assert (0, "A", 100.0) in got and (99, "A", 199.0) in got


def test_merge_hardlinks_untouched_partitions(spark, table):
    before = _leaf_files(table.data_dir())
    inode_before = {
        rel: {os.stat(p).st_ino for p in ps} for rel, ps in before.items()
    }
    table.upsert(_mk(spark, [(0, "A", 100.0)]), keys=["k", "seg"])
    after = _leaf_files(table.data_dir())
    # untouched partitions: identical inodes (hardlinked, not copied)
    for rel in ("seg=B", "seg=C"):
        assert {os.stat(p).st_ino for p in after[rel]} == inode_before[rel]
    # touched partition: fully rewritten, no old inodes survive
    assert not ({os.stat(p).st_ino for p in after["seg=A"]} & inode_before["seg=A"])


def test_merge_creates_new_partition(spark, table):
    table.upsert(_mk(spark, [(500, "D", 5.0)]), keys=["k", "seg"])
    rows = table.read().filter(F.col("seg") == "D").collect()
    assert [(r.k, r.val) for r in rows] == [(500, 5.0)]
    assert table.read().count() == 31


def test_merge_scan_is_partition_pruned(spark, table):
    """The rewrite's read of the live table must prune to the touched
    partition at the scan (partition filter visible in the plan)."""
    pred = table._touched_pred([("A",)])
    plan = (
        table.read()
        .filter(pred)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "seg" in plan


def test_cross_partition_key_move_raises(spark, table):
    # key 1 lives in seg=B; merging it under seg=A (key excludes seg) would
    # leave the B row alive -> the guard must refuse
    with pytest.raises(ValueError, match="across partitions"):
        table.upsert(_mk(spark, [(1, "A", 1.5)]), keys=["k"])


def test_partition_local_key_skips_guard(spark, table):
    # same shape but the partition col is part of the key: no complement
    # scan, no error, clean merge
    table.upsert(_mk(spark, [(1, "A", 1.5)]), keys=["k", "seg"])
    a = table.read().filter((F.col("k") == 1) & (F.col("seg") == "A")).collect()
    b = table.read().filter((F.col("k") == 1) & (F.col("seg") == "B")).collect()
    assert len(a) == 1 and len(b) == 1  # B row untouched, A row inserted


def test_delete_where_pruned(spark, table):
    table.delete_where(F.col("val") < 10.0, partitions=[("B",)])
    left = table.read().groupBy("seg").count().collect()
    counts = {r.seg: r["count"] for r in left}
    assert counts["A"] == 10 and counts["C"] == 10
    assert counts["B"] == sum(1 for i in range(30) if i % 3 == 1 and i >= 10)


def test_upsert_idempotent(spark, table):
    src = _mk(spark, [(0, "A", 42.0), (777, "B", 7.0)])
    table.upsert(src, keys=["k", "seg"])
    once = sorted(tuple(r) for r in table.read().collect())
    table.upsert(src, keys=["k", "seg"])
    assert sorted(tuple(r) for r in table.read().collect()) == once


def test_compact_counts_the_partition_files(spark, table):
    """compact() sizes and counts the data files under the partition dirs,
    never the `_tombstones/` state: a merge-on-read delete, then an append
    of a small file, each compact to one file per partition."""
    table.delete_keys_mor(_mk(spark, [(0, "A", 0.0)]), keys=["k"])
    assert table.compact() == 3
    table.append(_mk(spark, [(99, "A", 1.0)]))
    assert table.compact(target_files=1) == 3
    want = sorted([*_base_rows()[1:], (99, "A", 1.0)])
    assert sorted(tuple(r) for r in table.read().collect()) == want


def test_crash_before_publish_keeps_old_version(spark, table, monkeypatch):
    """A failure after the new snapshot is fully staged (rows written,
    untouched partitions carried) but before its rename must leave the
    previous version fully live (inherited commit protocol)."""
    before = sorted(tuple(r) for r in table.read().collect())
    carry = table._carry_over

    def boom(old_dir, new_dir, touched_keys):
        carry(old_dir, new_dir, touched_keys)
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(table, "_carry_over", boom)
    with pytest.raises(RuntimeError):
        table.upsert(_mk(spark, [(0, "A", 9.9)]), keys=["k", "seg"])
    monkeypatch.undo()
    assert sorted(tuple(r) for r in table.read().collect()) == before


def test_retention_time_travel_and_age_out(spark, tmp_path):
    """retain=2: the last two snapshots stay readable (AS-OF), older ones
    age out and raise; retain=1 default keeps only CURRENT (existing GC
    behavior, pinned by test_parquet_table_crash_before_publish...)."""
    t = PartitionedParquetTable(
        spark, str(tmp_path), "tt", SCHEMA, partition_by=["seg"], retain=2
    )
    t.ensure()
    t.append(_mk(spark, _base_rows()))
    v1 = t.current_version()
    t.upsert(_mk(spark, [(0, "A", 100.0)]), keys=["k", "seg"])
    v2 = t.current_version()
    assert t.versions() == [v1, v2]
    # v1 is the pre-merge state, v2 the post-merge state
    assert t.read_version(v1).filter("k = 0 AND seg = 'A'").collect()[0].val == 0.0
    assert t.read_version(v2).filter("k = 0 AND seg = 'A'").collect()[0].val == 100.0
    # third snapshot ages v1 out
    t.upsert(_mk(spark, [(3, "A", 103.0)]), keys=["k", "seg"])
    assert v1 not in t.versions() and len(t.versions()) == 2
    with pytest.raises(FileNotFoundError, match="not retained"):
        t.read_version(v1)


def test_retention_snapshots_share_untouched_files(spark, tmp_path):
    """With retain>=2 the hardlink carry means consecutive snapshots SHARE
    the untouched partitions' data files (same inodes) — history costs
    O(changed partitions), not O(table) per snapshot."""
    t = PartitionedParquetTable(
        spark, str(tmp_path), "tt2", SCHEMA, partition_by=["seg"], retain=2
    )
    t.ensure()
    t.append(_mk(spark, _base_rows()))
    v1 = t.current_version()
    v1_b = {os.stat(p).st_ino for p in _leaf_files(os.path.join(t.path, v1))["seg=B"]}
    t.upsert(_mk(spark, [(0, "A", 100.0)]), keys=["k", "seg"])
    v2 = t.current_version()
    v2_b = {os.stat(p).st_ino for p in _leaf_files(os.path.join(t.path, v2))["seg=B"]}
    assert v1_b == v2_b  # shared storage across snapshots


@pytest.mark.parametrize(
    "vals",
    [
        ["plain", "with space", "a:b"],
        ["pct%20", "eq=s", "hash#1"],
        ["slash/x", "back\\y", "q?m"],
        ["unicode-日本", "quote\"z", "brace{j}"],
    ],
)
def test_carry_over_survives_special_partition_values(spark, tmp_path, vals):
    """The touched/untouched decision parses Spark's OWN hive dir names back
    to values; any escaping divergence would either duplicate a touched
    partition's rows (stale files carried alongside the rewrite) or lose an
    untouched one.  Drive an upsert against partition values full of the
    characters hive escaping handles and assert exact set equality with the
    whole-rewrite reference."""
    rows = [(i, vals[i % len(vals)], float(i)) for i in range(9)]
    t = PartitionedParquetTable(
        spark, str(tmp_path), "spec", SCHEMA, partition_by=["seg"]
    )
    t.ensure()
    t.append(_mk(spark, rows))
    ref = ParquetTable(spark, str(tmp_path), "spec_ref", SCHEMA)
    ref.ensure()
    ref.append(_mk(spark, rows))
    src = _mk(spark, [(0, vals[0], 100.0), (55, vals[1], 5.5)])
    t.upsert(src, keys=["k", "seg"])
    ref.upsert(src, keys=["k", "seg"])
    got = sorted(tuple(r) for r in t.read().collect())
    want = sorted(tuple(r) for r in ref.read().collect())
    assert got == want


def test_snapshot_diff_actions(spark):
    """snapshot_diff labels INSERT/DELETE/UPDATE/NOOP per key, carries the
    after-image (before-image on DELETE), and ignores NULL-vs-NULL."""
    from unstructured_data_pipeline_spark.operators.dml import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "k INT, name STRING, bal DOUBLE",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 99.0), (5, "e", 50.0)],
        "k INT, name STRING, bal DOUBLE",
    )
    rows = {r["k"]: r for r in snapshot_diff(old, new, ["k"]).collect()}
    assert rows[1]["action"] == "NOOP"
    assert rows[2]["action"] == "NOOP"  # NULL <=> NULL is not a change
    assert rows[3]["action"] == "UPDATE" and rows[3]["bal"] == 99.0
    assert rows[4]["action"] == "DELETE" and rows[4]["bal"] == 40.0
    assert rows[5]["action"] == "INSERT" and rows[5]["bal"] == 50.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        snapshot_diff(old, new.drop("bal"), ["k"])


def test_ivm_maintains_under_group_moves_and_deletes(spark):
    """maintain_grouped_agg == full recompute for a change set covering
    insert, delete, in-place update, group move, and a group emptying out."""
    from pyspark.sql import functions as F

    from unstructured_data_pipeline_spark.operators.dml import snapshot_diff
    from unstructured_data_pipeline_spark.operators.ivm import maintain_grouped_agg

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "k INT, g STRING, m BIGINT",
    )
    # 1: in-place update; 2: group move a->b; 3: delete; 4: noop; 5: insert
    new = spark.createDataFrame(
        [(1, "a", 15), (2, "b", 20), (4, "c", 40), (5, "d", 50)],
        "k INT, g STRING, m BIGINT",
    )
    base = old.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("m").alias("sum_measure")
    )
    diff = snapshot_diff(old, new, ["k"], before=True)
    got = {
        r["g"]: (r["n_rows"], r["sum_measure"])
        for r in maintain_grouped_agg(base, diff, "g", "m").collect()
    }
    want = {
        r["g"]: (r["n_rows"], r["sum_measure"])
        for r in new.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("m").alias("sum_measure"))
        .collect()
    }
    assert got == want
    # b's original row was deleted AND the group-move landed there
    assert got["b"] == (1, 20)
    assert set(got) == {"a", "b", "c", "d"}


def test_add_column_is_metadata_only(spark, tmp_path):
    """ALTER ADD COLUMN must not touch existing data files; pre-ALTER rows
    read back with the default, post-ALTER appends carry real values."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from unstructured_data_pipeline_spark.operators.dml import ParquetTable

    schema = T.StructType([T.StructField("k", T.LongType())])
    t = ParquetTable(spark, str(tmp_path), "evolve", schema)
    t.ensure()
    t.append(spark.range(5).select(F.col("id").alias("k")))

    def inode_state(d):
        """(inode, mtime, size) per data file — hardlink-invariant identity,
        so the epoch republish counts as metadata-only iff this is stable."""
        out = set()
        for root, _, files in os.walk(d):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, f))
                out.add((st.st_ino, st.st_mtime_ns, st.st_size))
        return out

    before = inode_state(t.data_dir())
    t.add_column("tag", T.StringType(), default="legacy")
    # no parquet byte was rewritten: every pre-ALTER file survives as the
    # SAME inode, hardlinked into the new version
    assert before and inode_state(t.data_dir()) == before
    t.append(
        spark.range(5, 8)
        .select(F.col("id").alias("k"), F.lit("fresh").alias("tag"))
    )
    # a post-ALTER row that stores NULL explicitly must stay NULL — the
    # default fills only the files written before the ALTER (ADVICE r4)
    t.append(
        spark.range(8, 9).select(
            F.col("id").alias("k"), F.lit(None).cast("string").alias("tag")
        )
    )
    rows = {r["k"]: r["tag"] for r in t.read().collect()}
    assert all(rows[k] == "legacy" for k in range(5))
    assert all(rows[k] == "fresh" for k in range(5, 8))
    assert rows[8] is None
    # the evolution is durable: a second instance opened with the ORIGINAL
    # schema sees the committed column + default (the version's _schema)
    t2 = ParquetTable(spark, str(tmp_path), "evolve", schema)
    assert "tag" in t2.schema.fieldNames()
    rows2 = {r["k"]: r["tag"] for r in t2.read().collect()}
    assert rows2 == rows
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.add_column("tag", T.StringType())


def test_clone_is_zero_copy_and_isolated(spark, tmp_path):
    """CLONE: the clone's files are the SAME inodes (zero copy), evolved
    schema/defaults carry over, and post-clone mutations on either table
    never leak into the other."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from unstructured_data_pipeline_spark.operators.dml import ParquetTable

    schema = T.StructType([T.StructField("k", T.LongType())])
    t = ParquetTable(spark, str(tmp_path), "src", schema)
    t.ensure()
    t.append(spark.range(10).select(F.col("id").alias("k")))
    t.add_column("tag", T.StringType(), default="old")

    def inodes(d):
        return {
            os.stat(os.path.join(root, f)).st_ino
            for root, _, files in os.walk(d)
            for f in files
            if not f.startswith(("_", "."))
        }

    c = t.clone("dst")
    assert inodes(c.data_dir()) == inodes(t.data_dir())  # zero-copy
    assert "tag" in c.schema.fieldNames()
    assert all(r["tag"] == "old" for r in c.read().collect())  # epoch carried
    # divergence is isolated both ways
    c.delete_where(F.col("k") < 5)
    t.append(
        spark.range(100, 101).select(
            F.col("id").alias("k"), F.lit("fresh").alias("tag")
        )
    )
    assert t.read().count() == 11
    assert c.read().count() == 5
    assert {r["k"] for r in c.read().collect()} == set(range(5, 10))
    # a fresh handle on the clone dir sees the persisted evolved schema
    c2 = ParquetTable(spark, str(tmp_path), "dst", schema)
    assert "tag" in c2.schema.fieldNames()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.clone("dst")


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_state = st.dictionaries(
    st.integers(min_value=0, max_value=9),
    st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(-50, 50)),
    max_size=8,
)


@given(old=_state, new=_state)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ivm_equals_recompute_property(spark, old, new):
    """For ANY pair of table states, maintaining the grouped view through
    snapshot_diff deltas equals recomputing it from the new state."""
    from pyspark.sql import functions as F

    from unstructured_data_pipeline_spark.operators.dml import snapshot_diff
    from unstructured_data_pipeline_spark.operators.ivm import maintain_grouped_agg

    schema = "k INT, g STRING, m BIGINT"
    o = spark.createDataFrame([(k, g, m) for k, (g, m) in old.items()], schema)
    n = spark.createDataFrame([(k, g, m) for k, (g, m) in new.items()], schema)
    base = o.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("m").alias("sum_measure")
    )
    diff = snapshot_diff(o, n, ["k"], before=True)
    got = {
        r["g"]: (r["n_rows"], r["sum_measure"])
        for r in maintain_grouped_agg(base, diff, "g", "m").collect()
    }
    want = {
        r["g"]: (r["n_rows"], r["sum_measure"])
        for r in n.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("m").alias("sum_measure"))
        .collect()
    }
    assert got == want


# -- merge-on-read deletes (deletion-vector cost shape) ----------------------


def _flat(spark, tmp_path, name="mor_flat"):
    t = ParquetTable(spark, str(tmp_path), name, SCHEMA)
    t.ensure()
    t.append(_mk(spark, _base_rows()))
    return t


def test_mor_delete_is_o_of_keys(spark, tmp_path):
    """delete_keys_mor hides the keys WITHOUT rewriting any data file —
    the deletion-vector cost shape: O(delete keys) written, zero rewritten.
    The new version holds the base's files as the same inodes, plus its
    `_tombstones/`."""

    def stat(p):
        st = os.stat(os.path.join(t.data_dir(), p))
        return st.st_ino, st.st_mtime_ns

    t = _flat(spark, tmp_path)
    before = {p: stat(p) for p in os.listdir(t.data_dir())}
    v_before = t.current_version()
    t.delete_keys_mor(_mk(spark, [(i, "A", 0.0) for i in range(10)]).select("k"), ["k"])
    assert t.current_version() != v_before  # a new version, no rewrite
    assert set(os.listdir(t.data_dir())) == {*before, "_tombstones"}
    data = [p for p in before if p != "_base"]  # each version has its own
    assert {p: stat(p) for p in data} == {p: before[p] for p in data}
    assert sorted(r.k for r in t.read().collect()) == list(range(10, 30))


def test_mor_folds_on_any_rewrite(spark, tmp_path):
    """compact() (any rewrite) folds tombstones into the next snapshot and
    the stale tombstone dir is GC'd with its snapshot."""
    t = _flat(spark, tmp_path)
    t.delete_keys_mor(_mk(spark, [(i, "A", 0.0) for i in range(10)]).select("k"), ["k"])
    old_tomb = os.path.join(t.data_dir(), "_tombstones")
    assert os.path.isdir(old_tomb)
    t.compact(target_files=1)
    assert sorted(r.k for r in t.read().collect()) == list(range(10, 30))
    assert not os.path.isdir(old_tomb)
    assert not os.path.isdir(os.path.join(t.data_dir(), "_tombstones"))


def test_mor_key_semantics_until_fold(spark, tmp_path):
    """Key-based tombstones suppress a re-appended key until folded —
    the documented divergence from positional deletion vectors."""
    t = _flat(spark, tmp_path)
    t.delete_keys_mor(_mk(spark, [(5, "A", 0.0)]).select("k"), ["k"])
    t.append(_mk(spark, [(5, "C", 555.0)]))
    assert 5 not in {r.k for r in t.read().collect()}  # still hidden
    t.compact(target_files=1)  # fold: tombstone applied, then cleared
    t.append(_mk(spark, [(5, "C", 555.0)]))
    assert {r.val for r in t.read().filter(F.col("k") == 5).collect()} == {555.0}


def test_mor_partitioned_table(spark, tmp_path):
    t = PartitionedParquetTable(
        spark, str(tmp_path), "mor_part", SCHEMA, partition_by=["seg"]
    )
    t.ensure()
    t.append(_mk(spark, _base_rows()))
    t.delete_keys_mor(_mk(spark, [(i, "A", 0.0) for i in range(6)]).select("k"), ["k"])
    assert sorted(r.k for r in t.read().collect()) == list(range(6, 30))


def test_mor_clone_carries_tombstones(spark, tmp_path):
    """A zero-copy clone must not resurrect MOR-deleted keys."""
    t = _flat(spark, tmp_path)
    t.delete_keys_mor(_mk(spark, [(i, "A", 0.0) for i in range(10)]).select("k"), ["k"])
    c = t.clone("mor_clone")
    assert sorted(r.k for r in c.read().collect()) == list(range(10, 30))
    # and the clone's tombstones are independent: folding the clone does
    # not unhide keys on the source
    c.compact(target_files=1)
    assert sorted(r.k for r in t.read().collect()) == list(range(10, 30))


_mor_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.sampled_from(["A", "B"]),
        st.integers(-20, 20),
    ),
    max_size=10,
)
_mor_dels = st.sets(st.integers(min_value=0, max_value=12), max_size=6)


@given(rows=_mor_rows, dels1=_mor_dels, dels2=_mor_dels)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mor_equals_cow_delete_property(spark, rows, dels1, dels2):
    """For ANY base rows and ANY two delete-key sets (absent keys, empty
    sets, duplicates included), MOR delete -> fold -> MOR delete reads
    exactly like two copy-on-write delete_where calls."""
    import shutil
    import tempfile

    data = [(k, s, float(v)) for k, s, v in rows]
    root = tempfile.mkdtemp(prefix="udp_mor_prop_")
    try:
        t1 = ParquetTable(spark, root, "mor_side", SCHEMA)
        t2 = ParquetTable(spark, root, "cow_side", SCHEMA)
        for t in (t1, t2):
            t.ensure()
            if data:
                t.append(_mk(spark, data))
        d1 = _mk(spark, [(k, "A", 0.0) for k in sorted(dels1)]).select("k")
        d2 = _mk(spark, [(k, "A", 0.0) for k in sorted(dels2)]).select("k")
        t1.delete_keys_mor(d1, ["k"])
        t1.compact(target_files=1)
        t1.delete_keys_mor(d2, ["k"])
        t2.delete_where(F.col("k").isin(list(dels1)) if dels1 else F.lit(False))
        t2.delete_where(F.col("k").isin(list(dels2)) if dels2 else F.lit(False))
        got = sorted((r.k, r.seg, r.val) for r in t1.read().collect())
        want = sorted((r.k, r.seg, r.val) for r in t2.read().collect())
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)

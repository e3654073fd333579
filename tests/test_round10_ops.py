"""Round-10: C6 metadata/result caching contract (VERDICT r9 #3).

The reference memoizes re-read results with ``@st.cache_data`` and clears
the cache after writes (`app/Auto-Magic Document AI.py:89-199`); the
Spark-native form is ``run_document_pipeline(cache_intermediate=True)``
persisting the shared AI stage for the multi-sink writers, which unpersist
it after the fan-out.  Timed by the ``ingest`` and ``intake`` workloads of
``perfbench/`` (both write through the cached stage).
"""

from __future__ import annotations

from unstructured_data_pipeline_spark.catalog import bootstrap_warehouse
from unstructured_data_pipeline_spark.pipelines.batch import (
    persist_pipeline_outputs,
    persist_pipeline_outputs_idempotent,
    run_document_pipeline,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            ("d1", "@s/d1.txt", "customer invoice total 42"),
            ("d2", "@s/d2.txt", "stream receipt for coffee"),
            ("d3", "@s/d3.txt", "plain agreement text here"),
        ],
        "file_ref string, file_url string, text string",
    )


def _det(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_cache_intermediate_identical_outputs(spark):
    """cache on/off must be invisible in every deterministic output column."""
    cols_p = ["file_ref", "file_url", "class_name", "extraction_result"]
    cols_e = ["file_ref", "file_url", "class_name", "field_name", "field_value"]
    off = run_document_pipeline(_docs(spark), with_ocr=True)
    on = run_document_pipeline(_docs(spark), with_ocr=True, cache_intermediate=True)
    try:
        assert off.cached is None and on.cached is not None
        assert on.cached.storageLevel.useMemory  # actually persisted
        assert _det(on.processed, cols_p) == _det(off.processed, cols_p)
        assert _det(on.extracted_fields, cols_e) == _det(off.extracted_fields, cols_e)
        assert _det(on.ocr, ["file_ref", "ocr", "summary"]) == _det(
            off.ocr, ["file_ref", "ocr", "summary"]
        )
    finally:
        if on.cached is not None:
            on.cached.unpersist()


def test_writers_unpersist_cached_stage(spark, tmp_path):
    """Both multi-sink writers must release the C6 handle (the reference's
    explicit `.clear()` after writes), including on the idempotent path."""
    for writer, sub in (
        (persist_pipeline_outputs, "plain"),
        (persist_pipeline_outputs_idempotent, "idem"),
    ):
        tables = bootstrap_warehouse(spark, str(tmp_path / sub))
        out = run_document_pipeline(
            _docs(spark), with_ocr=True, cache_intermediate=True
        )
        assert out.cached.storageLevel.useMemory
        writer(out, tables)
        assert not out.cached.storageLevel.useMemory  # unpersisted after fan-out
        assert tables["documents_processed"].read().count() == 3
        assert tables["documents_extracted_fields"].read().count() == 9


# ---------------------------------------------------------------------------
# Round-10: optimistic multi-writer concurrency for ParquetTable
# (VERDICT r9 "What's missing" #2 — multi-writer coordination was "on
# paper"; now every version commits by one rename in dml.py).

import os

import pytest
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.operators.dml import (
    CommitConflictError,
    ParquetTable,
)


def _make(spark, tmp_path, name="occ", retain=1):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
        ]
    )
    t = ParquetTable(spark, str(tmp_path), name, schema, retain=retain).ensure()
    t.append(spark.createDataFrame([("seed", 0)], schema))
    return t, schema


def _rows(t):
    return sorted((r.k, r.v) for r in t.read().collect())


def test_occ_conflict_detected_and_retry_preserves_both_writes(spark, tmp_path):
    """Two writers race from the same base: the loser's commit must raise,
    and a transact() retry must land its change on TOP of the winner's —
    the textbook lost-update scenario, prevented.  retain=2 keeps the
    shared base snapshot readable for the loser (with retain=1 the
    winner's GC drops it and the loser sees retention aging instead —
    transact() retries on either)."""
    t, schema = _make(spark, tmp_path, retain=2)
    base = t.current_version()
    add = lambda df, k: df.unionByName(
        df.sparkSession.createDataFrame([(k, 1)], schema)
    )
    # writer B commits base+1 first
    t.commit_rewrite(add(t.read_version(base), "b"), base)
    # writer A computed from the same (now stale) base: must conflict
    with pytest.raises(CommitConflictError):
        t.commit_rewrite(add(t.read_version(base), "a"), base)
    assert _rows(t) == [("b", 1), ("seed", 0)]  # A's write NOT applied
    # A retries optimistically: recomputes from the new snapshot
    t.transact(lambda df: add(df, "a"))
    assert _rows(t) == [("a", 1), ("b", 1), ("seed", 0)]


def test_occ_threaded_transacts_never_lose_updates(spark, tmp_path):
    """N concurrent writers each increment the single counter row via
    transact(); serializability means the final value is exactly N."""
    from concurrent.futures import ThreadPoolExecutor

    t, _ = _make(spark, tmp_path, retain=2)
    n = 5

    def bump(df):
        return df.select("k", (F.col("v") + F.lit(1)).alias("v").cast("int"))

    def worker(_i):
        return t.transact(bump)

    with ThreadPoolExecutor(max_workers=n) as ex:
        versions = list(ex.map(worker, range(n)))
    assert len(set(versions)) == n  # each commit got its own version
    assert _rows(t) == [("seed", n)]


def test_occ_then_legacy_sequential_mixing(spark, tmp_path):
    """An upsert after transact() commits builds on the transact's
    version, and a transact after the upsert builds on the upsert's."""
    t, schema = _make(spark, tmp_path)
    t.transact(
        lambda df: df.unionByName(
            df.sparkSession.createDataFrame([("occ", 1)], schema)
        )
    )
    t.upsert(spark.createDataFrame([("upsert", 2)], schema), ["k"])
    assert _rows(t) == [("occ", 1), ("seed", 0), ("upsert", 2)]
    t.transact(
        lambda df: df.unionByName(
            df.sparkSession.createDataFrame([("occ2", 3)], schema)
        )
    )
    assert ("occ2", 3) in _rows(t)


def test_occ_partitioned_table_keeps_hive_layout(spark, tmp_path):
    """OCC commits on a PartitionedParquetTable must write hive partition
    dirs (a flat snapshot would make the NEXT pruned merge find no
    partitions to carry and silently degrade)."""
    from pyspark.sql import types as T

    from unstructured_data_pipeline_spark.operators.dml import (
        PartitionedParquetTable,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("p", T.StringType()),
            T.StructField("v", T.IntegerType()),
        ]
    )
    t = PartitionedParquetTable(
        spark, str(tmp_path), "pt", schema, partition_by=["p"], retain=2
    ).ensure()
    t.append(
        spark.createDataFrame(
            [("a", "x", 1), ("b", "y", 2), ("c", "z", 3)], schema
        )
    )
    t.transact(
        lambda df: df.unionByName(
            df.sparkSession.createDataFrame([("d", "x", 4)], schema)
        )
    )
    live = os.path.join(t.path, t.current_version())
    subdirs = sorted(
        d for d in os.listdir(live) if os.path.isdir(os.path.join(live, d))
    )
    assert subdirs == ["p=x", "p=y", "p=z"]  # hive layout preserved
    # a pruned merge AFTER the OCC commit still carries untouched parts
    t.upsert(spark.createDataFrame([("a", "x", 10)], schema), ["k"])
    got = sorted((r.k, r.p, r.v) for r in t.read().collect())
    assert got == [("a", "x", 10), ("b", "y", 2), ("c", "z", 3), ("d", "x", 4)]


def test_occ_recover_stale_claims_and_stages(spark, tmp_path):
    """A writer that died mid-fill leaves its stage dir, and one of the
    older claim protocol leaves a claim on the next number: recover_stale()
    removes both, the rows stay, and the claimed number commits next."""
    t, schema = _make(spark, tmp_path)
    live = t.current_version()
    nxt = f"v-{int(live[2:]) + 1:08d}"
    open(os.path.join(t.path, f"{nxt}.claim"), "w").close()
    os.makedirs(os.path.join(t.path, "stage-deadbeef"))
    open(os.path.join(t.path, "stage-deadbeef", "part-0.parquet"), "w").close()
    removed = t.recover_stale()
    assert set(removed) == {f"{nxt}.claim", "stage-deadbeef"}
    assert _rows(t) == [("seed", 0)]
    assert t.transact(lambda df: df) == nxt


def test_occ_recover_never_deletes_live_legacy_snapshot(spark, tmp_path):
    """A claim file of the older protocol that names the LIVE version:
    recover_stale() must drop only the claim file, never the data."""
    t, schema = _make(spark, tmp_path)
    t.upsert(spark.createDataFrame([("upsert", 7)], schema), ["k"])
    live = t.current_version()
    with open(os.path.join(t.path, f"{live}.claim"), "w") as fh:
        fh.write("planted")
    assert t.current_version() == live
    removed = t.recover_stale()
    assert removed == [f"{live}.claim"]
    assert t.current_version() == live
    assert os.path.isdir(os.path.join(t.path, live))
    assert ("upsert", 7) in _rows(t)

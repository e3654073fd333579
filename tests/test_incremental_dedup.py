"""IncrementalLshDedup: continuous-ingestion near-dup detection against an
accumulated band-key index (operators/dedup.py).  Covers the seen-first
duplicate rule across and within batches, short-doc handling, replay
idempotence of the index, and that verdicts match the one-shot batch LSH."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),                                  # batch 1 (id % 2)
        (2, base),                                  # batch 0 — exact dup of 1
        (3, "completely unrelated text about spark shuffles and parquet files here"),
        (4, " ".join(base.split(" ")[1:])),          # batch 0 — near dup of 1
        (5, "short doc"),                            # < n words: no shingles
        (6, "another fully distinct document mentioning catalyst optimizer rules only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run(spark, tmp_path, corpus, order):
    from unstructured_data_pipeline_spark.operators.dedup import IncrementalLshDedup

    inc = IncrementalLshDedup(spark, str(tmp_path / "wh"))
    flags = {}
    for batch_id, ids in order:
        batch = corpus.filter(F.col("doc_id").isin(ids))
        got = inc.process_batch(batch, corpus, batch_id).collect()
        flags.update({r["doc_id"]: r["is_dup"] for r in got})
    return inc, flags


def test_seen_first_rule_across_and_within_batches(spark, tmp_path, corpus):
    # batch 0: {2, 4} — near pair (2, 4) within one batch -> larger id dup
    # batch 1: {1, 3, 5, 6} — 1 matches both seen docs -> dup; others kept
    inc, flags = _run(spark, tmp_path, corpus, [(0, [2, 4]), (1, [1, 3, 5, 6])])
    assert flags == {2: False, 4: True, 1: True, 3: False, 5: False, 6: False}


def test_order_changes_who_survives_not_the_pairs(spark, tmp_path, corpus):
    # reversed arrival: 1 arrives first and survives; 2 and 4 become dups
    inc, flags = _run(spark, tmp_path, corpus, [(0, [1, 3]), (1, [2, 4, 5, 6])])
    assert flags == {1: False, 3: False, 2: True, 4: True, 5: False, 6: False}


def test_replay_is_idempotent(spark, tmp_path, corpus):
    from unstructured_data_pipeline_spark.operators.dedup import IncrementalLshDedup

    inc = IncrementalLshDedup(spark, str(tmp_path / "wh"))
    b0 = corpus.filter(F.col("doc_id").isin([2, 4]))
    b1 = corpus.filter(F.col("doc_id").isin([1, 3, 5, 6]))
    inc.process_batch(b0, corpus, 0)
    first = {r["doc_id"]: r["is_dup"] for r in inc.process_batch(b1, corpus, 1).collect()}
    n_rows = inc.table.read().count()
    # replay batch 1 (at-least-once delivery): same verdicts, same index
    again = {r["doc_id"]: r["is_dup"] for r in inc.process_batch(b1, corpus, 1).collect()}
    assert again == first
    assert inc.table.read().count() == n_rows
    # index holds bands for every shingleable doc (5 is too short), 4 each
    idx = inc.table.read()
    assert idx.select("doc_id").distinct().count() == 5
    assert idx.groupBy("doc_id").count().filter(F.col("count") != 4).count() == 0


def test_matches_one_shot_batch_lsh(spark, tmp_path, corpus):
    """Sequential flags must agree with the one-shot pipeline: a doc is a
    dup iff it has a verified pair with a doc seen first."""
    from unstructured_data_pipeline_spark.operators.dedup import (
        near_dup_pairs,
    )

    order = [(0, [2, 4]), (1, [1, 3, 5, 6])]
    seen_rank = {2: (0, 2), 4: (0, 4), 1: (1, 1), 3: (1, 3), 5: (1, 5), 6: (1, 6)}
    pairs = near_dup_pairs(corpus, "doc_id", "text", threshold=0.5).collect()
    want = {i: False for i in seen_rank}
    for r in pairs:
        x, y = sorted((r["a"], r["b"]), key=lambda i: seen_rank[i])
        want[y] = True
    _, flags = _run(spark, tmp_path, corpus, order)
    assert flags == want


def test_incremental_dedup_in_streaming_intake(spark, tmp_path):
    """The operator in its intended seat: a checkpointed file-source stream
    whose foreachBatch flags each arriving wave against the accumulated
    index, using the stream's own batch_id (monotonic across restarts via
    the checkpoint) as the batch key.  Wave 2 contains a near-dup of a
    wave-1 doc and must be flagged; the originals must not be."""
    from pyspark.sql import types as T

    from unstructured_data_pipeline_spark.operators.dedup import IncrementalLshDedup
    from unstructured_data_pipeline_spark.operators.dml import ParquetTable

    landing = tmp_path / "landing"
    landing.mkdir()
    base = "the quick brown fox jumps over the lazy dog again and again today"
    (landing / "10.txt").write_text(base)
    (landing / "11.txt").write_text(
        "completely unrelated text about spark shuffles and parquet files here"
    )

    wh = str(tmp_path / "wh")
    inc = IncrementalLshDedup(spark, wh)
    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    flag_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("is_dup", T.BooleanType())]
    )
    docs_seen = ParquetTable(spark, wh, "docs_seen", doc_schema).ensure()
    flags_tbl = ParquetTable(spark, wh, "dedup_flags", flag_schema).ensure()

    def process(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        docs = batch_df.select(
            F.regexp_extract(F.col("file_ref"), r"(\d+)", 1).cast("long").alias("doc_id"),
            "text",
        )
        # raw docs land first (idempotent), so the verify lookup always
        # covers this batch + all earlier ones — replay included
        docs_seen.upsert(docs, ["doc_id"])
        flags = inc.process_batch(docs, docs_seen.read(), batch_id)
        flags_tbl.upsert(flags, ["doc_id"])

    def drain():
        q = (
            spark.readStream.format("text")
            .option("wholetext", "true")
            .load(str(landing))
            .select(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file_ref"),
                F.col("value").alias("text"),
            )
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    got = {r["doc_id"]: r["is_dup"] for r in flags_tbl.read().collect()}
    assert got == {10: False, 11: False}

    # wave 2: a near-dup of doc 10 arrives later -> flagged against history
    (landing / "12.txt").write_text(" ".join(base.split(" ")[1:]))
    drain()
    got = {r["doc_id"]: r["is_dup"] for r in flags_tbl.read().collect()}
    assert got == {10: False, 11: False, 12: True}


def test_batch_crash_in_fill_leaves_index_unchanged(spark, tmp_path, corpus, monkeypatch):
    """A crash while a batch's bands are being written commits nothing:
    the index and its ledger are unchanged, no stage is left, and the
    replay lands the batch once with the same verdicts."""
    from pyspark.sql.readwriter import DataFrameWriter

    from unstructured_data_pipeline_spark.operators.dedup import IncrementalLshDedup
    from unstructured_data_pipeline_spark.operators.dml import last_applied_batch

    inc = IncrementalLshDedup(spark, str(tmp_path / "wh"))
    b0 = corpus.filter(F.col("doc_id").isin([2, 4]))
    b1 = corpus.filter(F.col("doc_id").isin([1, 3, 5, 6]))
    inc.process_batch(b0, corpus, 0)
    n0 = inc.table.read().count()
    real = DataFrameWriter.parquet

    class Crash(RuntimeError):
        pass

    def parquet(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        raise Crash(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(Crash):
        inc.process_batch(b1, corpus, 1)
    monkeypatch.undo()
    assert inc.table.read().count() == n0
    assert last_applied_batch(inc.table) == 0
    assert not [d for d in os.listdir(inc.table.path) if d.startswith("stage-")]
    got = {r["doc_id"]: r["is_dup"] for r in inc.process_batch(b1, corpus, 1).collect()}
    assert got == {1: True, 3: False, 5: False, 6: False}
    assert last_applied_batch(inc.table) == 1
    # 1, 3 and 6 shingle (5 is too short): 4 bands each, exactly once
    assert inc.table.read().count() == n0 + 3 * 4


def test_failed_batch_releases_cached_bands_and_flags(spark, tmp_path, corpus, monkeypatch):
    """A batch whose index write raises leaves nothing cached: the persisted
    bands and the checkpointed flags are both released on the way out."""
    from pyspark.sql.readwriter import DataFrameWriter

    from unstructured_data_pipeline_spark.operators.dedup import IncrementalLshDedup

    inc = IncrementalLshDedup(spark, str(tmp_path / "wh"))
    inc.process_batch(corpus.filter(F.col("doc_id").isin([2, 4])), corpus, 0)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()

    class Crash(RuntimeError):
        pass

    def parquet(self, path, *args, **kwargs):
        raise Crash(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(Crash):
        inc.process_batch(corpus.filter(F.col("doc_id").isin([1, 3])), corpus, 1)
    assert jsc.getPersistentRDDs().size() <= before


def test_index_root_does_not_grow_with_batches(spark, tmp_path, corpus):
    """The batch ledger lives inside the index's version dir: the index
    root holds as many entries after six batches as after one."""
    from unstructured_data_pipeline_spark.operators.dedup import IncrementalLshDedup

    inc = IncrementalLshDedup(spark, str(tmp_path / "wh"))
    sizes = []
    for batch_id, doc_id in enumerate([1, 2, 3, 4, 5, 6]):
        batch = corpus.filter(F.col("doc_id") == doc_id)
        inc.process_batch(batch, corpus, batch_id)
        sizes.append(len(os.listdir(inc.table.path)))
    assert sizes == [sizes[0]] * 6

"""Structured Streaming surface (SURVEY §7 M4): the binary intake stream
and its replay-safe sinks, stateful dedup and session windows whose state
survives restarts via the checkpoint, the continuous rollup, and the
stream-stream interval join."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

EVENT_SCHEMA = "user_id long, value double, ts timestamp, event_type string"


def _write_events(path, rows):
    path.mkdir(exist_ok=True)
    fname = path / f"part-{len(list(path.iterdir()))}.json"
    with open(fname, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_streaming_exact_dedup(spark, tmp_path):
    """Streaming exact dedup: dropDuplicates on a keyed stream keeps state
    of seen keys (with a watermark bounding it) — repeated ids across
    micro-batches and restarts emit exactly once."""
    src = tmp_path / "dup_ev"
    ckpt = str(tmp_path / "dup_ckpt")
    out_dir = str(tmp_path / "dup_out")
    _write_events(
        src,
        [
            {"user_id": 1, "value": 1.0, "ts": "2026-01-01 10:00:00", "event_type": "a"},
            {"user_id": 1, "value": 1.0, "ts": "2026-01-01 10:00:00", "event_type": "a"},
            {"user_id": 2, "value": 2.0, "ts": "2026-01-01 10:01:00", "event_type": "a"},
        ],
    )

    def drain():
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .json(str(src))
            .withWatermark("ts", "1 hour")
            .dropDuplicates(["user_id", "ts"])
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out_dir).count() == 2  # in-batch dup dropped

    # replayed id across a restart is also dropped (state store remembers)
    _write_events(
        src,
        [
            {"user_id": 1, "value": 1.0, "ts": "2026-01-01 10:00:00", "event_type": "a"},
            {"user_id": 3, "value": 3.0, "ts": "2026-01-01 10:02:00", "event_type": "a"},
        ],
    )
    drain()
    got = sorted(r["user_id"] for r in spark.read.parquet(out_dir).collect())
    assert got == [1, 2, 3]


def test_binary_intake_stream(spark, tmp_path):
    """Intake in binaryFile mode: raw blobs stream through OCR-text recovery
    into the pipeline (the reference's PDF/JPG upload path, streaming)."""
    from unstructured_data_pipeline_spark.catalog import bootstrap_warehouse
    from unstructured_data_pipeline_spark.streaming.intake import start_intake_stream

    landing = tmp_path / "blobs"
    landing.mkdir()
    (landing / "x.pdf").write_bytes(b"customer invoice total 9")
    (landing / "y.pdf").write_bytes(b"stream receipt here")

    tables = bootstrap_warehouse(spark, str(tmp_path / "wh2"))
    q = start_intake_stream(
        spark,
        str(landing),
        str(tmp_path / "ckpt3"),
        tables,
        file_format="binaryFile",
    )
    q.awaitTermination()
    got = {
        r["file_ref"]: r["class_name"]
        for r in tables["documents_processed"].read().collect()
    }
    assert got == {"x.pdf": "invoice", "y.pdf": "receipt"}


def test_intake_replay_is_effectively_once(spark, tmp_path):
    """foreachBatch is at-least-once: simulate a replayed batch (sink ran,
    checkpoint commit lost -> fresh checkpoint, same landing dir, same
    tables) and assert the keyed-upsert sink leaves zero duplicate rows."""
    from unstructured_data_pipeline_spark.catalog import bootstrap_warehouse
    from unstructured_data_pipeline_spark.streaming.intake import start_intake_stream

    landing = tmp_path / "docs"
    landing.mkdir()
    for i in range(5):
        (landing / f"d{i}.txt").write_text(f"customer doc number {i} words here")

    tables = bootstrap_warehouse(spark, str(tmp_path / "wh"))

    def drain(ckpt):
        q = start_intake_stream(spark, str(landing), str(tmp_path / ckpt), tables)
        q.awaitTermination()

    drain("ckpt_a")
    first = sorted(
        map(tuple, tables["documents_extracted_fields"].read()
            .select("file_ref", "field_name", "field_value").collect())
    )
    assert len(first) == 5 * 3  # 3 stub fields per doc
    drain("ckpt_b")  # full replay of every file
    second = sorted(
        map(tuple, tables["documents_extracted_fields"].read()
            .select("file_ref", "field_name", "field_value").collect())
    )
    assert second == first
    assert tables["documents_processed"].read().count() == 5
    assert tables["document_ocr"].read().count() == 5


def test_session_window_on_stream(spark, tmp_path):
    """Native session_window sessionization running as a STREAM: events
    within the 30-min gap merge into one session per user; a later event
    past the gap opens a new one.  Same operator the batch registry query
    uses — one code path for both modes."""
    src = tmp_path / "sess_ev"
    _write_events(
        src,
        [
            {"user_id": 1, "value": 1.0, "ts": "2026-01-01 10:00:00", "event_type": "a"},
            {"user_id": 1, "value": 1.0, "ts": "2026-01-01 10:10:00", "event_type": "a"},
            {"user_id": 1, "value": 1.0, "ts": "2026-01-01 11:30:00", "event_type": "a"},
            {"user_id": 2, "value": 2.0, "ts": "2026-01-01 10:00:00", "event_type": "a"},
        ],
    )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .json(str(src))
        .withWatermark("ts", "2 hours")
    )
    agg = stream.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    q = (
        agg.select(
            "user_id",
            F.col("session_window.start").alias("s"),
            "n_events",
        )
        .writeStream.format("memory")
        .queryName("sess_win")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["s"].hour, r["s"].minute): r["n_events"]
        for r in spark.table("sess_win").collect()
    }
    assert got == {(1, 10, 0): 2, (1, 11, 30): 1, (2, 10, 0): 1}


def test_rollup_merge_is_replay_safe(spark, tmp_path):
    """Additive merge + batch-id high-watermark: re-delivering a batch
    (at-least-once foreachBatch) must not double-count."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from unstructured_data_pipeline_spark.operators.dml import (
        ParquetTable,
        last_applied_batch,
    )
    from unstructured_data_pipeline_spark.streaming.rollup import merge_rollup_batch

    table = ParquetTable(
        spark,
        str(tmp_path),
        "rollup",
        T.StructType.fromDDL("bucket long, n long, total long"),
    )
    b0 = spark.createDataFrame([(1, 2, 10), (2, 1, 5)], "bucket long, n long, total long")
    b1 = spark.createDataFrame([(1, 1, 7), (3, 4, 2)], "bucket long, n long, total long")

    assert merge_rollup_batch(table, b0, ["bucket"], ["n", "total"], 0)
    assert merge_rollup_batch(table, b1, ["bucket"], ["n", "total"], 1)
    # replays of both batches are no-ops
    assert not merge_rollup_batch(table, b0, ["bucket"], ["n", "total"], 0)
    assert not merge_rollup_batch(table, b1, ["bucket"], ["n", "total"], 1)
    assert last_applied_batch(table) == 1

    got = {r["bucket"]: (r["n"], r["total"]) for r in table.read().collect()}
    assert got == {1: (3, 17), 2: (1, 5), 3: (4, 2)}


def test_rollup_compact_keeps_the_batch_ledger(spark, tmp_path):
    """compact() rewrites the rollup's rows but not its progress: the
    ledger rides into the compacted version, so a replay stays a no-op."""
    from pyspark.sql import types as T

    from unstructured_data_pipeline_spark.operators.dml import (
        ParquetTable,
        last_applied_batch,
    )
    from unstructured_data_pipeline_spark.streaming.rollup import merge_rollup_batch

    schema = "dim string, n long"
    table = ParquetTable(spark, str(tmp_path), "rollup_c", T.StructType.fromDDL(schema))
    batch = spark.createDataFrame([("a", 1)], schema)
    assert merge_rollup_batch(table, batch, ["dim"], ["n"], 4)
    table.compact(target_files=1)
    assert last_applied_batch(table) == 4
    assert not merge_rollup_batch(table, batch, ["dim"], ["n"], 4)
    assert sorted(map(tuple, table.read().collect())) == [("a", 1)]


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream inner join: purchases attribute to the
    views they follow within the horizon; both watermarks + the
    time-range condition bound the join state.  The streaming result must
    equal the batch twin run over the same files."""
    from unstructured_data_pipeline_spark.streaming.joins import (
        interval_attribution_join,
    )

    vsrc, psrc = tmp_path / "views", tmp_path / "purch"
    _write_events(
        vsrc,
        [
            {"user_id": 1, "value": 0.0, "ts": "2026-01-01 10:00:00", "event_type": "view"},
            {"user_id": 2, "value": 0.0, "ts": "2026-01-01 10:05:00", "event_type": "view"},
        ],
    )
    _write_events(
        psrc,
        [
            # in-horizon for user 1's 10:00 view
            {"user_id": 1, "value": 9.5, "ts": "2026-01-01 10:30:00", "event_type": "purchase"},
            # 2h25m after user 2's view — outside the 1h horizon
            {"user_id": 2, "value": 4.0, "ts": "2026-01-01 12:30:00", "event_type": "purchase"},
        ],
    )
    views = spark.readStream.schema(EVENT_SCHEMA).json(str(vsrc))
    purch = spark.readStream.schema(EVENT_SCHEMA).json(str(psrc))
    q = (
        interval_attribution_join(views, purch)
        .writeStream.format("memory")
        .queryName("attributed")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["v_user"], r["p_value"]) for r in spark.table("attributed").collect()
    }
    assert got == {(1, 9.5)}
    # batch twin over the same files must agree
    bviews = spark.read.schema(EVENT_SCHEMA).json(str(vsrc))
    bpurch = spark.read.schema(EVENT_SCHEMA).json(str(psrc))
    bgot = {
        (r["v_user"], r["p_value"])
        for r in interval_attribution_join(bviews, bpurch).collect()
    }
    assert bgot == got


def test_streaming_interval_join_equals_batch_twin(spark, sf_dir):
    """The landed streaming result must equal the batch interval join of
    the same inputs — replay determinism is the contract that makes the
    entry oracle-gateable (one file per side -> one availableNow batch ->
    no cross-batch watermark drops)."""
    from unstructured_data_pipeline_spark.queries import (
        _cents,
        _events,
        streaming_interval_join_attribution,
    )

    got = {
        r["user_id"]: (r["n_attributed"], r["sum_value_cents"])
        for r in streaming_interval_join_attribution(spark, sf_dir).collect()
    }
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_type", _cents(F.col("value")).alias("cents")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("v_us")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("p_us"), "cents"
    )
    want = {
        r["vu"]: (r["n"], r["s"])
        for r in (
            v.join(
                p,
                (F.col("vu") == F.col("pu"))
                & (F.col("p_us") >= F.col("v_us"))
                & (F.col("p_us") <= F.col("v_us") + 3_600_000_000),
            )
            .groupBy("vu")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").cast("long").alias("s"),
            )
            .collect()
        )
    }
    assert got == want and len(got) > 0

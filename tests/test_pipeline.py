"""Interactive-pipeline parity (SURVEY §3 entry point 1): OCR+summary
branch, AI7 error envelopes (failures persist, never throw), and the AI4
summarization contract."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.ai.backends import (
    SUMMARY_INPUT_CAP,
    DeterministicStubBackend,
)
from unstructured_data_pipeline_spark.pipelines.batch import run_document_pipeline


def _docs(spark):
    return spark.createDataFrame(
        [
            ("d1", "@s/d1.txt", "customer invoice total 42"),
            ("d2", "@s/d2.txt", "stream receipt for coffee"),
            ("d3", "@s/d3.txt", "plain agreement text here"),
        ],
        "file_ref string, file_url string, text string",
    )


def test_interactive_pipeline_with_ocr(spark):
    out = run_document_pipeline(_docs(spark), with_ocr=True)

    processed = {r["file_ref"]: r for r in out.processed.collect()}
    assert set(processed) == {"d1", "d2", "d3"}
    assert processed["d1"]["class_name"] == "invoice"
    assert processed["d2"]["class_name"] == "receipt"
    assert processed["d3"]["class_name"] == "contract"
    # extraction envelope: {"response": {...}} with the 3 stub fields
    resp = json.loads(processed["d1"]["extraction_result"])["response"]
    assert resp["first_word"] == "customer" and resp["n_words"] == "4"

    # EAV: 3 fields per document
    eav = out.extracted_fields
    assert eav.groupBy("file_ref").count().collect()[0]["count"] == 3

    # OCR branch: layout envelope round-trips the text; summary is the head
    ocr = {r["file_ref"]: r for r in out.ocr.collect()}
    payload = json.loads(ocr["d1"]["ocr"])
    assert payload == {"content": "customer invoice total 42", "mode": "layout"}
    assert ocr["d2"]["summary"].startswith("stream receipt")


def test_summarize_contract():
    b = DeterministicStubBackend()
    assert SUMMARY_INPUT_CAP == 6000  # `app.py:218` truncation contract
    long = " ".join(f"w{i}" for i in range(5000))
    s = b.summarize(long)
    assert s.endswith(" ...") and s.split(" ")[0] == "w0"
    assert b.summarize("short text") == "short text"


class _FailingBackend(DeterministicStubBackend):
    def extract(self, text, prompts_json):
        raise RuntimeError("backend unavailable")


def test_error_envelope_persists_not_throws(spark):
    out = run_document_pipeline(_docs(spark), backend=_FailingBackend(), with_ocr=False)
    rows = out.processed.collect()  # must NOT raise (app.py:506-510)
    assert len(rows) == 3
    for r in rows:
        env = json.loads(r["extraction_result"])
        assert "error" in env and "backend unavailable" in env["error"]
    # no response -> nothing to explode into the EAV table
    assert out.extracted_fields.count() == 0


class _FailingClassifier(DeterministicStubBackend):
    def classify(self, text):
        raise RuntimeError("classifier down")


def test_classify_failure_enveloped(spark):
    out = run_document_pipeline(
        _docs(spark), backend=_FailingClassifier(), with_ocr=False
    )
    rows = out.processed.collect()
    assert len(rows) == 3
    for r in rows:
        assert r["class_name"] == ""
        assert "classifier down" in json.loads(r["extraction_result"])["error"]


def test_binary_source_to_pipeline_end_to_end(spark, tmp_path):
    """Entry point 1 from raw blobs: binaryFile scan -> OCR UDF (text
    recovery) -> classify -> extract -> EAV, matching the reference's
    upload -> stage -> TO_FILE flow (SURVEY §2.1 S3/S5)."""
    from unstructured_data_pipeline_spark.ai.udfs import make_udfs
    from unstructured_data_pipeline_spark.sources.binary_docs import (
        directory_listing,
        read_binary_documents,
    )

    land = tmp_path / "stage"
    land.mkdir()
    (land / "a.pdf").write_bytes(b"customer invoice total 42")
    (land / "b.png").write_bytes(b"stream receipt for coffee")
    (land / "ignored.txt").write_bytes(b"not a supported format")

    # the format glob prunes unsupported files at the SOURCE
    listing = directory_listing(spark, str(land))
    assert sorted(r["relative_path"] for r in listing.collect()) == ["a.pdf", "b.png"]

    blobs = read_binary_documents(spark, str(land))
    udfs = make_udfs()
    docs = blobs.select(
        F.element_at(F.split("path", "/"), -1).alias("file_ref"),
        F.col("path").alias("file_url"),
        F.get_json_object(udfs["ocr"](F.col("content")), "$.content").alias("text"),
    )
    out = run_document_pipeline(docs, with_ocr=False)
    got = {r["file_ref"]: r["class_name"] for r in out.processed.collect()}
    assert got == {"a.pdf": "invoice", "b.png": "receipt"}


def test_prompts_override_upserts_generated(spark):
    """run_document_pipeline(prompts=...) must let caller schemas win over
    auto-generated ones (the reference's CLASS_PROMPTS upsert path)."""
    custom = spark.createDataFrame(
        [("invoice", '{"last_word":"What is the last word?"}')],
        "class_name string, prompts string",
    )
    out = run_document_pipeline(_docs(spark), prompts=custom, with_ocr=False)
    fields = {
        (r["file_ref"], r["field_name"]) for r in out.extracted_fields.collect()
    }
    # invoice docs extract the OVERRIDDEN single field...
    assert ("d1", "last_word") in fields
    assert ("d1", "first_word") not in fields
    # ...while other classes keep the generated 3-field schema
    assert ("d2", "first_word") in fields and ("d3", "n_words") in fields


def test_history_filters_and_sql_views(spark, sf_dir):
    """HistoryFilters predicate composition + the SQL surface over a
    fixture table registered as a temp view: the same count both ways."""
    from unstructured_data_pipeline_spark.operators.history import (
        HistoryFilters,
        class_summary,
    )
    from unstructured_data_pipeline_spark.sources.tables import load_fixture_tables

    eav = spark.createDataFrame(
        [
            ("f1", "@s/f1", "invoice", "a", "1"),
            ("f1", "@s/f1", "invoice", "b", "2"),
            ("f2", "@s/f2", "receipt", "a", "3"),
            ("g3", "@s/g3", "invoice", "a", "4"),
        ],
        "file_ref string, file_url string, class_name string, field_name string, field_value string",
    )
    # class IN-list + file LIKE compose with AND
    got = class_summary(
        eav, HistoryFilters(classes=["invoice"], file_contains="f")
    ).collect()
    assert [(r["class_name"], r["docs"]) for r in got] == [("invoice", 1)]
    # empty filters = identity
    assert class_summary(eav).count() == 2

    load_fixture_tables(spark, sf_dir, ["customer"])["customer"].createOrReplaceTempView(
        "customer"
    )
    n_sql = spark.sql("SELECT COUNT(*) AS n FROM customer").collect()[0]["n"]
    import os

    n_df = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).count()
    assert n_sql == n_df


def test_observed_metrics_single_pass(spark):
    """`observe()`: pipeline health metrics (docs processed, error
    envelopes, distinct classes) accumulate DURING the one pipeline pass —
    no second scan over 100 TB to count failures."""
    from pyspark.sql import Observation

    out = run_document_pipeline(_docs(spark), with_ocr=False)
    obs = Observation("pipeline_metrics")
    observed = out.processed.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("extraction_result").contains('"error"'), 1).otherwise(0)
        ).alias("n_errors"),
        # DISTINCT aggregates are rejected in observed metrics (they would
        # force an extra shuffle); the sketch version is the right tool
        F.approx_count_distinct("class_name").alias("n_classes"),
    )
    n = observed.count()  # the single pass
    m = obs.get
    assert m["n_docs"] == n == 3
    assert m["n_errors"] == 0
    assert m["n_classes"] >= 1


# -- one AI stage, read once ---------------------------------------------------


def _plan_nodes(plan):
    """Every operator of a physical plan, root first; an AQE wrapper is
    walked through to the plan it runs."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    kids = plan.children()
    return [plan] + [n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))]


def _physical(df):
    return _plan_nodes(df._jdf.queryExecution().sparkPlan())


def _udf_names(nodes):
    """UDF names per Python-eval operator in ``nodes``."""
    return [
        sorted(n.udfs().apply(i).name() for i in range(n.udfs().size()))
        for n in nodes
        if "EvalPython" in n.nodeName()
    ]


def test_cached_stage_feeds_every_sink(spark):
    """cache_intermediate=True: the three sinks are projections of the one
    cached stage — no source scan and no Python UDF above the cache."""
    out = run_document_pipeline(_docs(spark), with_ocr=True, cache_intermediate=True)
    try:
        for name in ("processed", "extracted_fields", "ocr"):
            names = [n.nodeName() for n in _physical(getattr(out, name))]
            assert names[-1] == "InMemoryTableScan", (name, names)
            assert not [n for n in names[:-1] if "Scan" in n or "Python" in n], (
                name,
                names,
            )
    finally:
        out.cached.unpersist()


def test_cached_stage_runs_all_udfs_in_one_arrow_pass(spark):
    out = run_document_pipeline(_docs(spark), with_ocr=True, cache_intermediate=True)
    try:
        scan = _physical(out.cached)[-1]
        assert scan.nodeName() == "InMemoryTableScan"
        stage = _plan_nodes(scan.relation().cachedPlan())
        assert [n.nodeName() for n in stage].count("ArrowEvalPython") == 1
        assert _udf_names(stage) == [["classify_extract", "ocr", "summarize"]]
        # ...and the stage holds results, not the text they came from
        assert "text" not in out.cached.columns
    finally:
        out.cached.unpersist()


def test_uncached_sinks_prune_unused_udfs(spark):
    """Without the cache each sink plans only the UDFs its columns need,
    and the OCR branch ships the text column once to both its UDFs."""
    out = run_document_pipeline(_docs(spark), with_ocr=True)
    assert _udf_names(_physical(out.processed)) == [["classify_extract"]]
    assert _udf_names(_physical(out.extracted_fields)) == [["classify_extract"]]
    ocr_nodes = [n for n in _physical(out.ocr) if "EvalPython" in n.nodeName()]
    assert _udf_names(ocr_nodes) == [["ocr", "summarize"]]
    udfs = ocr_nodes[0].udfs()
    inputs = {
        udfs.apply(i).children().apply(0).toString() for i in range(udfs.size())
    }
    assert len(inputs) == 1, inputs


def test_pipeline_build_submits_no_spark_job(spark):
    """Building the plan (prompts generated driver-side) runs no job."""
    sc = spark.sparkContext
    docs = _docs(spark)
    group = "test-pipeline-build"
    sc.setJobGroup(group, group)
    try:
        run_document_pipeline(docs, with_ocr=True)
        out = run_document_pipeline(docs, with_ocr=False, cache_intermediate=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    out.cached.unpersist()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_idempotent_persist_of_empty_batch_writes_nothing(spark, tmp_path):
    """An empty micro-batch publishes no table version; the cache fill's
    count is the guard, and the cache is still released."""
    from unstructured_data_pipeline_spark.catalog import bootstrap_warehouse
    from unstructured_data_pipeline_spark.pipelines.batch import (
        persist_pipeline_outputs_idempotent,
    )

    tables = bootstrap_warehouse(spark, str(tmp_path / "wh"))
    before = {n: t.versions() for n, t in tables.items()}
    out = run_document_pipeline(
        _docs(spark).filter(F.lit(False)), with_ocr=True, cache_intermediate=True
    )
    persist_pipeline_outputs_idempotent(out, tables)
    assert not out.cached.storageLevel.useMemory
    assert {n: t.versions() for n, t in tables.items()} == before


# -- C6 result caching: `cache_intermediate` persists the shared AI stage --


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
    from unstructured_data_pipeline_spark.catalog import bootstrap_warehouse
    from unstructured_data_pipeline_spark.pipelines.batch import (
        persist_pipeline_outputs,
        persist_pipeline_outputs_idempotent,
    )

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

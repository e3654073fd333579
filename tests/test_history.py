"""History operators (operators/history.py): semantics against hand-built
rows, and the plan shape one History refresh is allowed to cost."""

from __future__ import annotations

import re
from datetime import datetime

import pytest

from unstructured_data_pipeline_spark.operators.history import (
    HistoryFilters,
    class_summary,
    documents_latest,
    field_flatten,
)

EAV_SCHEMA = (
    "file_url string, file_ref string, class_name string, field_name string, "
    "field_value string, extracted_at timestamp_ntz"
)
PROCESSED_SCHEMA = "file_ref string, class_name string, processed_at timestamp_ntz"


def ts(day: int) -> datetime:
    return datetime(2024, 1, day)


EAV_ROWS = [
    ("@s1/a.pdf", "a", "invoice", "total", "1", None),
    ("@s1/a.pdf", "a", "invoice", "date", "2", None),
    ("@s2/b.pdf", "b", "receipt", "total", "3", ts(9)),
    ("@s2/b.pdf", "b", "receipt", "date", "4", ts(8)),
    ("@s2/c.pdf", "c", "invoice", "total", "5", None),
    ("@s1/d.pdf", "d", "receipt", "total", "6", None),
]
PROCESSED_ROWS = [
    ("a", "invoice", ts(2)),
    ("a", "invoice", ts(5)),  # the MAX backfills a
    ("b", "receipt", ts(1)),  # b's own extracted_at wins
    ("z", "invoice", ts(20)),  # key only in processed: never shown
    ("c", "receipt", ts(21)),  # c's other class only in processed
    ("d", "receipt", ts(3)),
]


@pytest.fixture(scope="module")
def eav(spark):
    return spark.createDataFrame(EAV_ROWS, EAV_SCHEMA)


@pytest.fixture(scope="module")
def processed(spark):
    return spark.createDataFrame(PROCESSED_ROWS, PROCESSED_SCHEMA)


def rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def test_documents_latest_backfills_and_drops_processed_only_keys(eav, processed):
    """extracted_at first, else MAX(processed.processed_at); keys only in
    processed never appear; NULL timestamps sort last."""
    got = rows(documents_latest(eav, processed=processed))
    assert got == [
        ("b", "receipt", "s2", 2, False, ts(9)),
        ("a", "invoice", "s1", 2, False, ts(5)),
        ("d", "receipt", "s1", 1, False, ts(3)),
        ("c", "invoice", "s2", 1, False, None),
    ]


def test_documents_latest_never_backfills_a_null_key(spark):
    """A NULL key matches nothing in the reference's equi-join, so an EAV
    row with a NULL class is not dated by a processed row with one."""
    eav = spark.createDataFrame([("@s/a", "a", None, "total", "1", None)], EAV_SCHEMA)
    processed = spark.createDataFrame([("a", None, ts(4))], PROCESSED_SCHEMA)
    assert rows(documents_latest(eav, processed=processed)) == [("a", None, "s", 1, False, None)]


def test_documents_latest_without_any_timestamp_column(eav, processed):
    """EAV without extracted_at: the backfill alone dates a key."""
    got = rows(documents_latest(eav.drop("extracted_at"), processed=processed))
    assert got == [
        ("a", "invoice", "s1", 2, False, ts(5)),
        ("d", "receipt", "s1", 1, False, ts(3)),
        ("b", "receipt", "s2", 2, False, ts(1)),
        ("c", "invoice", "s2", 1, False, None),
    ]
    # neither table has a timestamp: every processed_at is NULL, key order
    got = rows(
        documents_latest(eav.drop("extracted_at"), processed=processed.drop("processed_at"))
    )
    assert [r[:2] for r in got] == [("a", "invoice"), ("b", "receipt"), ("c", "invoice"), ("d", "receipt")]
    assert {r[5] for r in got} == {None}


def test_documents_latest_processed_without_processed_at(eav, processed):
    """processed without processed_at adds nothing: MAX(extracted_at) only."""
    got = rows(documents_latest(eav, processed=processed.drop("processed_at")))
    assert got == [
        ("b", "receipt", "s2", 2, False, ts(9)),
        ("a", "invoice", "s1", 2, False, None),
        ("c", "invoice", "s2", 1, False, None),
        ("d", "receipt", "s1", 1, False, None),
    ]
    assert got == rows(documents_latest(eav))


def test_documents_latest_without_file_url_has_empty_stage(eav, processed):
    got = rows(documents_latest(eav.drop("file_url"), processed=processed))
    assert [(r[0], r[2]) for r in got] == [("b", ""), ("a", ""), ("d", ""), ("c", "")]


def test_documents_latest_filters_apply_to_eav_rows_only(eav, processed):
    """A key the filter removes from the EAV rows does not come back through
    its processed rows."""
    got = rows(documents_latest(eav, processed=processed, filters=HistoryFilters(classes=["invoice"])))
    assert got == [
        ("a", "invoice", "s1", 2, False, ts(5)),
        ("c", "invoice", "s2", 1, False, None),
    ]
    got = rows(documents_latest(eav, processed=processed, filters=HistoryFilters(stage_contains="S1")))
    assert got == [
        ("a", "invoice", "s1", 2, False, ts(5)),
        ("d", "receipt", "s1", 1, False, ts(3)),
    ]


def test_documents_latest_flags_ocr(spark, eav, processed):
    ocr = spark.createDataFrame([("a",), ("a",), ("d",), ("q",)], "file_ref string")
    got = rows(documents_latest(eav, processed=processed, ocr=ocr))
    assert [(r[0], r[4]) for r in got] == [("b", False), ("a", True), ("d", True), ("c", False)]


def test_history_queries_on_empty_tables(spark):
    eav = spark.createDataFrame([], EAV_SCHEMA)
    processed = spark.createDataFrame([], PROCESSED_SCHEMA)
    assert rows(documents_latest(eav, processed=processed, ocr=processed)) == []
    assert rows(class_summary(eav)) == []
    assert rows(field_flatten(eav, HistoryFilters(classes=["invoice"]))) == []


def test_class_summary_orders_ties_by_class_name(spark):
    """docs DESC, ties by class_name ASC; repeated file_refs count once."""
    data = [
        ("f1", "receipt"), ("f2", "receipt"), ("f2", "receipt"), ("f3", "receipt"),
        ("f1", "invoice"), ("f4", "invoice"), ("f5", "invoice"),
        ("f6", "memo"), ("f6", "memo"), ("f7", "alpha"),
    ]
    eav = spark.createDataFrame(data, "file_ref string, class_name string").repartition(3)
    got = rows(class_summary(eav))
    assert got == [("invoice", 3), ("receipt", 3), ("alpha", 1), ("memo", 1)]
    got = rows(class_summary(eav, HistoryFilters(file_contains="F1")))
    assert got == [("invoice", 1), ("receipt", 1)]


def test_field_flatten_orders_by_three_keys(spark):
    data = [
        ("@s/b", "b", "invoice", "total", "1"),
        ("@s/a", "a", "receipt", "date", "2"),
        ("@s/a", "a", "invoice", "total", "3"),
        ("@s/a", "a", "invoice", "date", "4"),
        ("@s/c", "c", "invoice", "amount", "5"),
        ("@s/b", "b", "invoice", "amount", "6"),
    ]
    eav = spark.createDataFrame(
        data, "file_url string, file_ref string, class_name string, field_name string, field_value string"
    ).repartition(3)
    got = rows(field_flatten(eav))
    assert got == [
        ("a", "invoice", "date", "4"),
        ("a", "invoice", "total", "3"),
        ("a", "receipt", "date", "2"),
        ("b", "invoice", "amount", "6"),
        ("b", "invoice", "total", "1"),
        ("c", "invoice", "amount", "5"),
    ]
    got = rows(field_flatten(eav, HistoryFilters(classes=["invoice"], file_contains="b")))
    assert got == [("b", "invoice", "amount", "6"), ("b", "invoice", "total", "1")]


# -- what one refresh costs ---------------------------------------------------


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _stage_tasks(spark, first_job: int, end_job: int) -> list[list[int]]:
    """Tasks per stage (in stage-id order), per job, for the jobs in
    [first_job, end_job); a job's last stage is the one it ran itself."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    out = []
    for j in range(first_job, end_job):
        stages = [tracker.getStageInfo(s) for s in sorted(tracker.getJobInfo(j).stageIds)]
        out.append([s.numTasks for s in stages if s is not None])
    return out


def test_refresh_plan_shape(spark, tmp_path):
    """The three History queries over tables written as several files: at
    most 7 jobs together, no range partitioning, one shuffle and no join in
    documents_latest, a parallel scan and a one-task final stage."""
    eav_rows = [
        (f"@s{i % 3}/f{i % 40}.pdf", f"f{i % 40}", ("invoice", "receipt")[i % 2], f"k{i % 5}", str(i), None)
        for i in range(400)
    ]
    spark.createDataFrame(eav_rows, EAV_SCHEMA).repartition(3).write.parquet(str(tmp_path / "eav"))
    proc_rows = [(f"f{i}", ("invoice", "receipt")[i % 2], ts(1 + i % 28)) for i in range(45)]
    spark.createDataFrame(proc_rows, PROCESSED_SCHEMA).repartition(2).write.parquet(
        str(tmp_path / "processed")
    )
    eav = spark.read.parquet(str(tmp_path / "eav"))
    processed = spark.read.parquet(str(tmp_path / "processed"))
    assert len(eav.inputFiles()) >= 2

    queries = {
        "class_summary": class_summary(eav),
        "documents_latest": documents_latest(eav, processed=processed),
        "field_flatten": field_flatten(eav, HistoryFilters(classes=["invoice"], file_contains="1")),
    }
    start = _next_job(spark)
    jobs = {}
    for name, df in queries.items():
        j0 = _next_job(spark)
        assert df.collect()
        jobs[name] = (j0, _next_job(spark))
    assert _next_job(spark) - start <= 7, jobs

    for name, df in queries.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan.lower(), name
        tasks = _stage_tasks(spark, *jobs[name])
        # the first job scans the table(s) in parallel, the last sorts in one task
        assert max(tasks[0]) > 1, (name, tasks)
        assert tasks[-1][-1] == 1, (name, tasks)

    # AQE appends the pre-adaptive tree; count only the plan that ran
    plan = queries["documents_latest"]._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange (?:hash|range|Single|RoundRobin)", plan)) == 1, plan
    assert "Join" not in plan, plan

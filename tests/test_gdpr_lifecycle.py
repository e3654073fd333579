"""GDPR erasure (`queries/gdpr_lifecycle.py`): the cohort-derived
lifecycle deletes and the planning cascade's audit counts on hand-built
fixtures whose shapes the registry hash gate cannot see — event user_ids
that are not customers, and duplicated parent rows."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.queries import (
    gdpr_erasure_cascade,
    gdpr_erasure_lifecycle,
)


def test_gdpr_lifecycle_matches_cascade_on_non_customer_user_ids(spark, tmp_path):
    """The exact fixture shape ADVICE r8 flagged: events carries user_ids
    with %97==0 that do NOT exist in customer (388) and non-customer
    user_ids that aren't cohort members (999).  The cohort-derived
    lifecycle must (a) NOT erase the non-customer %97 event — only real
    erasure subjects drive deletes — and (b) still land exactly the counts
    the planning cascade predicts, including both surviving non-customer
    events surfacing as orphans."""
    d = str(tmp_path)
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (97, "subject")], "c_custkey long, c_name string"
    ).write.parquet(os.path.join(d, "customer.parquet"))
    spark.createDataFrame(
        [(10, 1), (11, 97)], "o_orderkey long, o_custkey long"
    ).write.parquet(os.path.join(d, "orders.parquet"))
    spark.createDataFrame(
        [(10, 5), (11, 6)], "l_orderkey long, l_partkey long"
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    # user 97: cohort member (erase).  user 388 = 4*97: %97==0 but NOT a
    # customer — the old predicate delete would have erased it; the
    # cohort delete must keep it (and audit it as an orphan).  user 999:
    # plain dangling FK, also a surviving orphan.  user 1: clean keep.
    spark.createDataFrame(
        [
            (97, "2024-01-01 00:00:00"),
            (388, "2024-01-01 01:00:00"),
            (999, "2024-01-01 02:00:00"),
            (1, "2024-01-01 03:00:00"),
        ],
        "user_id long, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts")).write.parquet(
        os.path.join(d, "events.parquet")
    )

    disk = {r["table_name"]: r for r in gdpr_erasure_lifecycle(spark, d).collect()}
    assert disk["events"]["n_before"] == 4
    assert disk["events"]["n_erased"] == 1  # user 97 only — NOT user 388
    assert disk["events"]["n_after"] == 3
    assert disk["events"]["n_orphans_after"] == 2  # users 388 and 999

    plan = {r["table_name"]: r for r in gdpr_erasure_cascade(spark, d).collect()}
    for t in plan:
        for col in ["n_before", "n_erased", "n_after", "n_orphans_after"]:
            assert plan[t][col] == disk[t][col], (t, col)


def test_gdpr_cascade_audit_survives_duplicate_parent_rows(spark, tmp_path):
    """ADVICE r8: audit_counts is only safe if the erase key set is
    distinct-keyed — a duplicated customer row would put its key into the
    cohort twice and (pre-fix) fan out every flag join, double-counting
    n_before AND n_erased.  Plant exactly that fixture and assert the
    counts stay row-accurate."""
    d = str(tmp_path)
    # customer 97 appears TWICE (a dirty upstream load) -> cohort key 97
    # is duplicated before the distinct()
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (97, "dup1"), (97, "dup2")],
        "c_custkey long, c_name string",
    ).write.parquet(os.path.join(d, "customer.parquet"))
    spark.createDataFrame(
        [(10, 1), (11, 97), (12, 2)], "o_orderkey long, o_custkey long"
    ).write.parquet(os.path.join(d, "orders.parquet"))
    spark.createDataFrame(
        [(10, 5), (11, 6), (12, 7)], "l_orderkey long, l_partkey long"
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(
        [(97, "2024-01-01 00:00:00"), (1, "2024-01-01 01:00:00")],
        "user_id long, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts")).write.parquet(
        os.path.join(d, "events.parquet")
    )
    rows = {r["table_name"]: r for r in gdpr_erasure_cascade(spark, d).collect()}
    # without the distinct, the duplicated cohort key would fan the flag
    # join: customer n_before 4 -> 6, orders n_before 3 -> 4, etc.
    assert rows["customer"]["n_before"] == 4
    assert rows["customer"]["n_erased"] == 2  # both dup rows erased
    assert rows["orders"]["n_before"] == 3
    assert rows["orders"]["n_erased"] == 1
    assert rows["lineitem"]["n_erased"] == 1
    assert rows["events"]["n_before"] == 2
    assert rows["events"]["n_erased"] == 1

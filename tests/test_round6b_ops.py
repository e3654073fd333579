"""Unit tests for the round-6 third-wave operators: the data-quality gates,
monitoring statistics, graph/layout analytics, and the retrieval-eval
harness.  Registry-level oracle parity is covered by test_oracle_parity;
these pin the operator-level INVARIANTS the hash gate can't see (bitmap
algebra identities, peeling monotonicity, metric bounds, stopword-free
phrases)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.queries import (
    _RAKE_STOPWORDS,
    benford_first_digit_audit,
    bitmap_index_report,
    cusum_changepoint_hourly,
    drift_share_report,
    encoding_advisor_report,
    fd_violation_audit,
    frequent_event_sequences,
    k_anonymity_audit,
    kcore_decomposition,
    ndcg_mrr_eval,
    pagerank_part_copurchase,
    rake_keyphrases,
    recursive_bom_closure_report,
    referential_integrity_audit,
    _t,
)


def test_bitmap_algebra_identities(spark, sf_dir):
    """Word-algebra counts must satisfy the set identities the bitmaps
    encode: A = (A∧B) + (A∧¬B), A∧B <= min(A,B), A∨C >= max(A,C), and
    every count <= n_rows."""
    r = bitmap_index_report(spark, sf_dir).collect()[0]
    assert r["n_a"] == r["n_a_and_b"] + r["n_a_and_not_b"]
    assert r["n_a_and_b"] <= min(r["n_a"], r["n_b"])
    assert max(r["n_a"], r["n_c"]) <= r["n_a_or_c"] <= r["n_a"] + r["n_c"]
    for k in ("n_a", "n_b", "n_c", "n_a_and_b", "n_a_or_c", "n_a_and_not_b"):
        assert 0 <= r[k] <= r["n_rows"]


def test_bitmap_counts_match_direct_predicates(spark, sf_dir):
    """popcount-over-words must equal a direct predicate scan."""
    r = bitmap_index_report(spark, sf_dir).collect()[0]
    li = _t(spark, sf_dir, "lineitem")
    direct = li.agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("a"),
        F.sum(
            F.when(
                (F.col("l_returnflag") == "R")
                & (F.floor(F.col("l_quantity") + F.lit(0.5)) >= 25),
                1,
            ).otherwise(0)
        ).alias("ab"),
    ).collect()[0]
    assert r["n_a"] == direct["a"]
    assert r["n_a_and_b"] == direct["ab"]


def test_kcore_peeling_is_monotone(spark, sf_dir):
    """Each peel can only remove nodes and edges; exactly 3 rounds."""
    rows = kcore_decomposition(spark, sf_dir).collect()
    assert [r["round"] for r in rows] == [1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        assert b["n_nodes"] <= a["n_nodes"]
        assert b["n_edges"] <= a["n_edges"]


def test_referential_integrity_clean_fixture(spark, sf_dir):
    """The generated warehouse has no orphans and no NULL FKs; all seven
    edges are reported."""
    rows = referential_integrity_audit(spark, sf_dir).collect()
    assert len(rows) == 7
    for r in rows:
        assert r["n_orphans"] == 0, r["fk_edge"]
        assert r["n_null_fk"] == 0, r["fk_edge"]
        assert r["n_child"] > 0, r["fk_edge"]


def test_benford_digits_partition_the_rows(spark, sf_dir):
    rows = benford_first_digit_audit(spark, sf_dir).collect()
    n_orders = _t(spark, sf_dir, "orders").count()
    assert sum(r["n_obs"] for r in rows) == n_orders
    for r in rows:
        assert 1 <= r["digit"] <= 9
        assert 0 <= r["obs_permille"] <= 1000
        assert r["delta_permille"] == r["obs_permille"] - r["exp_permille"]


def test_drift_shares_bounded_and_squared(spark, sf_dir):
    for r in drift_share_report(spark, sf_dir).collect():
        assert 0 <= r["early_permille"] <= 1000
        assert 0 <= r["late_permille"] <= 1000
        assert r["drift_sq"] == r["delta_permille"] ** 2


def test_cusum_returns_the_argmax_hour(spark, sf_dir):
    """Exactly one row, and its statistic is the true maximum — recomputed
    driver-side from the (bounded) hourly series."""
    r = cusum_changepoint_hourly(spark, sf_dir).collect()
    assert len(r) == 1
    r = r[0]
    from unstructured_data_pipeline_spark.queries import _events

    hourly = sorted(
        _events(spark, sf_dir)
        .select(F.expr("ts div 3600000000").alias("h"))
        .groupBy("h")
        .count()
        .collect(),
        key=lambda x: x["h"],
    )
    n, s_n = len(hourly), sum(x["count"] for x in hourly)
    best, cum = 0, 0
    for k, x in enumerate(hourly, start=1):
        cum += x["count"]
        best = max(best, abs(n * cum - k * s_n))
    assert r["d_scaled"] == best
    assert r["n_hours"] == n and r["total_events"] == s_n


def test_encoding_advisor_run_bounds(spark, sf_dir):
    """runs_sorted <= runs_natural <= n_rows; sorted runs can't beat the
    per-row-group distinct floor; savings in [0, 1000]."""
    for r in encoding_advisor_report(spark, sf_dir).collect():
        assert r["n_distinct"] <= r["runs_sorted"] <= r["runs_natural"] <= r["n_rows"]
        assert 0 <= r["savings_permille"] <= 1000


def test_fd_audit_key_determined_fds_hold(spark, sf_dir):
    rows = {r["fd"]: r for r in fd_violation_audit(spark, sf_dir).collect()}
    assert rows["customer.c_custkey->c_mktsegment"]["holds"]
    assert rows["customer.c_custkey->c_mktsegment"]["max_fanout"] == 1
    # low-cardinality determinants over many rows must violate
    assert not rows["customer.c_nationkey->c_mktsegment"]["holds"]


def test_k_anonymity_classes_cover_table(spark, sf_dir):
    rows = k_anonymity_audit(spark, sf_dir).collect()
    n_cust = _t(spark, sf_dir, "customer").count()
    assert sum(r["n_rows"] for r in rows) == n_cust
    for r in rows:
        assert r["n_rows"] == r["class_size"] * r["n_classes"]
        assert r["violates_k5"] == (r["class_size"] < 5)


def test_ndcg_mrr_metric_bounds(spark, sf_dir):
    rows = ndcg_mrr_eval(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0 <= r["n_hits"] <= 10
        assert 0 <= r["ndcg_permille"] <= 1000
        assert 0 <= r["mrr_milli"] <= 1000
        if r["first_hit_rank"] == 1:
            assert r["mrr_milli"] == 1000
        if r["n_hits"] == 0:
            assert r["dcg_micro"] == 0 and r["first_hit_rank"] == 0


def test_rake_phrases_are_stopword_free(spark, sf_dir):
    stop = set(_RAKE_STOPWORDS.split("|"))
    rows = rake_keyphrases(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        words = r["phrase"].split(" ")
        assert not (set(words) & stop), r["phrase"]
        assert r["n_words"] == len(words)  # word occurrences, with multiplicity


def test_frequent_sequences_support_bounds(spark, sf_dir):
    from unstructured_data_pipeline_spark.queries import _events

    n_users = _events(spark, sf_dir).select("user_id").distinct().count()
    rows = frequent_event_sequences(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        assert 1 <= r["support"] <= n_users
        assert r["n_occurrences"] >= r["support"]


def test_kcore_releases_round_checkpoints(spark, sf_dir):
    """Every round's localCheckpoint and the persisted edges are freed."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    kcore_decomposition(spark, sf_dir).collect()
    assert set(jsc.getPersistentRDDs().keys()) <= before


@pytest.mark.parametrize("query", [pagerank_part_copurchase, recursive_bom_closure_report])
def test_persisted_edges_released_on_success_and_failure(spark, sf_dir, monkeypatch, query):
    """The persisted edge table is freed after the result is collected, and
    also when the collect raises."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    assert query(spark, sf_dir).collect()
    assert set(jsc.getPersistentRDDs().keys()) <= before

    frame = type(spark.range(1))
    collect = frame.collect

    def boom(self):
        collect(self)  # runs the plan, so the edges are materialized
        raise RuntimeError("collect failed")

    monkeypatch.setattr(frame, "collect", boom)
    with pytest.raises(RuntimeError, match="collect failed"):
        query(spark, sf_dir)
    assert set(jsc.getPersistentRDDs().keys()) <= before

"""Contract tests for the co-purchase graph operators (operators/graph.py):
degrees and the compact-forward triangle count on a hand-built graph, the
distinct-basket pair build, and the one-exchange basket plan shape."""

from __future__ import annotations

import os
import re

import pytest

from unstructured_data_pipeline_spark.operators import graph


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


# K4 on 1..4, a pendant edge 4-5, and an isolated pair 10-11
K4_PLUS = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (10, 11)]


def test_degrees_of_k4_with_pendant_and_isolated_pair(spark):
    deg = graph.degrees(_edges(spark, K4_PLUS))
    got = {r["node"]: r["deg"] for r in deg.collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 4, 5: 1, 10: 1, 11: 1}


def test_count_triangles_of_k4_with_pendant_and_isolated_pair(spark):
    edges = _edges(spark, K4_PLUS)
    assert graph.count_triangles(edges, graph.degrees(edges)) == 4


def test_count_triangles_of_empty_graph_is_zero(spark):
    edges = _edges(spark, [])
    assert graph.count_triangles(edges, graph.degrees(edges)) == 0


def test_basket_pairs_count_a_duplicated_line_once(spark):
    """Order 1 lists part 1 twice: the pair (1, 2) shares two baskets
    (orders 1 and 2), not the three a raw self-join would count."""
    li = spark.createDataFrame(
        [(1, 1, 5), (1, 1, 7), (1, 2, 3), (2, 1, 1), (2, 2, 1), (3, 3, 1)],
        "l_orderkey long, l_partkey long, l_quantity long",
    )
    got = [tuple(r) for r in graph.basket_pairs(graph.baskets(li)).collect()]
    assert got == [(1, 2, 2)]


@pytest.fixture()
def no_broadcast(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield spark
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_basket_pairs_shuffle_baskets_once_on_the_order_key(no_broadcast, sf_dir):
    """The basket dedup and the self-join share the l_orderkey exchange:
    no exchange hash-partitions on (l_orderkey, l_partkey), which is what a
    bare ``.distinct()`` would add before the join re-shuffles."""
    spark = no_broadcast
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    plan = (
        graph.basket_pairs(graph.baskets(li))._jdf.queryExecution().executedPlan().toString()
    )
    assert re.search(r"Exchange hashpartitioning\(l_orderkey#\d+L?,", plan), plan
    assert not re.search(
        r"Exchange hashpartitioning\(l_orderkey#\d+L?, l_partkey#\d+L?", plan
    ), plan

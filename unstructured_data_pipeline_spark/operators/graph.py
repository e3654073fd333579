"""Co-purchase graph building blocks — the one copy of each, shared by
k-core, both triangle tiers, association rules and the DOULION probe.

Edges are frames of ``(u, v)`` node pairs with ``u < v``; every function
takes and returns DataFrames only (no options), so a caller's own filter
(support threshold, sample) decides which graph it runs on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def baskets(lineitem: DataFrame) -> DataFrame:
    """Distinct ``(l_orderkey, l_partkey)`` baskets.  Deduped with a groupBy
    AFTER repartitioning on the join key: HashPartitioning on l_orderkey
    satisfies the (l_orderkey, l_partkey) aggregation's clustering AND the
    self-join's requirement, so the basket relation is shuffled ONCE (a
    bare ``.distinct()`` hash-partitions on both columns and the join then
    re-shuffles it by l_orderkey).  Same distinct set."""
    return (
        lineitem.select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_partkey")
        .agg(F.lit(1))
        .select("l_orderkey", "l_partkey")
    )


def basket_pairs(baskets: DataFrame) -> DataFrame:
    """``(u, v, pair_n)``: part pairs ``u < v`` sharing ``pair_n`` baskets.
    The self-join is order-local, so fan-out is bounded by basket size."""
    a = baskets.alias("a")
    b = baskets.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("pair_n"))
    )


def degrees(edges: DataFrame) -> DataFrame:
    """``(node, deg)`` of an undirected ``(u, v)`` edge frame."""
    return (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def count_triangles(edges: DataFrame, deg: DataFrame) -> int:
    """Triangle count by COMPACT-FORWARD enumeration: every edge points from
    its lower-(degree, id) endpoint to the higher, so each triangle is
    enumerated exactly once at its lowest-ordered vertex and the wedge
    fan-out is sum-of-squares of FORWARD degrees — the classic trick that
    keeps a power-law hub from exploding the join (a hub's forward degree
    is small because almost all neighbors order below it).  Wedges at
    ``p`` are closed by a semi join against the oriented edges."""
    e = (
        edges.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    )
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = e.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(lo_first, F.struct(F.col("dv").alias("d"), F.col("v").alias("n")))
        .otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
        .alias("dst_ord"),
    )
    o1 = o.select(F.col("src").alias("p"), F.col("dst").alias("x"), F.col("dst_ord").alias("xo"))
    o2 = o.select(F.col("src").alias("p"), F.col("dst").alias("y"), F.col("dst_ord").alias("yo"))
    wedges = o1.join(o2, "p").filter(F.col("xo") < F.col("yo"))
    closing = o.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    return int(wedges.join(closing, ["x", "y"], "left_semi").count())


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint``ed frame.  ``df.unpersist()``
    does not: it only drops cache-manager entries, while a local checkpoint
    is the block-managed RDD under the frame's ``LogicalRDD`` leaf."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)

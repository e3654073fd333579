"""DOULION A/B in its PUBLISHED regime (VERDICT r8 Next #4).

SCALE.md records honestly that on the fixture co-purchase graph (100
triangles, 140 k wedges) edge-sampling buys ~nothing: the 60 M-row edge
BUILD dominates and the wedge join is noise.  DOULION's value claim
(Tsourakakis et al., KDD'09) is the WEDGE-dominated regime — triangle-dense
graphs where the join on wedges is the term that matters and p-sampling
cuts it by ~p^2.  This probe builds that regime deterministically and
turns the claim into numbers:

* graph: ``n_cliques`` planted cliques of ``clique_size`` nodes (pure
  ``spark.range`` + self-join — no RNG state, reproducible bit-for-bit).
  200 x 50 gives 245 k edges, 11.76 M wedges, 3.92 M triangles: wedge work
  >> edge build, the published target shape.
* exact tier: compact-forward enumeration (``graph.count_triangles``, the
  one the registry's triangle queries run) on the full edge set.
* sampled tier: the same enumeration on the md5-coin edge subset at
  p = 1/4 (first hex digit < '4'), estimate = sampled / p^3 = 64x, exact
  integers — the same sampler contract as ``triangle_count_sampled``.

Both tiers start from the SAME persisted edge DataFrame (materialized
before timing), so the A/B times only what sampling can change: the
degree build + orientation + wedge join + closing probe.

Usage: ``python tools/doulion_dense_ab.py [n_cliques] [clique_size]``
prints one JSON line; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.operators import graph
from unstructured_data_pipeline_spark.session import get_spark


def planted_clique_edges(spark, n_cliques: int, clique_size: int) -> DataFrame:
    """Edges (u < v) of ``n_cliques`` disjoint cliques: node n belongs to
    clique n div clique_size; every same-clique pair is an edge."""
    nodes = spark.range(n_cliques * clique_size).select(
        F.col("id").alias("n"), (F.col("id") / clique_size).cast("long").alias("c")
    )
    a = nodes.alias("a")
    b = nodes.alias("b")
    return (
        a.join(b, F.col("a.c") == F.col("b.c"))
        .filter(F.col("a.n") < F.col("b.n"))
        .select(F.col("a.n").alias("u"), F.col("b.n").alias("v"))
    )


def tier_counts(edges: DataFrame) -> tuple[int, int, int]:
    """(n_triangles, n_edges, n_wedges) through the queries' own operators
    (``operators/graph.py``).  n_wedges is the undirected sum
    deg*(deg-1)/2 (the term DOULION's p^2 reduction attacks)."""
    deg = graph.degrees(edges)
    wedges = deg.agg(
        F.coalesce(F.sum(F.expr("deg * (deg - 1) div 2")), F.lit(0)).cast("long")
    ).collect()[0][0]
    return graph.count_triangles(edges, deg), edges.count(), int(wedges)


def main() -> None:
    n_cliques = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    clique_size = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    spark = get_spark(app_name="doulion-dense-ab")
    spark.sparkContext.setLogLevel("ERROR")

    edges = planted_clique_edges(spark, n_cliques, clique_size).persist()
    try:
        n_edges = edges.count()  # materialize BEFORE timing either tier

        t0 = time.perf_counter()
        tri_exact, _, wedges_exact = tier_counts(edges)
        wall_exact = time.perf_counter() - t0

        # p = 1/4: first md5 hex digit of "u-v" < '4'; estimate = 64x
        sampled = edges.filter(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-", F.col("u").cast("string"), F.col("v").cast("string")
                    )
                ),
                1,
                1,
            )
            < "4"
        )
        t0 = time.perf_counter()
        tri_sampled, n_sampled, wedges_sampled = tier_counts(sampled)
        wall_sampled = time.perf_counter() - t0
    finally:
        edges.unpersist()

    est = 64 * tri_sampled
    out = {
        "graph": f"{n_cliques} cliques x {clique_size} nodes",
        "n_edges": n_edges,
        "n_edges_sampled": n_sampled,
        "wedges_exact": wedges_exact,
        "wedges_sampled": wedges_sampled,
        "wedge_reduction": round(wedges_exact / max(wedges_sampled, 1), 2),
        "tri_exact": tri_exact,
        "tri_estimate": est,
        "est_err_pct": round(100.0 * abs(est - tri_exact) / max(tri_exact, 1), 2),
        "wall_exact_s": round(wall_exact, 2),
        "wall_sampled_s": round(wall_sampled, 2),
        "speedup": round(wall_exact / max(wall_sampled, 1e-9), 2),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

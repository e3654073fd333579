"""Exact k-means over an embedding column: one driver-side Lloyd fit on a
bounded sample, one distributed argmin over the corpus.

The reference app has no clustering; this extends the training-data-pipeline
surface (semantic clustering for data mixing / diversity sampling, SemDeDup
blocking, the PQ codebooks of ``operators/pq.py``).

Engineered for *cross-engine exactness* so the whole iterative algorithm can
carry a DuckDB oracle (see ``queries.kmeans_embeddings_clusters``):

* Embeddings are quantized to integers (``floor(v*scale + 0.5)``, the cents
  trick) at ingest; centroid state is an EXACT integer pair
  ``(elementwise sum, count)`` — aggregation order cannot change it.
* Distances are doubles computed from those integers by one op sequence in
  every engine: cast the sum and the count to double, divide, subtract,
  square, then a *sequential* left fold over the dimensions from ``0.0``
  (Spark ``aggregate`` == DuckDB ``list_reduce`` == :func:`sq_dists`).
  Spark's ``bigint / bigint`` and DuckDB's ``BIGINT / BIGINT`` both cast
  before they divide, so the three agree for any sum below 2^63.
* Ties in the argmin break on the lower cluster index.

Scale shape (100 TB): the corpus is scanned exactly TWICE whatever
``iters`` is — once by the TakeOrdered md5-sample extraction (per-partition
heaps of ``100 * k`` rows) and once by the final row-local assignment,
whose centroids enter the plan as literals.  The Lloyd iterations run on
the collected sample in NumPy (``O(100*k * k * d)``), and empty clusters
carry the previous centroid forward (the oracle's LEFT JOIN COALESCE).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantize_vec(vec, scale: int):
    """float vector -> exact integer vector (same IEEE ops as the oracle's
    ``CAST(floor(CAST(v AS DOUBLE)*scale + 0.5) AS BIGINT)``)."""
    return F.transform(
        vec.cast("array<double>"),
        lambda v: F.floor(v * F.lit(scale) + F.lit(0.5)).cast("long"),
    )


def train_sample(pts: DataFrame, k: int) -> np.ndarray:
    """The training set of an ``(id, x)`` frame: the ``100 * k`` points
    whose id string has the lowest md5 hex, ties on id (the oracle's
    ``ORDER BY md5 ... LIMIT``), collected as an int64 matrix in id order.
    One TakeOrdered pass, bounded by construction."""
    rows = (
        pts.orderBy(F.md5(F.col("id").cast("string")), "id")
        .limit(100 * k)
        .collect()
    )
    rows.sort(key=lambda r: r["id"])
    return np.array([r["x"] for r in rows], dtype=np.int64)


def sq_dists(x: np.ndarray, s: np.ndarray, n: np.ndarray) -> np.ndarray:
    """``(points, clusters)`` squared distances of integer points ``x`` to
    the centroids ``s / n`` — the engine's op sequence exactly: cast sum and
    count to double, divide, subtract, square, and fold the dimensions left
    to right from ``0.0`` (not ``sum(axis=...)``, which sums pairwise)."""
    c = s.astype(np.float64) / n.astype(np.float64)[:, None]
    xf = x.astype(np.float64)
    acc = np.zeros((len(xf), len(c)))
    for i in range(c.shape[1]):
        diff = xf[:, i, None] - c[:, i]
        acc = acc + diff * diff
    return acc


def lloyd_fit(
    rows: np.ndarray, k: int, iters: int
) -> tuple[np.ndarray, np.ndarray]:
    """Lloyd's over an id-ordered int64 sample (see :func:`train_sample`):
    seeds are the ``k`` lowest-id rows; each iteration assigns every row
    (first index wins a tie) and rebuilds the exact int64 ``(sums,
    counts)``; an empty cluster keeps its previous centroid."""
    sums, counts = rows[:k].copy(), np.ones(k, dtype=np.int64)
    for _ in range(iters):
        a = sq_dists(rows, sums, counts).argmin(axis=1)
        n = np.bincount(a, minlength=k)
        s = np.zeros_like(sums)
        np.add.at(s, a, rows)
        hit = n > 0
        sums[hit], counts[hit] = s[hit], n[hit]
    return sums, counts


def array_sql(v) -> str:
    """An integer vector as a Spark SQL ``array<bigint>`` literal."""
    return "array(" + ", ".join(f"{int(e)}L" for e in v) + ")"


def argmin_sql(vec: str, cents: list[tuple[str, str]], d: int) -> str:
    """SQL for the index of the nearest centroid to the ``d``-dim integer
    array column ``vec``.  ``cents[j]`` is centroid ``j``'s sum array and
    count as SQL text.  The k entries are rendered as ONE string parsed
    JVM-side (one py4j call instead of one per ``functions.*`` node);
    ``array_min`` over ``(d, k)`` structs breaks ties on the lower index."""
    entries = []
    for j, (s, n) in enumerate(cents):
        diff = f"(element_at({vec}, i) - element_at({s}, i) / {n})"
        dist = (
            f"aggregate(sequence(1, {d}), 0.0D, "
            f"(acc, i) -> acc + ({diff} * {diff}))"
        )
        entries.append(f"named_struct('d', {dist}, 'k', {j})")
    return f"array_min(array({', '.join(entries)}))['k']"


def kmeans_assignments(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Fit ``iters`` Lloyd updates on the md5 training sample
    (:func:`train_sample`, :func:`lloyd_fit`) and return the final
    full-corpus assignment ``(id, x, k)`` — the building block
    :func:`kmeans_embeddings` aggregates into stats and SemDeDup blocks
    near-dup search on.  Fewer than ``k`` sampled points -> empty."""
    pts = df.select(
        F.col(id_col).alias("id"), quantize_vec(F.col(vec_col), scale).alias("x")
    )
    sample = train_sample(pts, k)
    if len(sample) < k:  # degenerate input (fewer points than clusters)
        return df.sparkSession.createDataFrame(
            [], "id long, x array<bigint>, k int"
        )
    sums, counts = lloyd_fit(sample, k, iters)
    cents = [(array_sql(s), f"{int(n)}L") for s, n in zip(sums, counts)]
    kk = argmin_sql("x", cents, sample.shape[1])
    return pts.select("id", "x", F.expr(kk).alias("k"))


def kmeans_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Per-cluster stats of :func:`kmeans_assignments`:
    ``(k, n_points, dim1_sum, total_q_sum, centroid_dim1)`` — all exact
    integers except the final rounded centroid coordinate."""
    final = kmeans_assignments(df, id_col, vec_col, k, iters, scale)
    return (
        final.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.element_at("x", 1)).alias("dim1_sum"),
            F.sum(
                F.aggregate("x", F.lit(0).cast("long"), lambda a, v: a + v)
            ).alias("total_q_sum"),
        )
        .select(
            "k",
            "n_points",
            "dim1_sum",
            "total_q_sum",
            F.round(F.col("dim1_sum") / F.col("n_points"), 6).alias(
                "centroid_dim1"
            ),
        )
        .orderBy("k")
    )

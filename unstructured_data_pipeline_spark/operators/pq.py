"""Product quantization (PQ) for embedding compression + ADC top-k search.

Completes the ANN family (brute-force cosine -> hyperplane LSH -> IVF ->
PQ): vectors are split into ``m`` contiguous subvectors, each subvector is
vector-quantized against a small codebook, and a document is stored as just
``m`` small integer codes — a 64-dim float vector becomes 4 bytes-ish of
codes, the memory/IO shape that lets a 100 TB embedding corpus fit hot.
Search uses the asymmetric distance computation (ADC) of Jégou et al. 2011
("Product quantization for nearest neighbor search", IEEE TPAMI): the
query stays un-quantized; per (subspace, code) squared distances are
precomputed into a tiny table, so scoring a document is ``m`` table lookups
+ ``m-1`` additions — no float vector is ever read at query time.

Two codebook shapes share one fit and one encode: :func:`pq_fit_encode`
trains ONE codebook on all subvector slices (a documented simplification
that keeps train->encode->search a single Lloyd's chain, mirrored unrolled
in the DuckDB oracle); :func:`pq_fit_encode_subspace` trains one codebook
per subspace (Jégou et al. proper).  Exactness contract and fit are
`operators/clustering.py`'s: integer-quantized inputs, exact integer
centroid state, cast-first sequential-fold double distances, low-index
tie-breaks.

Scale shape (100 TB): training reads one md5-prefix sample of ``100 * k``
rows (a codebook is a statistic a bounded sample estimates as well as the
corpus), so the corpus is scanned twice total: sample extraction + final
encode.  The encode is a row-local argmin per slice; the codebook is
``k*(d/m+1)`` integers per subspace on the driver (a bounded collect, like
IVF's centroids); ADC scoring is ONE scan of the codes relation however
many queries there are — the per-(query, subspace, code) distance tables
ride along as one broadcast relation, each code row explodes per query,
and per-qid top-k is one rank window that Spark's WindowGroupLimit
pushdown splits into partial per-partition heaps before the exchange, so
only ``|Q| * partitions * k`` rows shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.operators.clustering import (
    argmin_sql,
    array_sql,
    lloyd_fit,
    quantize_vec,
    sq_dists,
    train_sample,
)

__all__ = ["pq_fit_encode", "pq_fit_encode_subspace", "pq_adc_topk"]


def _slices(pts: DataFrame, dsub: int, m: int) -> DataFrame:
    """``(id, sub, sv)``: the ``m`` contiguous slices of every ``x`` as one
    row-local explode — one corpus scan, input partitioning kept."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice("x", s * dsub + 1, dsub).alias("sv"),
            )
            for s in range(m)
        ]
    )
    return pts.select("id", F.explode(subs).alias("e")).select(
        "id", F.col("e.sub").alias("sub"), F.col("e.sv").alias("sv")
    )


def _encode(pts: DataFrame, cents: list[tuple[str, str]], dsub: int, m: int):
    """Encode every vector of ``pts`` against ``cents`` (SQL text, see
    `clustering.argmin_sql`).  Returns the cached, materialized codes
    ``(id, c0..c{m-1})`` and the exact per-(sub, code) state as
    ``[(sub, code, sums, count)]`` — the codebook ADC scores against."""
    final = _slices(pts, dsub, m).select(
        "id", "sub", "sv", F.expr(argmin_sql("sv", cents, dsub)).alias("kk")
    ).persist()
    try:
        rows = final.groupBy("sub", "kk").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.element_at("sv", i + 1)).alias(f"s{i}") for i in range(dsub)],
        ).collect()  # bounded: m*k rows of dsub+1 integers
        # `codes` stays cached for the caller (it is the PQ index — callers
        # search it repeatedly)
        codes = final.groupBy("id").agg(
            *[
                F.max(F.when(F.col("sub") == s, F.col("kk"))).alias(f"c{s}")
                for s in range(m)
            ]
        ).persist()
        codes.count()  # materialize while `final` is cached
    finally:
        final.unpersist(blocking=False)
    state = [
        (r["sub"], r["kk"], [r[f"s{i}"] for i in range(dsub)], r["n"])
        for r in rows
    ]
    return codes, state


def _points(df: DataFrame, id_col: str, vec_col: str, dim: int, m: int, scale: int):
    """``(id, x)`` quantized points, checking that ``m`` divides ``dim``."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    return df.select(
        F.col(id_col).alias("id"), quantize_vec(F.col(vec_col), scale).alias("x")
    )


def _no_codes(df: DataFrame, m: int) -> DataFrame:
    return df.sparkSession.createDataFrame(
        [], "id long, " + ", ".join(f"c{s} int" for s in range(m))
    )


def pq_fit_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    scale: int = 1000,
):
    """Train the shared codebook and encode every vector.

    Returns ``(codes, codebook, dsub)`` where ``codes`` is a DataFrame
    ``(id, c0..c{m-1})`` (one small int per subspace), ``codebook`` is a
    dict ``code -> (sum_vector, count)`` of EXACT integers (centroid ==
    elementwise ``sum/count``, the same half-step-after-assignment state
    the oracle derives), and ``dsub = dim // m``.  All slices feed ONE
    Lloyd's fit, sampled by the composite slice id ``pid = id*m + sub``.
    """
    pts, dsub = _points(df, id_col, vec_col, dim, m, scale), dim // m
    pids = _slices(pts, dsub, m).select(
        (F.col("id") * m + F.col("sub")).alias("id"), F.col("sv").alias("x")
    )
    sample = train_sample(pids, k)
    if len(sample) < k:  # degenerate input (fewer slices than clusters)
        return _no_codes(df, m), {}, dsub
    sums, counts = lloyd_fit(sample, k, iters)
    cents = [(array_sql(s), f"{int(n)}L") for s, n in zip(sums, counts)]
    codes, state = _encode(pts, cents, dsub, m)
    codebook: dict = {}
    for _, code, s, n in state:
        s0, n0 = codebook.get(code, ([0] * dsub, 0))
        codebook[code] = ([a + b for a, b in zip(s0, s)], n0 + n)
    return codes, codebook, dsub


def pq_fit_encode_subspace(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    scale: int = 1000,
):
    """Classic per-subspace PQ (Jégou et al. 2011 proper): ONE codebook per
    subspace — m independent Lloyd's fits over the slices of one md5 sample
    (keyed by id, so the m training sets are the same rows sliced m ways),
    then one encode whose argmin picks subspace ``sub``'s centroids at run
    time.

    Returns ``(codes, codebooks, dsub)`` where ``codebooks`` is a LIST of
    per-subspace ``code -> (sum_vector, count)`` dicts (pass straight to
    :func:`pq_adc_topk`).  vs the shared-codebook variant: m× the codebook
    memory (still tiny); each subspace's codebook models its own slice
    distribution — the standard quantization-error win on real embedding
    distributions.  Measured caveat (bench `pq_subspace_recall`): on the
    SMALL near-isotropic fixture corpus the shared codebook actually wins
    recall@5 (it trains on m× the slices for the same k) — the
    per-subspace advantage needs per-subspace structure and enough
    training data, which is exactly the 100 TB regime."""
    pts, dsub = _points(df, id_col, vec_col, dim, m, scale), dim // m
    sample = train_sample(pts, k)
    if len(sample) < k:  # degenerate input (fewer points than clusters)
        return _no_codes(df, m), [dict() for _ in range(m)], dsub
    fits = [
        lloyd_fit(sample[:, s * dsub : (s + 1) * dsub], k, iters)
        for s in range(m)
    ]
    # centroid j of subspace `sub`, picked per slice row at run time
    at_sub = "CAST((sub + 1) AS INT)"
    cents = []
    for j in range(k):
        s_all = ", ".join(array_sql(s[j]) for s, _ in fits)
        n_all = array_sql(n[j] for _, n in fits)
        cents.append(
            (f"element_at(array({s_all}), {at_sub})", f"element_at({n_all}, {at_sub})")
        )
    codes, state = _encode(pts, cents, dsub, m)
    codebooks: list[dict] = [dict() for _ in range(m)]
    for sub, code, s, n in state:
        codebooks[sub][code] = (s, n)
    return codes, codebooks, dsub


def pq_adc_topk(
    codes: DataFrame,
    codebook: dict,
    queries: list[tuple[int, list[int]]],
    m: int,
    dsub: int,
    topk: int = 5,
) -> DataFrame:
    """ADC top-k over ONE scan of ``codes``, however many queries there
    are.  ``queries`` are (qid, quantized-int full vector).  The
    per-(query, subspace, code) distance tables are computed driver-side
    by `clustering.sq_dists` (``len(queries)*m*k`` doubles — tiny) and
    ship as ONE broadcast relation ``(qid, tabs)``; every code row joins
    it (broadcast nested loop, bounded by |Q|), scores as ``m`` array
    lookups + ``m-1`` adds, and per-qid top-k is one ``row_number() <=
    topk`` window: Spark's rank-limit pushdown (WindowGroupLimit,
    SPARK-37099) plans it as a PARTIAL per-input-partition top-k BEFORE
    the exchange plus a FINAL one after, so only ``|Q| * partitions *
    topk`` candidate rows shuffle — never a global sort of the scored
    relation.  Ties break on the lower document id, so the result is
    independent of the input partitioning.  ``codebook`` is either one
    shared dict (`pq_fit_encode`) or a per-subspace list of dicts
    (`pq_fit_encode_subspace`)."""
    per_sub = codebook if isinstance(codebook, list) else [codebook] * m
    if not queries or any(not cb for cb in per_sub):
        # no query vectors, or no codebook (=> codes is empty too)
        return codes.sparkSession.createDataFrame(
            [], "qid long, id long, dist double"
        )
    qx = np.array([q for _, q in queries], dtype=np.int64)
    tabs = []
    for sub, cb in enumerate(per_sub):
        ks = sorted(cb)
        tab = np.full((len(queries), ks[-1] + 1), np.inf)  # absent code: inf
        tab[:, ks] = sq_dists(
            qx[:, sub * dsub : (sub + 1) * dsub],
            np.array([cb[j][0] for j in ks], dtype=np.int64),
            np.array([cb[j][1] for j in ks], dtype=np.int64),
        )
        tabs.append(tab.tolist())
    qdf = codes.sparkSession.createDataFrame(
        [(int(qid), [t[i] for t in tabs]) for i, (qid, _) in enumerate(queries)],
        "qid long, tabs array<array<double>>",
    )
    # dist = ((t0 + t1) + t2) + ... left-assoc, mirroring the oracle's
    # scalar + chain
    dist = None
    for sub in range(m):
        term = F.element_at(
            F.element_at("tabs", sub + 1), F.col(f"c{sub}") + 1
        )
        dist = term if dist is None else dist + term
    scored = codes.join(F.broadcast(qdf)).select(
        "qid", "id", dist.alias("dist")
    )  # |Q|-bounded broadcast fan-out per code row
    w = Window.partitionBy("qid").orderBy("dist", "id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= topk)
        .select("qid", "id", "dist")
    )

"""Unit tests for the round-2 training-data operators: k-means clustering
(operators/clustering.py), greedy context-window packing
(operators/packing.py), and the benchmark-decontamination query contract.
The cross-engine value checks live in the DuckDB parity sweep
(test_oracle_parity.py); these pin the algorithmic invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from unstructured_data_pipeline_spark import queries as Q
from unstructured_data_pipeline_spark.operators.clustering import (
    kmeans_embeddings,
)
from unstructured_data_pipeline_spark.operators.packing import pack_greedy

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# k-means


def test_kmeans_partitions_all_points(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = kmeans_embeddings(emb, "vec_id", "embedding", k=8, iters=2).collect()
    assert sum(r["n_points"] for r in out) == emb.count()
    assert sorted(r["k"] for r in out) == sorted(set(r["k"] for r in out))


def test_kmeans_deterministic_rerun(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = kmeans_embeddings(emb, "vec_id", "embedding", k=4, iters=2).collect()
    b = kmeans_embeddings(emb, "vec_id", "embedding", k=4, iters=2).collect()
    assert a == b


def test_kmeans_separates_known_clusters(spark):
    # two tight blobs far apart; k=2 must split them exactly
    rows = [(i, [float(10 + (i % 3))] * 4) for i in range(6)] + [
        (i, [float(-10 - (i % 3))] * 4) for i in range(6, 12)
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = kmeans_embeddings(df, "id", "v", k=2, iters=2, scale=1000)
    sizes = sorted(r["n_points"] for r in out.collect())
    assert sizes == [6, 6]


def test_kmeans_fewer_points_than_k_is_empty(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "id long, v array<double>"
    )
    out = kmeans_embeddings(df, "id", "v", k=8, iters=1)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "k", "n_points", "dim1_sum", "total_q_sum", "centroid_dim1",
    ]


# ---------------------------------------------------------------------------
# greedy packing


def _packs(spark, sizes, budget):
    rows = [("s", i, sz) for i, sz in enumerate(sizes)]
    df = spark.createDataFrame(rows, "shard string, id long, sz long")
    out = pack_greedy(df, "shard", "id", "sz", budget=budget)
    return [r["pack_id"] for r in out.orderBy("id").collect()]


def test_pack_greedy_boundaries(spark):
    # budget 10: [4,4,4] -> packs [0,0,1]; exact fit [6,4] stays together
    assert _packs(spark, [4, 4, 4], 10) == [0, 0, 1]
    assert _packs(spark, [6, 4, 1], 10) == [0, 0, 1]


def test_pack_greedy_oversized_row_gets_own_pack(spark):
    assert _packs(spark, [3, 25, 3, 3], 10) == [0, 1, 2, 2]
    # oversized FIRST row also occupies pack 0 alone
    assert _packs(spark, [25, 3], 10) == [0, 1]


def test_pack_greedy_respects_budget_and_preserves_rows(spark):
    import random

    rng = random.Random(7)
    rows = [
        (f"s{i % 3}", i, rng.randint(1, 9)) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "shard string, id long, sz long")
    out = pack_greedy(df, "shard", "id", "sz", budget=20)
    assert out.count() == 60
    over = (
        out.groupBy("shard", "pack_id")
        .agg(F.sum("sz").alias("t"))
        .filter(F.col("t") > 20)
        .count()
    )
    assert over == 0  # no oversized single rows in this fixture


def _pack_model(sizes: list[int], budget: int) -> list[int]:
    """Pure-python reference of the greedy packing contract."""
    out, cur, pid = [], 0, 0
    for s in sizes:
        if cur > 0 and cur + s > budget:
            pid += 1
            cur = 0
        cur += s
        out.append(pid)
    return out


def test_pack_greedy_matches_model_property(spark):
    """Property: the distributed applyInPandas path reproduces the pure
    sequential model for arbitrary shard/size mixes (guards pandas dtype /
    ordering regressions)."""
    import random

    rng = random.Random(123)
    for trial in range(5):
        budget = rng.randint(5, 60)
        rows = []
        per_shard: dict[str, list[tuple[int, int]]] = {}
        for i in range(rng.randint(1, 120)):
            shard = f"s{rng.randint(0, 3)}"
            sz = rng.randint(1, budget * 2)  # includes oversized rows
            rows.append((shard, i, sz))
            per_shard.setdefault(shard, []).append((i, sz))
        df = spark.createDataFrame(rows, "shard string, id long, sz long")
        got = {
            (r["shard"], r["id"]): r["pack_id"]
            for r in pack_greedy(df, "shard", "id", "sz", budget).collect()
        }
        for shard, items in per_shard.items():
            items.sort()
            expect = _pack_model([sz for _, sz in items], budget)
            for (i, _), pid in zip(items, expect):
                assert got[(shard, i)] == pid, (trial, shard, i)


# ---------------------------------------------------------------------------
# decontamination query contract


def test_decontam_flags_planted_docs(spark):
    out = Q.decontam_benchmark_overlap(spark, SF)
    rows = {r["doc_id"]: r for r in out.collect()}
    planted = [i for i in rows if i >= 5_000_000]
    assert planted  # every doc_id % 34 == 0 re-plant must be caught
    for i in planted:
        # the re-plant shares every one of its 8-grams with its source
        assert rows[i]["n_overlap"] == rows[i]["n_grams"]
        assert rows[i]["contamination_rate"] == 1.0


def test_pq_encode_structure_and_determinism(spark, sf_dir):
    """PQ codes: one row per vector, m codes each in [0, k); codebook counts
    account for every (vector, subspace) slice; re-run is bit-identical."""
    from pyspark.sql import functions as F

    from unstructured_data_pipeline_spark.operators.pq import (
        pq_adc_topk,
        pq_fit_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    codes, cb, dsub = pq_fit_encode(
        emb, "vec_id", "embedding", dim=64, m=4, k=16, iters=1, scale=1000
    )
    assert dsub == 16
    assert codes.count() == n
    bad = codes.filter(
        sum(
            ((F.col(f"c{s}") < 0) | (F.col(f"c{s}") >= 16)).cast("int")
            for s in range(4)
        )
        > 0
    ).count()
    assert bad == 0
    assert sum(cnt for _, cnt in cb.values()) == 4 * n
    assert all(len(s) == 16 for s, _ in cb.values())
    # determinism: same input -> same codes and codebook
    codes2, cb2, _ = pq_fit_encode(
        emb, "vec_id", "embedding", dim=64, m=4, k=16, iters=1, scale=1000
    )
    assert cb == cb2
    a = sorted(map(tuple, codes.collect()))
    b = sorted(map(tuple, codes2.collect()))
    assert a == b
    # ADC top-k: k rows per query, distances non-decreasing within a query
    from unstructured_data_pipeline_spark.operators.clustering import quantize_vec

    q = (
        emb.filter(F.col("vec_id") < 2)
        .select("vec_id", quantize_vec(F.col("embedding"), 1000).alias("qx"))
        .collect()
    )
    top = pq_adc_topk(
        codes, cb, [(r["vec_id"], list(r["qx"])) for r in q], m=4, dsub=16, topk=3
    ).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r["qid"], []).append(r["dist"])
    assert set(by_q) == {0, 1}
    for dists in by_q.values():
        assert len(dists) == 3 and dists == sorted(dists)


def test_pq_adc_single_scan(spark, sf_dir):
    """VERDICT r4 #2 invariant: ADC top-k scans the codes relation exactly
    ONCE however many queries there are (the old shape planned one
    orderBy().limit() scan per query), and the one-scan plan returns the
    same rows as per-query brute force over the codes."""
    from pyspark.sql import functions as F

    from unstructured_data_pipeline_spark.operators.clustering import quantize_vec
    from unstructured_data_pipeline_spark.operators.pq import (
        pq_adc_topk,
        pq_fit_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    codes, cb, dsub = pq_fit_encode(
        emb, "vec_id", "embedding", dim=64, m=4, k=16, iters=1, scale=1000
    )
    qrows = (
        emb.filter(F.col("vec_id") < 6)
        .select("vec_id", quantize_vec(F.col("embedding"), 1000).alias("qx"))
        .collect()
    )
    queries = [(r["vec_id"], list(r["qx"])) for r in qrows]
    out = pq_adc_topk(codes, cb, queries, m=4, dsub=dsub, topk=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the old shape was |Q| orderBy().limit() branches glued by Union —
    # one scan of codes per query.  The single-scan shape has NO Union,
    # exactly ONE (broadcast, |Q|-bounded) join fanning the distance
    # tables across the one codes scan, and the rank-limit pushdown
    # (partial per-partition heaps before the exchange) engaged.
    assert "Union" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "WindowGroupLimit" in plan, plan
    # exactly one scan of the cached codes relation feeds the join (later
    # InMemoryTableScan strings belong to the cached lineage dump below
    # the first InMemoryRelation marker)
    assert plan[: plan.index("InMemoryRelation")].count("InMemoryTableScan") == 1, plan
    # same results as the naive per-query sort over the scored relation
    got = {
        (r["qid"], r["id"], round(r["dist"], 9)) for r in out.collect()
    }
    want = set()
    per_q = {}
    code_rows = codes.collect()
    for qid, qx in queries:
        scored = []
        for row in code_rows:
            d = 0.0
            for sub in range(4):
                s, n = cb[row[f"c{sub}"]]
                qs = qx[sub * dsub : (sub + 1) * dsub]
                acc = 0.0
                for i in range(dsub):
                    diff = qs[i] - s[i] / n
                    acc += diff * diff
                d = d + acc if sub else acc
            scored.append((d, row["id"]))
        for d, vid in sorted(scored)[:4]:
            want.add((qid, vid, round(d, 9)))
    assert got == want


def test_sql_rendered_argmin_matches_python_mirror(spark):
    """Both shapes of the one SQL argmin renderer (`argmin_sql`) agree row
    by row with the NumPy mirror ``sq_dists(...).argmin(axis=1)`` on real
    fixture vectors: literal centroid arrays (k-means, shared PQ) and
    ``element_at(<array of arrays>, sub + 1)`` centroids (per-subspace
    PQ, checked through the codes it encodes)."""
    import numpy as np

    from unstructured_data_pipeline_spark.operators.clustering import (
        kmeans_assignments,
        lloyd_fit,
        quantize_vec,
        sq_dists,
        train_sample,
    )
    from unstructured_data_pipeline_spark.operators.pq import (
        pq_fit_encode_subspace,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        quantize_vec(F.col("embedding"), 1000).alias("x"),
    )
    rows = sorted((r["id"], list(r["x"])) for r in pts.collect())
    ids = [i for i, _ in rows]
    x = np.array([v for _, v in rows], dtype=np.int64)
    k, m = 4, 4
    dsub = x.shape[1] // m
    sample = train_sample(pts, k)

    # literal shape: every corpus point against one fit
    got = sorted(
        (r["id"], r["k"])
        for r in kmeans_assignments(emb, "vec_id", "embedding", k=k).collect()
    )
    want = sq_dists(x, *lloyd_fit(sample, k, 2)).argmin(axis=1)
    assert got == list(zip(ids, want.tolist()))

    # subspace-indexed shape: code c{s} = argmin against subspace s's fit
    codes, _, _ = pq_fit_encode_subspace(
        emb, "vec_id", "embedding", dim=64, m=m, k=k, iters=2
    )
    got_m = sorted(tuple(r) for r in codes.collect())
    cols = [
        sq_dists(
            x[:, s * dsub : (s + 1) * dsub],
            *lloyd_fit(sample[:, s * dsub : (s + 1) * dsub], k, 2),
        ).argmin(axis=1)
        for s in range(m)
    ]
    assert got_m == [
        (i, *(int(c[r]) for c in cols)) for r, i in enumerate(ids)
    ]
    codes.unpersist()


def test_sq_dists_casts_before_dividing_like_spark(spark):
    """Above 2^53 the exact Python ``int / int`` rounds once, but Spark
    (and DuckDB) cast the sum to double first.  `sq_dists` must give the
    engine's double bit for bit: x=0, s=2^53+1, n=3."""
    import numpy as np

    from unstructured_data_pipeline_spark.operators.clustering import (
        argmin_sql,
        sq_dists,
    )

    s = 2**53 + 1
    got = sq_dists(
        np.array([[0]], dtype=np.int64),
        np.array([[s]], dtype=np.int64),
        np.array([3], dtype=np.int64),
    )[0, 0]
    # the distance sub-expression of the rendered argmin (one centroid)
    expr = argmin_sql("x", [(f"array({s}L)", "3L")], 1)
    assert expr.endswith("['k']")
    df = spark.createDataFrame([([0],)], "x array<bigint>")
    want = df.select(F.expr(expr[: -len("['k']")] + "['d']")).first()[0]
    assert got.hex() == float(want).hex()
    assert got != (0 - s / 3) ** 2  # the exact divide would differ here


def test_lloyd_fit_above_2_53_matches_spark_argmin(spark):
    """Centroid sums past 2^53 need no guard: `lloyd_fit` (which once raised
    OverflowError here) assigns exactly like `argmin_sql` evaluated by
    Spark, iteration by iteration, with the integer state rebuilt by a
    Spark aggregation."""
    import numpy as np

    from unstructured_data_pipeline_spark.operators.clustering import (
        argmin_sql,
        array_sql,
        lloyd_fit,
        sq_dists,
    )

    big = 2**51
    rows = np.array(
        [[big + 3 * i, -big - 7 * i] for i in range(6)]
        + [[-big + 5 * i, big + 11 * i] for i in range(6)]
        + [[big + 1, big + 2], [3, -4]],
        dtype=np.int64,
    )
    k, iters = 3, 3
    df = spark.createDataFrame(
        [(i, r.tolist()) for i, r in enumerate(rows)], "id long, x array<bigint>"
    )
    sums, counts = rows[:k].copy(), np.ones(k, dtype=np.int64)
    for it in range(iters + 1):
        cents = [(array_sql(s), f"{int(n)}L") for s, n in zip(sums, counts)]
        a = df.select("id", "x", F.expr(argmin_sql("x", cents, 2)).alias("k"))
        got = [r["k"] for r in a.orderBy("id").collect()]
        assert got == sq_dists(rows, sums, counts).argmin(axis=1).tolist()
        if it == iters:
            break
        for r in a.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.element_at("x", 1)).alias("s0"),
            F.sum(F.element_at("x", 2)).alias("s1"),
        ).collect():
            sums[r["k"]], counts[r["k"]] = [r["s0"], r["s1"]], r["n"]
    assert np.abs(sums).max() >= 2**53
    fit = lloyd_fit(rows, k, iters)
    assert (fit[0] == sums).all() and (fit[1] == counts).all()

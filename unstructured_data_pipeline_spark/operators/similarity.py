"""Similarity search over embedding columns (array<float>).

* cosine_topk       — brute-force exact top-k: broadcast the (small) query
                      set against the corpus, fold-left dot product in pure
                      array expressions, window top-k.  The baseline.
* lsh_bucketed_topk — random-hyperplane LSH scale path: deterministic
                      hyperplanes derived from md5 (reproducible cluster-
                      independent), sign-bit bucket key, candidate generation
                      within buckets (multi-probe via bands), exact rerank of
                      candidates only.

Scale notes: brute force is O(|Q| * |corpus| * d) — fine when |Q| is small
and broadcast; the LSH variant bounds candidates per query and turns the
crossJoin into a bucket equi-join (shuffle on bucket id), the right shape at
10^9 vectors.  All arithmetic is double fold-left so results are
deterministic and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.operators.partitioning import (
    ensure_min_parallelism,
)


def _dot(a: Column, b: Column) -> Column:
    """Sequential fold-left dot product in double — deterministic order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector; a query is never
    its own neighbor.

    Output: (q_id, neighbor_id, rank, cos) — rank 1..k by cosine desc,
    neighbor id asc on ties.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = ensure_min_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("q_id")
    )
    scored = pairs.select(
        "q_id",
        "neighbor_id",
        cosine(F.col("q_vec"), F.col("c_vec")).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cos")
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component h[i] derived from
    md5(f"{plane}_{i}") — reproducible everywhere, no RNG state."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"{plane}_{i}".encode()).hexdigest()
        v = int(h[:8], 16) / float(0xFFFFFFFF)  # [0, 1]
        out.append(2.0 * v - 1.0)  # [-1, 1]
    return out


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """ANN via random-hyperplane LSH: bucket = sign bits of ``n_planes``
    projections, split into ``bands`` bands for multi-probe recall; exact
    cosine rerank within candidates.  Same output shape as cosine_topk
    (rank may have < k rows when buckets are sparse — ANN contract)."""
    planes = [_hyperplane(dim, p) for p in range(n_planes)]

    def sign_bits(vec: Column) -> list[Column]:
        bits = []
        for p in planes:
            arr = F.array(*[F.lit(x) for x in p])
            bits.append(F.when(_dot(vec, arr) >= 0, F.lit("1")).otherwise(F.lit("0")))
        return bits

    def with_bands(df: DataFrame, idc: str, vecc: str) -> DataFrame:
        bits = sign_bits(F.col(vecc))
        rows = n_planes // bands
        band_cols = [
            F.struct(
                F.lit(b).alias("band"),
                F.concat(*bits[b * rows : (b + 1) * rows]).alias("sig"),
            )
            for b in range(bands)
        ]
        return df.select(
            F.col(idc), F.col(vecc), F.explode(F.array(*band_cols)).alias("bk")
        ).select(idc, vecc, F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))

    cb = with_bands(
        ensure_min_parallelism(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        "neighbor_id",
        "c_vec",
    )
    qb = with_bands(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        "q_id",
        "q_vec",
    )
    cand = (
        cb.join(qb, ["band", "sig"])
        .select("q_id", "q_vec", "neighbor_id", "c_vec")
        .distinct()
        .filter(F.col("neighbor_id") != F.col("q_id"))
    )
    scored = cand.select(
        "q_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cos")
    )


def embedding_near_dup_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.98,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via ``applyInPandas`` per block: the
    whole block's similarity matrix is one numpy matmul, and only the pairs
    ABOVE threshold ever become Spark rows.

    This is the shape that wins at scale: the expression-tree variant
    (:func:`embedding_near_dup`) must materialize |block|^2 join rows just
    to score them (measured ~2 s per 250 K pairs — higher-order-function
    lambdas are interpreted, not codegen'd), while here Arrow ships one row
    per VECTOR and the O(|block|^2) work runs as BLAS calls.
    Blocks (cluster / label / LSH-bucket ids) are assumed executor-memory
    sized — the same assumption the join variant needs to avoid skew.

    The matmul runs in ROW STRIPS (strip x |block| at a time, ~32 MB per
    strip) instead of one |block|^2 similarity matrix: the full matrix
    plus ``triu_indices`` cost ~6.4 GB at a 20 k-vector block (the sf10
    probe's regime, SCALE.md) and would cliff an executor long before the
    arithmetic does.  Each output element is the same independent BLAS dot
    product, so strip order changes nothing semantically — the pair set is
    identical to the single-matmul form up to floating-point accumulation
    order (measured: cosines can differ by 1 ULP between gemm shapes, so a
    pair sitting EXACTLY on the threshold could in principle flip;
    registry consumers round to 6 decimals after the gate, and fixtures
    keep planted pairs ~0.1 away from the threshold, ADVICE r7).
    """
    schema = "a long, b long, cos double"

    def per_block(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(columns=["a", "b", "cos"])
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        strip = max(1, 4_000_000 // n)  # ~32 MB of float64 per strip
        cols = np.arange(n)
        out_a, out_b, out_c = [], [], []
        for s in range(0, n, strip):
            e = min(s + strip, n)
            sim = m[s:e] @ m.T  # (e-s) x n
            keep = (sim >= threshold) & (cols[None, :] > np.arange(s, e)[:, None])
            li, j = np.nonzero(keep)
            if len(li):
                ai, bi = ids[li + s], ids[j]
                out_a.append(np.minimum(ai, bi))
                out_b.append(np.maximum(ai, bi))
                out_c.append(sim[li, j])
        if not out_a:
            return pd.DataFrame(columns=["a", "b", "cos"])
        return pd.DataFrame(
            {
                "a": np.concatenate(out_a),
                "b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    return df.groupBy(block_col).applyInPandas(per_block, schema)


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.98,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos) with a < b and
    cos >= threshold.

    With ``block_col`` the self-join is an equi-join on the block (e.g. a
    cluster/label/LSH-bucket id), so cost is sum over blocks of |block|^2 —
    the only shape that survives 10^9 vectors.  Without it, a full
    cross-pair scan (fixture-scale only).

    Vectors are L2-normalized ONCE per row before the join (cos of
    normalized vectors == plain dot), so each pair costs one fold-left dot
    instead of dot + 2 norms — 3x less work exactly where the join fans
    out.  All arithmetic is sequential double fold-lefts -> deterministic,
    oracle-comparable (the oracle mirrors the normalize-then-dot order).
    """
    unit = F.transform(
        F.col(vec_col), lambda x: x.cast("double") / _norm(F.col(vec_col))
    )
    a = df.select(
        F.col(id_col).alias("a"),
        unit.alias("va"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    b = df.select(
        F.col(id_col).alias("b"),
        unit.alias("vb"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    pairs = a.join(b, on=["blk"] if block_col else []) if block_col else a.crossJoin(b)
    pairs = pairs.filter(F.col("a") < F.col("b"))
    if block_col:
        # a blocked self-join leaves at most |blocks| active partitions; the
        # per-pair dot (interpreted lambda eval) is the expensive part, so
        # spread the pair set across every core before scoring.  The shuffle
        # moved is exactly the work set being balanced.
        par = df.sparkSession.sparkContext.defaultParallelism
        pairs = pairs.repartition(par)
    return (
        pairs.select("a", "b", _dot(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF (inverted-file) ANN: assign every corpus vector to its nearest
    coarse centroid (the inverted lists), probe each query against its
    ``nprobe`` nearest centroids, exact-rerank only the probed lists.

    The probe side (|Q| * nprobe rows, each carrying a full query vector)
    is hinted into a broadcast hash join (ADVICE r13) — correct for the
    bounded query sets this engine's callers use (|Q| in the tens), and
    the only estimate-independent way to keep the corpus-sized lists
    un-shuffled.  A CORPUS-sized query set (e.g. self-kNN of everything)
    would exceed the 8 GB / 512M-row broadcast cap.

    ``centroids`` is a tiny (cent_id, vec) DataFrame — broadcast to score
    assignments, so building the index is one scan of the corpus with NO
    shuffle beyond the final bucket equi-join.  Fully deterministic given
    fixed centroids (ties break on cent_id), hence oracle-checkable —
    unlike sampled-kmeans IVF.
    """
    cent = centroids.select(F.col("cent_id"), F.col("vec").alias("cv"))

    def assign(df: DataFrame, idc: str, vecc: str, n_lists: int) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cent)).select(
            "*", cosine(F.col(vecc), F.col("cv")).alias("_sim")
        )
        w = Window.partitionBy(idc).orderBy(F.desc("_sim"), F.asc("cent_id"))
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= n_lists)
            .drop("cv", "_sim", "_r")
        )

    lists = assign(
        ensure_min_parallelism(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        "neighbor_id",
        "c_vec",
        1,
    )
    probes = assign(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        "q_id",
        "q_vec",
        nprobe,
    )
    # round 13 (guide §3.1): probes is |Q| * nprobe rows — bounded tiny —
    # while lists is corpus-sized; without the hint the planner picked a
    # SortMergeJoin that shuffled the corpus lists by cent_id (a handful
    # of distinct keys: maximal skew at scale).  Broadcasting the probe
    # side keeps the corpus un-shuffled; results unchanged.
    cand = (
        lists.join(F.broadcast(probes), "cent_id")
        .select("q_id", "q_vec", "neighbor_id", "c_vec")
        .filter(F.col("neighbor_id") != F.col("q_id"))
    )
    scored = cand.select(
        "q_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "cos")
    )


def sign_bit_words(col_name: str, dim: int = 64, word_bits: int = 32) -> list[Column]:
    """1-bit (binary) quantization: pack the sign pattern of a float
    embedding into ``dim / word_bits`` non-negative BIGINT words — bit i of
    word w is set iff ``vec[w*word_bits + i] > 0``.  32-bit words keep every
    value inside the positive BIGINT range, so the identical integer
    arithmetic exists on the DuckDB side (no engine-specific overflow
    semantics in play).  64 dims collapse to 8 bytes — a 32x compression of
    a float32 vector — and similarity becomes XOR+popcount, entirely inside
    whole-stage codegen.  Pure row-local Column expressions: quantization
    runs at scan speed on any corpus size."""
    return [
        F.expr(
            f"aggregate(sequence(0, {word_bits - 1}), 0L, (acc, i) -> "
            f"acc + IF({col_name}[i + {off}] > 0D, shiftleft(1L, i), 0L))"
        )
        for off in range(0, dim, word_bits)
    ]


def hamming_words(a_cols: list[str], b_cols: list[str]) -> Column:
    """Hamming distance between two packed sign patterns: XOR + popcount
    per word, summed — integer-exact, codegen-friendly, no Python."""
    out = F.lit(0).cast("long")
    for a, b in zip(a_cols, b_cols):
        out = out + F.expr(f"bit_count({a} ^ {b})")
    return out


def hashed_bow_embedding(
    df: DataFrame, id_col: str, text_col: str, dim: int = 32
) -> DataFrame:
    """Feature-hashing ("hashing trick", Weinberger et al. 2009) text
    vectorizer — a deterministic, vocabulary-free stand-in for a learned
    encoder that turns raw text into the ``(vec_id, embedding)`` shape
    every similarity operator here consumes: token ``t`` adds sign(t) = ±1
    (an md5 nibble) to bucket ``md5(t) % dim``, and the document vector is
    its signed bucket profile as doubles.

    Entirely row-local JVM Column expressions — no shuffle, no Python, no
    vocabulary state to ship, so it runs at scan speed on any corpus size;
    md5-derived buckets/signs make the vectors bit-identical in the DuckDB
    oracle.  The md5 array is materialized as its own projection first
    (Catalyst inlines lambda bodies without CSE — the
    ``dedup.shingle_arrays`` lesson), keeping the bucket fold O(dim * tokens) integer ops per doc.

    Documents whose buckets fully cancel (zero vector — no direction, so
    cosine is undefined) are dropped, mirroring the SQL side's norm > 0
    filter.  Swap in a real encoder by replacing this one function; the
    downstream top-k / LSH / IVF operators are shape-compatible.
    """
    from unstructured_data_pipeline_spark.functions.text import tokens_ws

    toks = df.select(F.col(id_col).alias("vec_id"), tokens_ws(text_col).alias("w"))
    hashed = toks.select(
        "vec_id", F.transform("w", lambda t: F.md5(t)).alias("hs")
    )
    bs = hashed.select(
        "vec_id",
        F.transform(
            "hs",
            lambda h: F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % dim,
        ).alias("bk"),
        F.transform(
            "hs",
            lambda h: (F.conv(F.substring(h, 5, 1), 16, 10).cast("long") % 2) * 2 - 1,
        ).alias("sg"),
    )
    # single-pass fold: one traversal of the token list updating a dim-slot
    # accumulator array (vs dim separate folds, which re-evaluate the token
    # zip per bucket — measured 7x slower at sf0.1: 17.1s vs 2.3s)
    emb = bs.select(
        "vec_id",
        F.aggregate(
            F.zip_with("bk", "sg", lambda b, s: F.struct(b.alias("b"), s.alias("s"))),
            F.array_repeat(F.lit(0).cast("long"), dim),
            lambda acc, p: F.transform(
                acc,
                lambda x, j: x
                + F.when(j.cast("long") == p["b"], p["s"]).otherwise(F.lit(0)),
            ),
            lambda acc: F.transform(acc, lambda v: v.cast("double")),
        ).alias("embedding"),
    )
    sq = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda acc, v: acc + v * v
    )
    return emb.filter(sq > 0)

"""round 6b: IR structures, planner statistics, graph + analytics

(split from the flat queries.py, round 10 - content unchanged)"""

from __future__ import annotations

from unstructured_data_pipeline_spark.operators import graph

from ._common import F, SIM, TX, Window, _c, _cents, _events, _heavy, _t
from .similarity_events import _DOT

# ---------------------------------------------------------------------------
# round-6 second block: IR structures, planner statistics, graph + analytics


def inverted_index_report(spark, sf_dir):
    """Inverted-index build — the core IR structure behind every retrieval
    entry (BM25/RRF/hybrid): term -> (document frequency, total term
    frequency, head of the posting list).  One explode + two aggregations:
    (term, doc) term frequencies, then per-term rollup; the posting head
    is rank-limited BEFORE collection (row_number over doc_id, keep <= 5),
    so no unbounded collect_list ever materializes a hot term's full
    posting list — at 100 TB a stop-word's postings are billions of rows
    and the cap is what makes the build safe.  Output: top-30 terms by
    df (ties: tf, term) with their 5-doc posting heads."""
    d = _heavy(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(TX.tokens_ws(F.lower(F.col("text")))).alias("term")
    )
    td = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("term").orderBy("doc_id")
    r = td.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").cast("long").alias("tf_total"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.when(F.col("rn") <= 5, F.col("doc_id")))
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("posting_head"),
        )
        .orderBy(F.desc("df"), F.desc("tf_total"), "term")
        .limit(30)
    )


INVERTED_INDEX_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
td AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY term, doc_id),
r AS (SELECT term, doc_id, tf,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      FROM td)
SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total,
       string_agg(CASE WHEN rn <= 5 THEN CAST(doc_id AS VARCHAR) END,
                  ',' ORDER BY doc_id) AS posting_head
FROM r GROUP BY term ORDER BY df DESC, tf_total DESC, term LIMIT 30
"""


def bigram_collocations_topk(spark, sf_dir):
    """Collocation extraction — adjacent-word bigram counts with a
    PMI-style lift score against unigram frequencies (no log, so the
    score is one exact-integer ratio rounded at 6 and hashes identically
    cross-engine).  Bigram expansion is ROW-LOCAL (zip of the token array
    with its own tail — no positional self-join, no shuffle to build
    pairs); unigram counts join back on the word.  At 100 TB the expansion
    is linear in tokens and the only shuffles are the two groupBys and the
    vocabulary joins."""
    d = _heavy(spark, sf_dir, "documents")
    d2 = d.select(F.split(F.lower(F.col("text")), " ").alias("ws"))
    pairs = d2.select(
        F.explode(
            F.expr(
                "arrays_zip(slice(ws, 1, greatest(size(ws) - 1, 0)),"
                " slice(ws, 2, greatest(size(ws) - 1, 0)))"
            )
        ).alias("bg")
    ).select(F.col("bg")["0"].alias("w1"), F.col("bg")["1"].alias("w2"))
    bg = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_n"))
    toks = d.select(
        F.explode(TX.tokens_ws(F.lower(F.col("text")))).alias("tok")
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = toks.count()
    scored = (
        bg.join(uni.select(F.col("tok").alias("w1"), F.col("n").alias("a_n")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("n").alias("b_n")), "w2")
        .select(
            "w1",
            "w2",
            "pair_n",
            "a_n",
            "b_n",
            F.round(
                F.col("pair_n").cast("double")
                * F.lit(total)
                / (F.col("a_n") * F.col("b_n")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("pair_n"), "w1", "w2").limit(25)


BIGRAM_COLLOCATIONS_SQL = """
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
bg AS (
  SELECT ws[i] AS w1, ws[i+1] AS w2, COUNT(*) AS pair_n
  FROM w, unnest(range(1, len(ws))) AS t(i) GROUP BY w1, w2
),
toks AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
uni AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT COUNT(*) AS total FROM toks)
SELECT bg.w1, bg.w2, bg.pair_n, a.n AS a_n, b.n AS b_n,
       round(CAST(bg.pair_n AS DOUBLE) * tot.total / (a.n * b.n), 6) AS lift
FROM bg JOIN uni a ON bg.w1 = a.tok JOIN uni b ON bg.w2 = b.tok, tot
ORDER BY bg.pair_n DESC, bg.w1, bg.w2 LIMIT 25
"""


def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over each user's event stream:
    lag() per user (one window shuffle on user_id), then a global
    (prev, next) rollup with row-normalized probabilities — the sequence-
    mining primitive behind session analysis and next-action models.
    Probabilities are one division of exact integers rounded at 6; the
    per-prev totals come from a window over the 5x5 transition rollup
    (bounded by |event_type|^2, not by rows)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("prev_type")
    return (
        tr.withColumn(
            "p", F.round(F.col("n") / F.sum("n").over(tot), 6)
        )
        .orderBy("prev_type", "next_type")
    )


EVENT_TRANSITION_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events
),
tr AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM e
)
SELECT prev_type, next_type, COUNT(*) AS n,
       round(CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 6) AS p
FROM tr WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type ORDER BY prev_type, next_type
"""


def events_gap_filled_hourly(spark, sf_dir):
    """Time-series densification — the gap-filling every monitoring and
    forecasting consumer needs: an hour spine generated from the data's
    own [min, max] hour range (sequence + explode of a single aggregated
    row — no driver-side loop), left-joined onto the hourly rollup with
    zero-fill.  The spine is tiny (hours, not rows) and broadcasts; the
    rollup is one groupBy.  Output: every hour in range with its event
    count and a gap flag."""
    ev = _events(spark, sf_dir)
    hr_us = 3_600_000_000
    h = ev.select(F.expr(f"ts div {hr_us}").alias("hour"))
    counts = h.groupBy("hour").agg(F.count(F.lit(1)).alias("n_events"))
    spine = (
        h.agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("hour"))
    )
    return (
        spine.join(counts, "hour", "left")
        .select(
            "hour",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.when(F.col("n_events").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("is_gap"),
        )
        .orderBy("hour")
    )


GAP_FILLED_HOURLY_SQL = """
WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hour FROM events),
c AS (SELECT hour, COUNT(*) AS n_events FROM h GROUP BY hour),
b AS (SELECT MIN(hour) AS lo, MAX(hour) AS hi FROM h),
spine AS (SELECT s.hour FROM b, unnest(generate_series(b.lo, b.hi)) AS s(hour))
SELECT spine.hour, CAST(COALESCE(c.n_events, 0) AS BIGINT) AS n_events,
       CAST(CASE WHEN c.n_events IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
FROM spine LEFT JOIN c ON spine.hour = c.hour ORDER BY spine.hour
"""


def triangle_count_copurchase(spark, sf_dir):
    """Degree-ordered triangle counting on the part co-purchase graph —
    the graph-analytics primitive behind clustering coefficients and
    community detection.  Edges are the distinct-basket part pairs of
    `operators/graph.py` (order-local, fan-out bounded by basket size)
    kept at support >= 2.  The wedge join (`graph.count_triangles`) uses
    the COMPACT-FORWARD orientation, so each triangle is enumerated
    exactly once at its lowest-(degree, id) vertex and a power-law hub
    cannot explode the join.  The DuckDB oracle counts the same
    triangles by canonical id order (i<j<k) — two independent
    enumeration strategies, one answer.  Output: one row of graph stats
    with the global clustering coefficient.

    The support-filtered edge set is PERSISTED: it feeds four consumers
    (degree table, oriented join, closing-edge probe, edge count) and is
    ~1e4x smaller than the basket self-join that builds it — without the
    cache the 60 M-row build re-ran per consumer and dominated the sf10
    wall (measured round 8: 86.4 s -> 27.3 s with the cache, identical
    output).  The same reuse a cluster gets from checkpointing the edge
    list of a graph pipeline stage."""
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        graph.basket_pairs(graph.baskets(li))
        .filter(F.col("pair_n") >= 2)
        .select("u", "v")
        .persist()
    )
    try:
        deg = graph.degrees(edges)
        tri = graph.count_triangles(edges, deg)
        stats = deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias("n_wedges"),
        ).collect()[0]
        n_edges = edges.count()
        n_wedges = int(stats["n_wedges"] or 0)  # SUM over an empty graph is NULL
        # integer micro-units, floor division: Python round() is half-to-even
        # while DuckDB/F.round are half-away — an exact .5 tie at the 6th
        # decimal would diverge the hash gate (ADVICE r6).  3*tri*1e6 fits
        # int64 up to ~3e12 triangles; max(.., 1) guards the empty graph.
        cc_micro = (3 * tri * 1_000_000) // max(n_wedges, 1)
    finally:
        edges.unpersist()
    return spark.createDataFrame(
        [
            (
                int(stats["n_nodes"]),
                int(n_edges),
                n_wedges,
                int(tri),
                int(cc_micro),
            )
        ],
        "n_nodes bigint, n_edges bigint, n_wedges bigint, n_triangles bigint,"
        " global_cc_micro bigint",
    )


TRIANGLE_COUNT_SQL = """
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM baskets a JOIN baskets b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY u, v HAVING COUNT(*) >= 2
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
),
tri AS (
  SELECT COUNT(*) AS n FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
       tri.n AS n_triangles,
       CAST(3 * tri.n * 1000000
            // GREATEST((SELECT SUM(deg * (deg - 1) // 2) FROM deg), 1)
            AS BIGINT) AS global_cc_micro
FROM tri
"""


def triangle_count_sampled(spark, sf_dir):
    """DOULION edge-sampled triangle counting (Tsourakakis et al., KDD'09)
    — the corpus-scale tier for `triangle_count_copurchase`, whose exact
    wedge join is the one operator whose growth ACCELERATES per decade
    (2.8x -> 4.9x, SCALE.md).  Each edge of the same
    support>=2 co-purchase graph survives with p = 1/2, decided by its own
    md5 (deterministic, engine-independent — the same sampler contract as
    `deterministic_sample_orders`), so the wedge join runs on ~p^2 of the
    wedges and each triangle survives with p^3; the unbiased estimate is
    sampled_count / p^3 = 8x, exact integer arithmetic in both engines.
    The Spark side runs the exact tier's own compact-forward enumeration
    (`graph.count_triangles`), the DuckDB oracle canonical id order — two
    strategies, one answer on the same sampled edge set.

    Like the exact tier, the support-filtered edge set is PERSISTED so
    the 60 M-row basket self-join that builds it runs ONCE; the sampling
    then only pays the (tiny) filtered wedge join on top.  Measured
    honestly (sf10): cached-exact 27.3 s vs cached-sampled
    28.1 s — on THIS fixture graph (100 triangles, 140 k wedges) the
    edge build dominates and sampling buys nothing; its value is the
    wedge-dominated regime (triangle-dense graphs, the published DOULION
    target), where the p^2 wedge reduction is the term that matters.
    The estimator validated: est 96 vs 100 true at sf10."""
    li = _t(spark, sf_dir, "lineitem")
    all_edges = (
        graph.basket_pairs(graph.baskets(li))
        .filter(F.col("pair_n") >= 2)
        .select("u", "v")
        .persist()
    )
    try:
        n_edges_total = all_edges.count()
        # per-edge coin flip: first md5 hex digit of "u-v" < '8'  ->  p = 8/16
        edges = all_edges.filter(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-", F.col("u").cast("string"), F.col("v").cast("string")
                    )
                ),
                1,
                1,
            )
            < "8"
        )
        tri = graph.count_triangles(edges, graph.degrees(edges))
        n_sampled = edges.count()
    finally:
        all_edges.unpersist()
    return spark.createDataFrame(
        [(int(n_edges_total), int(n_sampled), int(tri), int(8 * tri))],
        "n_edges_total bigint, n_edges_sampled bigint,"
        " n_triangles_sampled bigint, est_triangles bigint",
    )


TRIANGLE_SAMPLED_SQL = """
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
all_edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM baskets a JOIN baskets b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY u, v HAVING COUNT(*) >= 2
),
edges AS (
  SELECT u, v FROM all_edges
  WHERE substr(md5(CAST(u AS VARCHAR) || '-' || CAST(v AS VARCHAR)), 1, 1) < '8'
),
tri AS (
  SELECT COUNT(*) AS n FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT COUNT(*) FROM all_edges) AS n_edges_total,
       (SELECT COUNT(*) FROM edges) AS n_edges_sampled,
       tri.n AS n_triangles_sampled,
       CAST(8 * tri.n AS BIGINT) AS est_triangles
FROM tri
"""


def skyline_parts_2d(spark, sf_dir):
    """2-D skyline (Pareto frontier) — parts minimizing (size, price)
    such that no other part is <= on both and < on one.  The naive
    formulation is an all-pairs dominance test; the 2-D structure
    collapses it to: per-size minimum price (one groupBy), then a
    strictly-preceding running minimum over the size order (a window
    over the DISTINCT size set — ~50 rows however big the table), keep
    sizes whose minimum beats every smaller size, and join the surviving
    (size, price) frontier back (broadcast — it is at most |sizes| rows)
    to emit the part rows.  The DuckDB oracle runs the quadratic NOT
    EXISTS dominance test — two entirely different algorithms must
    agree.  Ties on the frontier point survive on both sides (dominance
    requires strict inequality somewhere)."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_size", _cents(F.col("p_retailprice")).alias("cents")
    )
    per_size = p.groupBy("p_size").agg(F.min("cents").alias("min_cents"))
    w = (
        Window.orderBy("p_size")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        per_size.withColumn("runmin", F.min("min_cents").over(w))
        .filter(
            F.col("runmin").isNull() | (F.col("min_cents") < F.col("runmin"))
        )
        .select(
            F.col("p_size").alias("s_size"), F.col("min_cents").alias("s_cents")
        )
    )
    return (
        p.join(
            F.broadcast(frontier),
            (F.col("p_size") == F.col("s_size"))
            & (F.col("cents") == F.col("s_cents")),
        )
        .select("p_partkey", "p_size", "cents")
        .orderBy("p_size", "p_partkey")
    )


SKYLINE_SQL = f"""
WITH p AS (
  SELECT p_partkey, p_size, {_c('p_retailprice')} AS cents FROM part
)
SELECT p_partkey, p_size, cents FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM p q
  WHERE q.p_size <= p.p_size AND q.cents <= p.cents
    AND (q.p_size < p.p_size OR q.cents < p.cents)
)
ORDER BY p_size, p_partkey
"""


def equidepth_histogram_orders(spark, sf_dir):
    """Equi-depth histogram on order totals — the planner statistic that
    (with `join_cardinality_estimate`'s sampling and
    `heavy_hitters_contract`'s MCVs) completes a cost-based optimizer's
    column profile: 10 buckets of ~equal row count, each reporting its
    row count, distinct-value count, and [min, max] bounds.  Bucket
    assignment is by cumulative count over the DISTINCT value set (one
    groupBy to distinct-value counts, then a window over values — value
    cardinality, not row count), so equal values always land in one
    bucket and no global per-row sort ever happens: at 100 TB the
    windowed relation is |distinct values|, orders of magnitude smaller
    than the table.  All arithmetic is integer (cents, integer div)."""
    o = _t(spark, sf_dir, "orders").select(
        _cents(F.col("o_totalprice")).alias("cents")
    )
    vals = o.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    n_total = o.count()
    bucketed = vals.select(
        "cents",
        "cnt",
        F.expr(
            f"least(9, (coalesce(sum(cnt) over (order by cents"
            f" rows between unbounded preceding and 1 preceding), 0) * 10)"
            f" div {max(n_total, 1)})"
        ).alias("bucket"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("bucket")
    )


EQUIDEPTH_HISTOGRAM_SQL = f"""
WITH o AS (SELECT {_c('o_totalprice')} AS cents FROM orders),
vals AS (SELECT cents, COUNT(*) AS cnt FROM o GROUP BY cents),
tot AS (SELECT COUNT(*) AS n FROM o),
b AS (
  SELECT cents, cnt,
         LEAST(9, (COALESCE(SUM(cnt) OVER (ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   * 10) // GREATEST(tot.n, 1)) AS bucket
  FROM vals, tot
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_distinct,
       MIN(cents) AS min_cents, MAX(cents) AS max_cents
FROM b GROUP BY bucket ORDER BY bucket
"""


def weighted_median_by_flag(spark, sf_dir):
    """Exact weighted median — each price observation counts with its
    quantity as weight; the median is the smallest value whose cumulative
    weight reaches half the total.  Same two-level shape as the
    equi-depth histogram: collapse to per-(group, value) weight sums
    first (one shuffle), then the cumulative window runs over distinct
    values within each group — never over raw rows.  Integer throughout:
    weights are whole quantities, values are cents, the halving test is
    2*cum >= total (no division at all)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        _cents(F.col("l_extendedprice")).alias("cents"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("wt"),
    )
    vals = li.groupBy("l_returnflag", "cents").agg(
        F.sum("wt").alias("w"), F.count(F.lit(1)).alias("n")
    )
    wcum = Window.partitionBy("l_returnflag").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("l_returnflag")
    c = vals.select(
        "l_returnflag",
        "cents",
        "n",
        "w",
        F.sum("w").over(wcum).alias("cum_w"),
        F.sum("w").over(wall).alias("tot_w"),
        F.sum("n").over(wall).alias("tot_n"),
    )
    return (
        c.filter(2 * F.col("cum_w") >= F.col("tot_w"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").alias("wmedian_cents"),
            F.max("tot_w").cast("long").alias("total_weight"),
            F.max("tot_n").cast("long").alias("n_items"),
        )
        .orderBy("l_returnflag")
    )


WEIGHTED_MEDIAN_SQL = f"""
WITH li AS (
  SELECT l_returnflag, {_c('l_extendedprice')} AS cents,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS wt
  FROM lineitem
),
vals AS (
  SELECT l_returnflag, cents, SUM(wt) AS w, COUNT(*) AS n
  FROM li GROUP BY l_returnflag, cents
),
c AS (
  SELECT l_returnflag, cents, n, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
         SUM(w) OVER (PARTITION BY l_returnflag) AS tot_w,
         SUM(n) OVER (PARTITION BY l_returnflag) AS tot_n
  FROM vals
)
SELECT l_returnflag, MIN(cents) AS wmedian_cents,
       CAST(MAX(tot_w) AS BIGINT) AS total_weight,
       CAST(MAX(tot_n) AS BIGINT) AS n_items
FROM c WHERE 2 * cum_w >= tot_w
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def referential_integrity_audit(spark, sf_dir):
    """Foreign-key orphan audit across every FK edge in the warehouse —
    the data-quality gate a 100 TB ingest runs before publishing a
    snapshot (the reference trusts Snowflake constraints it never
    declares; here the audit IS the constraint).  One row per edge:
    child row count, NULL-key count, and orphan count (child keys with
    no parent).  Each orphan probe is a left-anti join on the key —
    Spark plans the small parents (region/nation) as broadcasts and
    leaves the big ones to AQE; nothing is collected.  The union of
    seven 1-row aggregates is driver-trivial."""
    edges = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = []
    for label, child, fk, parent, pk in edges:
        c = _t(spark, sf_dir, child)
        p = _t(spark, sf_dir, parent).select(F.col(pk).alias("__pk")).distinct()
        base = c.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col(fk).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_fk"),
        ).select(F.lit(label).alias("fk_edge"), "n_child", "n_null_fk")
        orphans = (
            c.filter(F.col(fk).isNotNull())
            .select(F.col(fk).alias("__pk"))
            .join(p, "__pk", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk_edge"), "n_orphans")
        )
        parts.append(base.join(orphans, "fk_edge"))
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out.orderBy("fk_edge")


def _ri_edge_sql(label: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
SELECT '{label}' AS fk_edge,
       (SELECT COUNT(*) FROM {child}) AS n_child,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} WHERE {fk} IS NULL) AS n_null_fk,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
        WHERE c.{fk} IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})) AS n_orphans
"""


REFERENTIAL_INTEGRITY_SQL = (
    " UNION ALL ".join(
        _ri_edge_sql(*e)
        for e in [
            ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
            ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
            ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
            ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
            ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
            ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        ]
    )
    + " ORDER BY fk_edge"
)


# Benford expected first-digit shares in permille: round(log10(1+1/d)*1000).
_BENFORD_PERMILLE = [301, 176, 125, 97, 79, 67, 58, 51, 46]


def benford_first_digit_audit(spark, sf_dir):
    """Benford's-law first-digit audit on order totals — the classic
    fraud/corruption screen for financial columns.  The leading digit is
    taken from the integer-cents string (no log10 — floats never touch
    the hash path); observed shares are integer permille against the
    hard-coded Benford constants, and the deviation column is their
    signed difference.  One scan, one 9-group aggregate; the total used
    for the permille is a separate COUNT action (a scalar, not data)."""
    o = _t(spark, sf_dir, "orders").select(
        _cents(F.col("o_totalprice")).alias("cents")
    ).filter(F.col("cents") > 0)
    n_total = o.count()
    exp = F.array(*[F.lit(v) for v in _BENFORD_PERMILLE])
    return (
        o.select(F.substring(F.col("cents").cast("string"), 1, 1).cast("long").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .select(
            "digit",
            "n_obs",
            F.expr(f"(n_obs * 1000) div {max(n_total, 1)}").alias("obs_permille"),
            F.element_at(exp, F.col("digit").cast("int")).cast("long").alias("exp_permille"),
        )
        .withColumn(
            "delta_permille", (F.col("obs_permille") - F.col("exp_permille")).cast("long")
        )
        .orderBy("digit")
    )


BENFORD_SQL = f"""
WITH o AS (
  SELECT {_c('o_totalprice')} AS cents FROM orders
  WHERE {_c('o_totalprice')} > 0
),
tot AS (SELECT COUNT(*) AS n FROM o),
d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         COUNT(*) AS n_obs
  FROM o GROUP BY digit
)
SELECT digit, n_obs,
       (n_obs * 1000) // GREATEST(tot.n, 1) AS obs_permille,
       CAST(CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125
                       WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67
                       WHEN 7 THEN 58 WHEN 8 THEN 51 ELSE 46 END AS BIGINT)
         AS exp_permille,
       (n_obs * 1000) // GREATEST(tot.n, 1)
         - CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125
                      WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67
                      WHEN 7 THEN 58 WHEN 8 THEN 51 ELSE 46 END AS delta_permille
FROM d, tot ORDER BY digit
"""


def drift_share_report(spark, sf_dir):
    """Distribution-drift monitor: compare the event-type mix of the
    stream's first half against its second half (epoch midpoint of the
    data's own [min, max] ts range) — the shape of a training-data
    freshness gate ("did the source mix shift between crawls?").
    Integer-exact drift: per-type shares in permille of each half, the
    signed delta, and the squared deviation that sums into a chi-square-
    like drift score.  One scan builds both halves (a conditional
    aggregate per type), the bounds row broadcasts, and the per-half
    totals come from a window over the ~|event types| grouped rows."""
    ev = _events(spark, sf_dir).select("event_type", "ts")
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(F.expr("(lo + hi) div 2").alias("mid"))
    halves = (
        ev.join(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ts") <= F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("n_early"),
            F.sum(F.when(F.col("ts") > F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("n_late"),
        )
    )
    w = Window.partitionBy()  # over |event types| grouped rows — bounded
    return (
        halves.withColumn("tot_early", F.sum("n_early").over(w))
        .withColumn("tot_late", F.sum("n_late").over(w))
        .select(
            "event_type",
            "n_early",
            "n_late",
            F.expr("(n_early * 1000) div greatest(tot_early, 1)").alias("early_permille"),
            F.expr("(n_late * 1000) div greatest(tot_late, 1)").alias("late_permille"),
        )
        .withColumn(
            "delta_permille",
            (F.col("late_permille") - F.col("early_permille")).cast("long"),
        )
        .withColumn(
            "drift_sq", (F.col("delta_permille") * F.col("delta_permille")).cast("long")
        )
        .orderBy("event_type")
    )


DRIFT_SHARE_SQL = """
WITH ev AS (SELECT event_type, epoch_us(ts) AS ts FROM events),
b AS (SELECT (MIN(ts) + MAX(ts)) // 2 AS mid FROM ev),
h AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN ts <= b.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
         CAST(SUM(CASE WHEN ts > b.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_late
  FROM ev, b GROUP BY event_type
),
t AS (
  SELECT *, SUM(n_early) OVER () AS tot_early, SUM(n_late) OVER () AS tot_late
  FROM h
)
SELECT event_type, n_early, n_late,
       CAST((n_early * 1000) // GREATEST(tot_early, 1) AS BIGINT) AS early_permille,
       CAST((n_late * 1000) // GREATEST(tot_late, 1) AS BIGINT) AS late_permille,
       CAST((n_late * 1000) // GREATEST(tot_late, 1)
            - (n_early * 1000) // GREATEST(tot_early, 1) AS BIGINT) AS delta_permille,
       CAST(((n_late * 1000) // GREATEST(tot_late, 1) - (n_early * 1000) // GREATEST(tot_early, 1))
            * ((n_late * 1000) // GREATEST(tot_late, 1) - (n_early * 1000) // GREATEST(tot_early, 1))
            AS BIGINT) AS drift_sq
FROM t ORDER BY event_type
"""


def cusum_changepoint_hourly(spark, sf_dir):
    """CUSUM change-point detection on the hourly event-count series —
    "when did the level shift?" for rate monitoring.  The classic
    statistic argmax_k |S_k - (k/n)·S_n| is kept integer by scaling
    through n: D_k = |n·S_k - k·S_n|.  The series is the hourly rollup
    (one groupBy — the windowed relation is |hours|, not |events|, so
    the unpartitioned cumulative window is bounded however big the
    stream); the answer is the top-1 row by (D desc, hour asc)."""
    ev = _events(spark, sf_dir)
    hr_us = 3_600_000_000
    hourly = (
        ev.select(F.expr(f"ts div {hr_us}").alias("hour"))
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_ord = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    scored = hourly.select(
        "hour",
        "n",
        F.row_number().over(Window.orderBy("hour")).cast("long").alias("k"),
        F.sum("n").over(w_ord).alias("s_k"),
        F.sum("n").over(w_all).alias("s_n"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_hours"),
    ).withColumn("d_scaled", F.abs(F.col("n_hours") * F.col("s_k") - F.col("k") * F.col("s_n")))
    pick = Window.orderBy(F.col("d_scaled").desc(), F.col("hour").asc())
    return (
        scored.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            "hour",
            F.col("n").cast("long").alias("n_events_at_hour"),
            "k",
            F.col("s_k").cast("long").alias("cum_events"),
            F.col("s_n").cast("long").alias("total_events"),
            "n_hours",
            F.col("d_scaled").cast("long").alias("d_scaled"),
        )
    )


CUSUM_SQL = """
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS hour, COUNT(*) AS n
  FROM events GROUP BY hour
),
s AS (
  SELECT hour, n,
         CAST(ROW_NUMBER() OVER (ORDER BY hour) AS BIGINT) AS k,
         SUM(n) OVER (ORDER BY hour
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_k,
         SUM(n) OVER () AS s_n,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_hours
  FROM hourly
)
SELECT hour, CAST(n AS BIGINT) AS n_events_at_hour, k,
       CAST(s_k AS BIGINT) AS cum_events, CAST(s_n AS BIGINT) AS total_events,
       n_hours, CAST(ABS(n_hours * s_k - k * s_n) AS BIGINT) AS d_scaled
FROM s ORDER BY ABS(n_hours * s_k - k * s_n) DESC, hour ASC LIMIT 1
"""


def frequent_event_sequences(spark, sf_dir):
    """Sequential-pattern mining (the PrefixSpan question at length 3):
    which consecutive event-type trigrams occur in the most users'
    streams?  Support is DISTINCT users containing the trigram — the
    sequence-mining semantic, deliberately different from
    `event_transition_matrix`'s occurrence counts.  Trigrams come from
    two leads over the per-user ts-ordered window (partitioned by user —
    scale-safe); one grouped aggregate computes support + occurrences;
    top-20 by (support, occurrences, lexicographic) is a deterministic
    rank cut planned as WindowGroupLimit."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    scored = tri.groupBy("t1", "t2", "t3").agg(
        F.countDistinct("user_id").alias("support"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    pick = Window.orderBy(
        F.col("support").desc(),
        F.col("n_occurrences").desc(),
        F.col("t1"),
        F.col("t2"),
        F.col("t3"),
    )
    return (
        scored.withColumn("rk", F.row_number().over(pick).cast("long"))
        .filter(F.col("rk") <= 20)
        .select("rk", "t1", "t2", "t3", "support", "n_occurrences")
        .orderBy("rk")
    )


FREQUENT_SEQUENCES_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts, event_id FROM events
),
tri AS (
  SELECT user_id, event_type AS t1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
  FROM ev
),
scored AS (
  SELECT t1, t2, t3, COUNT(DISTINCT user_id) AS support,
         COUNT(*) AS n_occurrences
  FROM tri WHERE t3 IS NOT NULL GROUP BY t1, t2, t3
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY support DESC, n_occurrences DESC,
                               t1, t2, t3) AS BIGINT) AS rk,
       t1, t2, t3, support, n_occurrences
FROM scored
QUALIFY rk <= 20 ORDER BY rk
"""


def kcore_decomposition(spark, sf_dir):
    """Bounded k-core peeling (k=3, three rounds) on the part co-purchase
    graph — the community-density primitive behind spam-cluster and
    citation-core detection.  Each round drops nodes of degree < k and
    every edge touching them; the loop is a FIXED number of DataFrame
    rounds (same bounded-iteration shape as `recursive_bom_closure_report`
    and `pagerank_part_copurchase` — no driver-side data, only per-round
    COUNT scalars).  The edge build (`operators/graph.py`) is persisted once and reused across
    rounds.  The DuckDB oracle peels the same three rounds as nested
    CTEs — two engines, one fixed-point prefix."""
    k = 3
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        graph.basket_pairs(graph.baskets(li))
        .filter(F.col("pair_n") >= 2)
        .select("u", "v")
        .persist()
    )
    rows = []
    cur = edges
    try:
        for rnd in range(1, 4):
            deg = graph.degrees(cur)
            kept = deg.filter(F.col("deg") >= k).select("node").persist()
            n_kept = kept.count()
            # round 14 (guide §3.3 / §5, the dedup_clusters pattern): each
            # round's surviving edges are CHECKPOINTED, not persisted — a
            # lazily-persisted frame keeps its full lineage, so round r's
            # analyzed plan grew ~5x per round (deg reads cur twice, kept
            # reads deg, nxt reads cur + kept twice) and round 3's count
            # spent 1.3-2 s in driver analysis alone.  localCheckpoint
            # truncates the plan to an RDD scan; interleaved A/B total
            # 4.91 s -> 2.43 s, identical rounds.
            nxt = (
                cur.join(kept.withColumnRenamed("node", "u"), "u", "left_semi")
                .join(kept.withColumnRenamed("node", "v"), "v", "left_semi")
                .select("u", "v")
                .localCheckpoint(eager=True)
            )
            rows.append((rnd, n_kept, nxt.count()))
            kept.unpersist()
            if cur is not edges:
                graph.release_checkpoint(cur)
            cur = nxt
    finally:
        edges.unpersist()
        if cur is not edges:
            graph.release_checkpoint(cur)
    return spark.createDataFrame(
        [(int(r), int(n), int(e)) for r, n, e in rows],
        "round bigint, n_nodes bigint, n_edges bigint",
    )


KCORE_SQL = """
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM baskets a JOIN baskets b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY u, v HAVING COUNT(*) >= 2
),
d1 AS (SELECT node, COUNT(*) AS deg FROM (
         SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY node),
k1 AS (SELECT node FROM d1 WHERE deg >= 3),
e1 AS (SELECT u, v FROM e0
       WHERE u IN (SELECT node FROM k1) AND v IN (SELECT node FROM k1)),
d2 AS (SELECT node, COUNT(*) AS deg FROM (
         SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1) GROUP BY node),
k2 AS (SELECT node FROM d2 WHERE deg >= 3),
e2 AS (SELECT u, v FROM e1
       WHERE u IN (SELECT node FROM k2) AND v IN (SELECT node FROM k2)),
d3 AS (SELECT node, COUNT(*) AS deg FROM (
         SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2) GROUP BY node),
k3 AS (SELECT node FROM d3 WHERE deg >= 3),
e3 AS (SELECT u, v FROM e2
       WHERE u IN (SELECT node FROM k3) AND v IN (SELECT node FROM k3))
SELECT 1 AS round, (SELECT COUNT(*) FROM k1) AS n_nodes,
       (SELECT COUNT(*) FROM e1) AS n_edges
UNION ALL
SELECT 2, (SELECT COUNT(*) FROM k2), (SELECT COUNT(*) FROM e2)
UNION ALL
SELECT 3, (SELECT COUNT(*) FROM k3), (SELECT COUNT(*) FROM e3)
ORDER BY round
"""


def encoding_advisor_report(spark, sf_dir):
    """Storage-layout advisor: for each candidate column, how many RLE
    runs does the data produce in its natural (o_orderkey, linenumber)
    order vs re-sorted by the column within each synthetic row-group —
    the statistic behind "which sort key shrinks the table" advisors
    (Snowflake clustering keys, Delta OPTIMIZE ZORDER pick targets this
    way; complements `zorder_layout_report`).  Row-groups are
    l_orderkey div 4096 so runs never span groups (parquet pages don't
    either).  One melt (stack) puts all three columns through ONE
    window shape — partitioned by (column, row-group), never global.
    runs_sorted within a group is just its distinct-value count."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qty"),
    )
    m = li.select(
        F.expr("l_orderkey div 4096").alias("rg"),
        (F.col("l_orderkey") * 16 + F.col("l_linenumber")).alias("ord"),
        F.expr(
            "stack(3, 'l_returnflag', l_returnflag,"
            " 'l_linestatus', l_linestatus,"
            " 'l_quantity', cast(qty as string)) as (col_name, val)"
        ),
    )
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic fixture, so
    # val is the final sort key: equal rows become adjacent and the run
    # sequence is total-order deterministic in both engines.
    w = Window.partitionBy("col_name", "rg").orderBy("ord", "val")
    runs = m.withColumn(
        "is_start",
        F.when(
            F.lag("val").over(w).isNull() | (F.lag("val").over(w) != F.col("val")),
            1,
        )
        .otherwise(0)
        .cast("long"),
    )
    natural = runs.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("val").alias("n_distinct"),
        F.countDistinct("rg").alias("n_rowgroups"),
        F.sum("is_start").cast("long").alias("runs_natural"),
    )
    sorted_runs = (
        m.groupBy("col_name", "rg")
        .agg(F.countDistinct("val").alias("rg_distinct"))
        .groupBy("col_name")
        .agg(F.sum("rg_distinct").cast("long").alias("runs_sorted"))
    )
    return (
        natural.join(sorted_runs, "col_name")
        .withColumn(
            "savings_permille",
            F.expr("((runs_natural - runs_sorted) * 1000) div runs_natural"),
        )
        .orderBy("col_name")
    )


ENCODING_ADVISOR_SQL = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty
  FROM lineitem
),
m AS (
  SELECT l_orderkey // 4096 AS rg, l_orderkey * 16 + l_linenumber AS ord,
         'l_returnflag' AS col_name, l_returnflag AS val FROM li
  UNION ALL
  SELECT l_orderkey // 4096, l_orderkey * 16 + l_linenumber,
         'l_linestatus', l_linestatus FROM li
  UNION ALL
  SELECT l_orderkey // 4096, l_orderkey * 16 + l_linenumber,
         'l_quantity', CAST(qty AS VARCHAR) FROM li
),
runs AS (
  SELECT col_name, rg, val,
         CASE WHEN LAG(val) OVER (PARTITION BY col_name, rg ORDER BY ord, val)
                   IS DISTINCT FROM val THEN 1 ELSE 0 END AS is_start
  FROM m
),
nat AS (
  SELECT col_name, COUNT(*) AS n_rows, COUNT(DISTINCT val) AS n_distinct,
         COUNT(DISTINCT rg) AS n_rowgroups,
         CAST(SUM(is_start) AS BIGINT) AS runs_natural
  FROM runs GROUP BY col_name
),
srt AS (
  SELECT col_name, CAST(SUM(rg_distinct) AS BIGINT) AS runs_sorted FROM (
    SELECT col_name, rg, COUNT(DISTINCT val) AS rg_distinct
    FROM m GROUP BY col_name, rg
  ) GROUP BY col_name
)
SELECT nat.col_name, n_rows, n_distinct, n_rowgroups, runs_natural,
       runs_sorted,
       CAST(((runs_natural - runs_sorted) * 1000) // runs_natural AS BIGINT)
         AS savings_permille
FROM nat JOIN srt ON nat.col_name = srt.col_name
ORDER BY nat.col_name
"""


# RAKE stopword set (Rose et al. 2010): phrase boundaries.  The fixture
# corpus is clean lowercase space-separated text, so the boundary regex is
# a stopword with one space each side after doubling every space (doubling
# gives each word its own spaces, so CONSECUTIVE stopwords both match —
# the classic single-pass-regex pitfall).
_RAKE_STOPWORDS = "the|a|of|to|and|in|is|on|for"


def rake_keyphrases(spark, sf_dir):
    """RAKE keyphrase extraction (Rapid Automatic Keyword Extraction,
    Rose et al. 2010) over the documents corpus — candidate phrases are
    maximal stopword-free word runs; a word scores degree/frequency
    (degree = total length of phrases it appears in); a phrase scores
    the sum of its words' scores.  Kept integer-exact as milli-scores:
    (degree*1000) div freq.  Shape: one explode to phrase occurrences,
    one to word occurrences, a word-stats aggregate, then the DISTINCT
    phrase set joins word scores back (vocabulary-sized relation — AQE
    broadcasts it when small) and a rank window cuts top-20.  All
    string ops are JVM built-ins — no Python on the hot path."""
    docs = _heavy(spark, sf_dir, "documents").select("text")
    t = F.regexp_replace(
        F.concat(F.lit(" "), F.regexp_replace(F.col("text"), " ", "  "), F.lit(" ")),
        f" ({_RAKE_STOPWORDS}) ",
        "|",
    )
    phr = (
        docs.select(F.explode(F.split(t, "\\|")).alias("p"))
        .select(F.trim(F.regexp_replace(F.col("p"), " +", " ")).alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    wo = phr.select(
        F.explode(F.split("phrase", " ")).alias("w"),
        F.size(F.split("phrase", " ")).cast("long").alias("nw"),
    )
    ws = wo.groupBy("w").agg(
        F.expr("(sum(nw) * 1000) div count(*)").alias("w_score_milli")
    )
    pd = phr.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occurrences"))
    pw = pd.select(
        "phrase", "n_occurrences", F.explode(F.split("phrase", " ")).alias("w")
    )
    psc = (
        pw.join(ws, "w")
        .groupBy("phrase", "n_occurrences")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("w_score_milli").cast("long").alias("score_milli"),
        )
    )
    pick = Window.orderBy(
        F.col("score_milli").desc(), F.col("n_occurrences").desc(), F.col("phrase")
    )
    return (
        psc.withColumn("rk", F.row_number().over(pick).cast("long"))
        .filter(F.col("rk") <= 20)
        .select("rk", "phrase", "n_words", "n_occurrences", "score_milli")
        .orderBy("rk")
    )


RAKE_SQL = f"""
WITH norm AS (
  SELECT regexp_replace(' ' || replace(text, ' ', '  ') || ' ',
                        ' ({_RAKE_STOPWORDS}) ', '|', 'g') AS t
  FROM documents
),
phr AS (
  SELECT trim(regexp_replace(p, ' +', ' ', 'g')) AS phrase
  FROM (SELECT unnest(string_split(t, '|')) AS p FROM norm)
  WHERE trim(regexp_replace(p, ' +', ' ', 'g')) <> ''
),
wo AS (
  SELECT unnest(string_split(phrase, ' ')) AS w,
         len(string_split(phrase, ' ')) AS nw
  FROM phr
),
ws AS (
  SELECT w, CAST((SUM(nw) * 1000) // COUNT(*) AS BIGINT) AS w_score_milli
  FROM wo GROUP BY w
),
pd AS (SELECT phrase, COUNT(*) AS n_occurrences FROM phr GROUP BY phrase),
pw AS (
  SELECT phrase, n_occurrences, unnest(string_split(phrase, ' ')) AS w FROM pd
),
psc AS (
  SELECT phrase, n_occurrences, COUNT(*) AS n_words,
         CAST(SUM(w_score_milli) AS BIGINT) AS score_milli
  FROM pw JOIN ws USING (w) GROUP BY phrase, n_occurrences
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_milli DESC, n_occurrences DESC,
                               phrase) AS BIGINT) AS rk,
       phrase, n_words, n_occurrences, score_milli
FROM psc
QUALIFY rk <= 20 ORDER BY rk
"""


def bitmap_index_report(spark, sf_dir):
    """Bitmap-index algebra: pack per-predicate presence bits into int64
    words (64 rows per word inside each row-group) with shiftleft +
    BIT_OR, then answer multi-predicate counts from popcount over
    AND/OR/AND-NOT of the words — the acceleration structure behind
    low-cardinality predicate evaluation in ORC/Pinot/Druid.  The DuckDB
    oracle computes the same counts by direct predicate scan — two
    entirely different evaluation strategies, one answer.  Bit-position
    assignment inside a word is an arbitrary (window-numbered) order:
    positions don't affect counts, so nondeterministic tie order is
    harmless by construction."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_returnflag") == "R").alias("pa"),
        (F.floor(F.col("l_quantity") + F.lit(0.5)) >= 25).alias("pb"),
        (F.col("l_linestatus") == "F").alias("pc"),
    )
    w = Window.partitionBy(F.expr("l_orderkey div 4096")).orderBy(
        "l_orderkey", "l_linenumber"
    )
    pos = li.select(
        F.expr("l_orderkey div 4096").alias("rg"),
        (F.row_number().over(w) - 1).alias("p"),
        "pa",
        "pb",
        "pc",
    )
    # python F.shiftleft only takes a literal bit count -> SQL expr form
    bit = lambda c: F.expr(  # noqa: E731
        f"CASE WHEN {c} THEN shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"
        f" ELSE CAST(0 AS BIGINT) END"
    )
    words = pos.groupBy("rg", F.expr("p div 64").alias("word_idx")).agg(
        F.bit_or(bit("pa")).alias("wa"),
        F.bit_or(bit("pb")).alias("wb"),
        F.bit_or(bit("pc")).alias("wc"),
        F.count(F.lit(1)).alias("n"),
    )
    return words.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.sum(F.bit_count("wa")).cast("long").alias("n_a"),
        F.sum(F.bit_count("wb")).cast("long").alias("n_b"),
        F.sum(F.bit_count("wc")).cast("long").alias("n_c"),
        F.sum(F.bit_count(F.col("wa").bitwiseAND(F.col("wb"))))
        .cast("long")
        .alias("n_a_and_b"),
        F.sum(F.bit_count(F.col("wa").bitwiseOR(F.col("wc"))))
        .cast("long")
        .alias("n_a_or_c"),
        F.sum(F.bit_count(F.col("wa").bitwiseAND(F.bitwise_not(F.col("wb")))))
        .cast("long")
        .alias("n_a_and_not_b"),
    )


BITMAP_INDEX_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS n_a,
       CAST(COUNT(*) FILTER (WHERE FLOOR(l_quantity + 0.5) >= 25) AS BIGINT) AS n_b,
       CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS n_c,
       CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R'
                               AND FLOOR(l_quantity + 0.5) >= 25) AS BIGINT)
         AS n_a_and_b,
       CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R'
                                OR l_linestatus = 'F') AS BIGINT) AS n_a_or_c,
       CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R'
                               AND NOT FLOOR(l_quantity + 0.5) >= 25) AS BIGINT)
         AS n_a_and_not_b
FROM lineitem
"""


def fd_violation_audit(spark, sf_dir):
    """Functional-dependency discovery audit — does column A determine
    column B?  The profiling primitive behind schema normalization and
    key inference.  For each candidate FD: number of determinant values,
    how many map to MORE than one dependent value (violations), and the
    worst fan-out.  Each check is two grouped aggregates (A,B then A) —
    no joins, no windows, linear at any scale."""
    checks = [
        ("orders", "o_orderkey", "o_orderstatus"),
        ("orders", "o_custkey", "o_orderpriority"),
        ("customer", "c_custkey", "c_mktsegment"),
        ("customer", "c_nationkey", "c_mktsegment"),
        ("lineitem", "l_partkey", "l_returnflag"),
    ]
    parts = []
    for table, det, dep in checks:
        t = _t(spark, sf_dir, table)
        per_det = t.groupBy(det).agg(F.countDistinct(dep).alias("n_dep"))
        parts.append(
            per_det.agg(
                F.count(F.lit(1)).alias("n_determinants"),
                F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating"),
                F.max("n_dep").alias("max_fanout"),
            ).select(
                F.lit(f"{table}.{det}->{dep}").alias("fd"),
                "n_determinants",
                "n_violating",
                "max_fanout",
                (F.col("n_violating") == 0).cast("boolean").alias("holds"),
            )
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out.orderBy("fd")


def _fd_check_sql(table: str, det: str, dep: str) -> str:
    return f"""
SELECT '{table}.{det}->{dep}' AS fd,
       COUNT(*) AS n_determinants,
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       MAX(n_dep) AS max_fanout,
       SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS n_dep FROM {table} GROUP BY {det})
"""


FD_AUDIT_SQL = (
    " UNION ALL ".join(
        _fd_check_sql(*c)
        for c in [
            ("orders", "o_orderkey", "o_orderstatus"),
            ("orders", "o_custkey", "o_orderpriority"),
            ("customer", "c_custkey", "c_mktsegment"),
            ("customer", "c_nationkey", "c_mktsegment"),
            ("lineitem", "l_partkey", "l_returnflag"),
        ]
    )
    + " ORDER BY fd"
)


def k_anonymity_audit(spark, sf_dir):
    """k-anonymity audit over a quasi-identifier tuple — the privacy
    gate run before sharing a table (complements
    `pseudonymize_consistent_report` and `text_clean_pii`): group by the
    QI columns (nation, market segment, coarse account-balance bucket),
    then report the equivalence-class size distribution with per-size
    class counts, row totals, and whether that size violates k=5.  Two
    grouped aggregates; the output is |distinct class sizes| rows."""
    k = 5
    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
    )
    classes = c.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return (
        classes.groupBy("class_size")
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            "class_size",
            "n_classes",
            (F.col("class_size") * F.col("n_classes")).cast("long").alias("n_rows"),
            (F.col("class_size") < k).alias("violates_k5"),
        )
        .orderBy("class_size")
    )


K_ANONYMITY_SQL = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
         COUNT(*) AS class_size
  FROM customer GROUP BY c_nationkey, c_mktsegment, bal_bucket
)
SELECT class_size, COUNT(*) AS n_classes,
       CAST(class_size * COUNT(*) AS BIGINT) AS n_rows,
       class_size < 5 AS violates_k5
FROM classes GROUP BY class_size ORDER BY class_size
"""


# NDCG@10 discount table: round(1e6 / log2(i+1)) for rank i = 1..10.
# Hard-coded so no log ever touches the hash path; IDCG@10 is their sum.
_NDCG_DISCOUNT_MICRO = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]
_IDCG10_MICRO = sum(_NDCG_DISCOUNT_MICRO)  # 4543560


def ndcg_mrr_eval(spark, sf_dir):
    """Retrieval-quality evaluation harness — NDCG@10, MRR, and hit
    count of a degraded ranker against exact ground truth, the metric
    layer every retrieval stack needs next to its recall contracts.
    Ground truth: exact double-precision cosine top-10 per query.
    Candidate: top-10 by RAW INT8-QUANTIZED DOT PRODUCT (per-vector
    symmetric scales dropped — deliberately cruder than cosine, so the
    metrics measure real ranking damage and stay integer-exact
    cross-engine).  Discounts are the hard-coded round(1e6/log2(i+1))
    table; NDCG is permille DCG/IDCG, MRR is 1000 div first-hit rank.
    Scale shape: |Q|=8 queries broadcast against the corpus for both
    rankings; metrics are one grouped aggregate over <= |Q|*10 rows."""
    emb = _heavy(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scaled = emb.select(
        "vec_id",
        "v",
        (F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0)).alias(
            "scale"
        ),
    )
    s = F.col("scale")
    qz = lambda x: F.when(s == 0.0, F.lit(0).cast("long")).otherwise(  # noqa: E731
        F.floor(x / s + F.lit(0.5)).cast("long")
    )
    quant = scaled.select("vec_id", F.transform("v", qz).alias("qv"))
    qside = quant.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("qq")
    )
    cand_scored = (
        quant.join(F.broadcast(qside))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with("qv", "qq", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
    )
    wc = Window.partitionBy("q_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id")
    )
    cand = (
        cand_scored.withColumn("rnk", F.row_number().over(wc))
        .filter(F.col("rnk") <= 10)
        .select("q_id", "neighbor_id", "rnk")
    )
    full = _t(spark, sf_dir, "embeddings")
    truth = SIM.cosine_topk(full, full.filter(F.col("vec_id") < 8), k=10).select(
        "q_id", "neighbor_id", F.lit(1).alias("rel")
    )
    disc = F.array(*[F.lit(v) for v in _NDCG_DISCOUNT_MICRO])
    hits = cand.join(truth, ["q_id", "neighbor_id"], "left").select(
        "q_id",
        "rnk",
        F.coalesce("rel", F.lit(0)).alias("rel"),
        F.when(F.col("rel").isNotNull(), F.element_at(disc, F.col("rnk")))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("gain_micro"),
    )
    return (
        hits.groupBy("q_id")
        .agg(
            F.sum("rel").cast("long").alias("n_hits"),
            F.coalesce(
                F.min(F.when(F.col("rel") == 1, F.col("rnk"))), F.lit(0)
            )
            .cast("long")
            .alias("first_hit_rank"),
            F.sum("gain_micro").cast("long").alias("dcg_micro"),
        )
        .select(
            "q_id",
            "n_hits",
            "first_hit_rank",
            F.when(F.col("first_hit_rank") > 0, 1000 / F.col("first_hit_rank"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mrr_milli"),
            "dcg_micro",
            F.expr(f"(dcg_micro * 1000) div {_IDCG10_MICRO}").alias(
                "ndcg_permille"
            ),
        )
        .orderBy("q_id")
    )


NDCG_MRR_SQL = f"""
WITH scaled AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
           AS scale
  FROM embeddings
),
quant AS (
  SELECT vec_id,
         list_transform(v, x -> CASE WHEN scale = 0.0 THEN CAST(0 AS BIGINT)
                                     ELSE CAST(floor(x / scale + 0.5) AS BIGINT)
                                END) AS qv
  FROM scaled
),
cand_scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(generate_series(1, 64),
                                 i -> c.qv[i] * q.qv[i])) AS qdot
  FROM quant c, (SELECT * FROM quant WHERE vec_id < 8) q
  WHERE c.vec_id <> q.vec_id
),
cand AS (
  SELECT q_id, neighbor_id, rnk FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY qdot DESC, neighbor_id) AS rnk
    FROM cand_scored
  ) WHERE rnk <= 10
),
truth_scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {_DOT.format(a='c.embedding', b='q.embedding')}
         / (sqrt({_DOT.format(a='c.embedding', b='c.embedding')})
            * sqrt({_DOT.format(a='q.embedding', b='q.embedding')})) AS cos
  FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 8) q
  WHERE c.vec_id <> q.vec_id
),
truth AS (
  SELECT q_id, neighbor_id, 1 AS rel FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos DESC, neighbor_id) AS trnk
    FROM truth_scored
  ) WHERE trnk <= 10
),
hits AS (
  SELECT cand.q_id, cand.rnk, COALESCE(truth.rel, 0) AS rel,
         CASE WHEN truth.rel IS NOT NULL THEN
           ([1000000, 630930, 500000, 430677, 386853,
             356207, 333333, 315465, 301030, 289065])[cand.rnk]
         ELSE 0 END AS gain_micro
  FROM cand LEFT JOIN truth
    ON cand.q_id = truth.q_id AND cand.neighbor_id = truth.neighbor_id
),
agg AS (
  SELECT q_id, CAST(SUM(rel) AS BIGINT) AS n_hits,
         CAST(COALESCE(MIN(CASE WHEN rel = 1 THEN rnk END), 0) AS BIGINT)
           AS first_hit_rank,
         CAST(SUM(gain_micro) AS BIGINT) AS dcg_micro
  FROM hits GROUP BY q_id
)
SELECT q_id, n_hits, first_hit_rank,
       CAST(CASE WHEN first_hit_rank > 0 THEN 1000 // first_hit_rank
                 ELSE 0 END AS BIGINT) AS mrr_milli,
       dcg_micro,
       CAST((dcg_micro * 1000) // {_IDCG10_MICRO} AS BIGINT) AS ndcg_permille
FROM agg ORDER BY q_id
"""


def vocab_growth_report(spark, sf_dir):
    """Vocabulary-growth (Heaps'-law) curve — how fast does the corpus
    vocabulary grow as documents stream in?  The statistic a tokenizer
    budget is planned against.  Each word is attributed to its FIRST
    document (min doc_id over one exploded aggregate); first-appearance
    positions bucket into corpus deciles; the cumulative vocabulary is a
    window over <= 10 decile rows.  One explode + two grouped
    aggregates — never a per-document distinct scan."""
    docs = _heavy(spark, sf_dir, "documents").select("doc_id", "text")
    hi = docs.agg(F.max("doc_id").alias("hi")).collect()[0]["hi"]
    n = int(hi or 0) + 1
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    first = words.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    per_decile = (
        first.select(
            F.least(F.lit(9), F.expr(f"(first_doc * 10) div {n}")).alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_new_words"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_decile.withColumn(
            "cum_vocab", F.sum("n_new_words").over(w).cast("long")
        )
        .select("decile", "n_new_words", "cum_vocab")
        .orderBy("decile")
    )


VOCAB_GROWTH_SQL = """
WITH docs AS (SELECT doc_id, text FROM documents),
n AS (SELECT MAX(doc_id) + 1 AS n FROM docs),
words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs
),
first AS (
  SELECT w, MIN(doc_id) AS first_doc FROM words WHERE w <> '' GROUP BY w
),
per_decile AS (
  SELECT LEAST(9, (first_doc * 10) // n.n) AS decile, COUNT(*) AS n_new_words
  FROM first, n GROUP BY decile
)
SELECT CAST(decile AS BIGINT) AS decile, n_new_words,
       CAST(SUM(n_new_words) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_vocab
FROM per_decile ORDER BY decile
"""


def event_interarrival_histogram(spark, sf_dir):
    """Per-user event inter-arrival time distribution in power-of-two
    buckets — the latency/activity profile behind session-timeout and
    rate-limit tuning.  The log2 bucket is the LENGTH OF THE BINARY
    STRING of the microsecond gap (`bin()` exists in both engines and
    is exact where floor(log2(double)) is not).  Gaps come from one lag
    over the per-user window; the histogram is one grouped aggregate."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("gap", F.col("ts") - F.lag("ts").over(w))
        .filter(F.col("gap").isNotNull())
    )
    return (
        gaps.select(F.length(F.bin("gap")).cast("long").alias("log2_bucket"), "gap")
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap").alias("min_gap_us"),
            F.max("gap").alias("max_gap_us"),
        )
        .orderBy("log2_bucket")
    )


INTERARRIVAL_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts, event_id FROM events
),
gaps AS (
  SELECT ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM ev
)
SELECT CAST(LENGTH(bin(gap)) AS BIGINT) AS log2_bucket,
       COUNT(*) AS n_gaps, MIN(gap) AS min_gap_us, MAX(gap) AS max_gap_us
FROM gaps WHERE gap IS NOT NULL
GROUP BY log2_bucket ORDER BY log2_bucket
"""


def nation_profile_similarity(spark, sf_dir):
    """Pairwise categorical-profile similarity: which nations have the
    most alike customer market-segment mixes?  Profiles are integer
    permille share vectors (bounded <= 1000 per component, so the
    squared-cosine stays inside int64 at ANY table size — raw counts
    would overflow dot^2 at 100 TB); similarity is cos^2 in permille =
    (dot*dot*1000) div (|a|^2 * |b|^2) — no square root ever taken, so
    the metric is integer-exact cross-engine.  Shape: one groupBy to
    profiles (|nations| x |segments| rows), a self-join on segment
    bounded by the profile relation's size, top-20 by rank window."""
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    counts = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    shares = counts.select(
        "c_nationkey",
        "c_mktsegment",
        F.expr("(cnt * 1000) div (sum(cnt) over (partition by c_nationkey))")
        .cast("long")
        .alias("share"),
    )
    norms = shares.groupBy("c_nationkey").agg(
        F.sum(F.col("share") * F.col("share")).cast("long").alias("norm2")
    )
    a = shares.select(
        F.col("c_nationkey").alias("k1"),
        F.col("c_mktsegment").alias("seg"),
        F.col("share").alias("s1"),
    )
    b = shares.select(
        F.col("c_nationkey").alias("k2"),
        F.col("c_mktsegment").alias("seg"),
        F.col("share").alias("s2"),
    )
    dots = (
        a.join(b, "seg")
        .filter(F.col("k1") < F.col("k2"))
        .groupBy("k1", "k2")
        .agg(F.sum(F.col("s1") * F.col("s2")).cast("long").alias("dot"))
    )
    scored = (
        dots.join(norms.withColumnRenamed("c_nationkey", "k1"), "k1")
        .withColumnRenamed("norm2", "na2")
        .join(norms.withColumnRenamed("c_nationkey", "k2"), "k2")
        .withColumnRenamed("norm2", "nb2")
        .select(
            "k1",
            "k2",
            F.expr("(dot * dot * 1000) div (na2 * nb2)").alias("cos2_permille"),
        )
    )
    pick = Window.orderBy(
        F.col("cos2_permille").desc(), F.col("k1"), F.col("k2")
    )
    return (
        scored.withColumn("rk", F.row_number().over(pick).cast("long"))
        .filter(F.col("rk") <= 20)
        .join(F.broadcast(nat.withColumnRenamed("n_nationkey", "k1")), "k1")
        .withColumnRenamed("n_name", "nation_a")
        .join(F.broadcast(nat.withColumnRenamed("n_nationkey", "k2")), "k2")
        .withColumnRenamed("n_name", "nation_b")
        .select("rk", "nation_a", "nation_b", "cos2_permille")
        .orderBy("rk")
    )


NATION_PROFILE_SIM_SQL = """
WITH counts AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
shares AS (
  SELECT c_nationkey, c_mktsegment,
         CAST((cnt * 1000) // (SUM(cnt) OVER (PARTITION BY c_nationkey))
              AS BIGINT) AS share
  FROM counts
),
norms AS (
  SELECT c_nationkey, CAST(SUM(share * share) AS BIGINT) AS norm2
  FROM shares GROUP BY c_nationkey
),
dots AS (
  SELECT a.c_nationkey AS k1, b.c_nationkey AS k2,
         CAST(SUM(a.share * b.share) AS BIGINT) AS dot
  FROM shares a JOIN shares b ON a.c_mktsegment = b.c_mktsegment
  WHERE a.c_nationkey < b.c_nationkey
  GROUP BY k1, k2
),
scored AS (
  SELECT k1, k2,
         CAST((dot * dot * 1000) // (na.norm2 * nb.norm2) AS BIGINT)
           AS cos2_permille
  FROM dots
  JOIN norms na ON na.c_nationkey = dots.k1
  JOIN norms nb ON nb.c_nationkey = dots.k2
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY cos2_permille DESC, k1, k2)
                 AS BIGINT) AS rk
  FROM scored
)
SELECT rk, na.n_name AS nation_a, nb.n_name AS nation_b, cos2_permille
FROM ranked
JOIN nation na ON na.n_nationkey = ranked.k1
JOIN nation nb ON nb.n_nationkey = ranked.k2
WHERE rk <= 20 ORDER BY rk
"""


def fuzzy_record_linkage(spark, sf_dir):
    """Entity resolution by BLOCKED fuzzy matching — the record-linkage
    operator every ingestion pipeline needs when the same entity arrives
    spelled differently (CRM dedup, sanction-list screening, master-data
    reconciliation).  Ground truth is planted: every 10th customer emits a
    "dirty" registration whose name lost its 3rd character (edit distance
    1), and a 1% sliver is corrupted beyond repair (reversed) to exercise
    the unmatched path.  Candidate generation is BLOCKING on the name's
    last-4 suffix — the classic linkage trick that turns the quadratic
    all-pairs name comparison into per-block joins (block size is
    |customers|/10^4: ~1 at sf0.01, ~15 at sf1, bounded at any scale
    because the block key carries 4 name characters).  Within a block the
    match rule is min levenshtein <= 2, ties to the smallest key —
    levenshtein is a JVM builtin in Spark and a native function in DuckDB,
    so both engines run the same metric natively.  The per-segment rollup
    reports how many dirty records matched and whether they matched the
    RIGHT master (n_correct == n_matched proves blocking+distance is
    sufficient on this corruption model)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    dirty = (
        cust.filter(F.col("c_custkey") % 10 == 3)
        .select(
            F.col("c_custkey").alias("true_key"),
            "c_mktsegment",
            F.when(
                F.col("c_custkey") % 100 == 3, F.reverse(F.col("c_name"))
            )
            .otherwise(
                F.concat(
                    F.substring("c_name", 1, 2), F.expr("substring(c_name, 4)")
                )
            )
            .alias("d_name"),
        )
        .withColumn("blk", F.expr("right(d_name, 4)"))
    )
    clean = cust.select(
        F.col("c_custkey").alias("m_key"),
        F.col("c_name").alias("m_name"),
        F.expr("right(c_name, 4)").alias("blk"),
    )
    cand = (
        dirty.join(clean, "blk", "left")
        .withColumn("lev", F.levenshtein("d_name", "m_name"))
        .withColumn(
            "m_key", F.when(F.col("lev") <= 2, F.col("m_key"))
        )  # above-threshold candidates do not count as matches
    )
    best = (
        cand.groupBy("true_key", "c_mktsegment")
        .agg(
            F.min(
                F.when(
                    F.col("m_key").isNotNull(), F.struct("lev", "m_key")
                )
            ).alias("b")
        )
        .select(
            "true_key",
            "c_mktsegment",
            F.col("b.m_key").alias("match_key"),
        )
    )
    return (
        best.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_dirty"),
            F.sum(
                F.when(F.col("match_key").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_matched"),
            F.sum(
                F.when(F.col("match_key") == F.col("true_key"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .withColumn(
            "n_unmatched", (F.col("n_dirty") - F.col("n_matched")).cast("long")
        )
        .orderBy("c_mktsegment")
    )


FUZZY_LINKAGE_SQL = """
WITH dirty AS (
  SELECT c_custkey AS true_key, c_mktsegment,
         CASE WHEN c_custkey % 100 = 3 THEN reverse(c_name)
              ELSE substr(c_name, 1, 2) || substr(c_name, 4) END AS d_name
  FROM customer WHERE c_custkey % 10 = 3
),
clean AS (
  SELECT c_custkey AS m_key, c_name AS m_name, right(c_name, 4) AS blk
  FROM customer
),
cand AS (
  SELECT d.true_key, d.c_mktsegment,
         CASE WHEN levenshtein(d.d_name, c.m_name) <= 2 THEN c.m_key END
           AS m_key,
         levenshtein(d.d_name, c.m_name) AS lev
  FROM dirty d LEFT JOIN clean c ON right(d.d_name, 4) = c.blk
),
ranked AS (
  SELECT true_key, c_mktsegment, m_key,
         ROW_NUMBER() OVER (PARTITION BY true_key
                            ORDER BY (m_key IS NULL), lev, m_key) AS rn
  FROM cand
),
best AS (
  SELECT true_key, c_mktsegment, m_key AS match_key FROM ranked WHERE rn = 1
)
SELECT c_mktsegment,
       COUNT(*) AS n_dirty,
       CAST(SUM(CASE WHEN match_key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST(SUM(CASE WHEN match_key = true_key THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(COUNT(*) - SUM(CASE WHEN match_key IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unmatched
FROM best GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def gdpr_erasure_cascade(spark, sf_dir):
    """Right-to-be-forgotten erasure audit — the compliance operator a
    training-data platform runs when a deletion request lands: starting
    from a subject cohort (here every 97th customer), the cascade walks
    the foreign-key graph (customer -> orders -> lineitem; customer ->
    events by user id) and reports, per table, rows before, rows erased,
    rows after, and the POST-ERASURE ORPHAN COUNT.  Orphans are defined as
    surviving facts whose PARENT ROW is absent from the SURVIVING parent
    table (keep_orders anti keep_cust; keep_li anti keep_orders; keep_ev
    anti keep_cust) — two independent lineages per check, so the count is
    a real referential-integrity audit of the post-state: it is nonzero
    whenever the source data carries dangling FKs or a delete predicate
    diverges between parent and child, not zero by construction (the r7
    probe semi-joined a keep set back against the very cohort it was
    anti-joined on — tautological; ADVICE r7 / VERDICT r7 #3).  Each
    table's (before, erased, after) triple is ONE flag-join + aggregate
    pass (r8: previously one .count() job per statistic = 3 scans per
    table); orphan probes are anti-joins; the cohort is a broadcast-sized
    key set, the order-key frontier stays distributed (AQE picks its join
    side), and nothing beyond per-table scalar counts ever reaches the
    driver.  The actual rewrite
    path (COW/MOR delete + atomic publish) is `operators/dml.py`;
    `gdpr_erasure_lifecycle` executes it and audits what lands ON DISK;
    this is the planning/verification query in front of it."""
    cohort = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select(F.col("c_custkey").alias("k"))
    )
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _events(spark, sf_dir)

    def audit_counts(df, key_col: str, erased_keys, kname: str, bcast: bool):
        """(n_before, n_erased, n_after) in ONE pass: flag join against
        the (distinct-keyed) erase set, then a single aggregate — the r8
        rewrite of one .count() job per statistic, which scanned each
        table three times for a three-number row (4x the scan work a
        100 TB audit needs).  ``bcast`` only for the subject cohort (a
        bounded key set); the order-key frontier scales with the data and
        is left to AQE's join selection."""
        # distinct() makes the helper safe under reuse: a duplicate key in
        # the erase set would fan out the left join and inflate BOTH
        # n_before and n_erased (ADVICE r8).  No-op on the current callers
        # (c_custkey is a PK; the order-key frontier projects a PK).
        hit = (
            erased_keys.select(F.col(kname).alias("_ek"))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        if bcast:
            hit = F.broadcast(hit)
        row = (
            df.join(hit, df[key_col] == F.col("_ek"), "left")
            .agg(
                F.count(F.lit(1)).alias("b"),
                F.coalesce(F.sum("_hit"), F.lit(0)).alias("d"),
            )
            .collect()[0]
        )
        return int(row["b"]), int(row["d"]), int(row["b"] - row["d"])

    del_order_keys = orders.join(
        F.broadcast(cohort), orders["o_custkey"] == cohort["k"], "left_semi"
    ).select(F.col("o_orderkey").alias("k"))

    c_b, c_d, c_a = audit_counts(cust, "c_custkey", cohort, "k", bcast=True)
    o_b, o_d, o_a = audit_counts(orders, "o_custkey", cohort, "k", bcast=True)
    l_b, l_d, l_a = audit_counts(li, "l_orderkey", del_order_keys, "k", bcast=False)
    e_b, e_d, e_a = audit_counts(ev, "user_id", cohort, "k", bcast=True)

    # post-erasure orphans: surviving facts whose parent row is absent
    # from the SURVIVING parent table — independent lineages on each side
    # of the anti-join, so a nonzero count is genuinely reachable
    keep_cust_keys = cust.join(
        F.broadcast(cohort), cust["c_custkey"] == cohort["k"], "left_anti"
    ).select(F.col("c_custkey").alias("ck"))
    keep_orders = orders.join(
        F.broadcast(cohort), orders["o_custkey"] == cohort["k"], "left_anti"
    )
    orphan_orders = keep_orders.join(
        keep_cust_keys, keep_orders["o_custkey"] == F.col("ck"), "left_anti"
    ).count()
    keep_li = li.join(
        del_order_keys, li["l_orderkey"] == F.col("k"), "left_anti"
    )
    orphan_li = keep_li.join(
        keep_orders.select("o_orderkey"),
        keep_li["l_orderkey"] == keep_orders["o_orderkey"],
        "left_anti",
    ).count()
    keep_ev = ev.join(
        F.broadcast(cohort), ev["user_id"] == cohort["k"], "left_anti"
    )
    orphan_ev = keep_ev.join(
        keep_cust_keys, keep_ev["user_id"] == F.col("ck"), "left_anti"
    ).count()

    rows = [
        ("customer", c_b, c_d, c_a, 0),
        ("orders", o_b, o_d, o_a, orphan_orders),
        ("lineitem", l_b, l_d, l_a, orphan_li),
        ("events", e_b, e_d, e_a, orphan_ev),
    ]
    return spark.createDataFrame(
        [(t, int(b), int(d), int(a), int(o)) for t, b, d, a, o in rows],
        "table_name string, n_before bigint, n_erased bigint,"
        " n_after bigint, n_orphans_after bigint",
    ).orderBy("table_name")


GDPR_ERASURE_SQL = """
WITH cohort AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
keep_c AS (SELECT c_custkey FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM cohort WHERE k = c_custkey)),
del_o AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM cohort)),
keep_o AS (SELECT o_orderkey, o_custkey FROM orders
           WHERE NOT EXISTS (SELECT 1 FROM cohort WHERE k = o_custkey)),
keep_l AS (SELECT l_orderkey FROM lineitem
           WHERE NOT EXISTS (SELECT 1 FROM del_o WHERE del_o.o_orderkey = l_orderkey)),
keep_e AS (SELECT user_id FROM events
           WHERE NOT EXISTS (SELECT 1 FROM cohort WHERE k = user_id))
SELECT * FROM (
  SELECT 'customer' AS table_name,
         (SELECT COUNT(*) FROM customer) AS n_before,
         (SELECT COUNT(*) FROM cohort) AS n_erased,
         (SELECT COUNT(*) FROM keep_c) AS n_after,
         0 AS n_orphans_after
  UNION ALL
  SELECT 'orders',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM del_o),
         (SELECT COUNT(*) FROM keep_o),
         (SELECT COUNT(*) FROM keep_o WHERE NOT EXISTS
            (SELECT 1 FROM keep_c WHERE keep_c.c_custkey = keep_o.o_custkey))
  UNION ALL
  SELECT 'lineitem',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM keep_l),
         (SELECT COUNT(*) FROM keep_l),
         (SELECT COUNT(*) FROM keep_l WHERE NOT EXISTS
            (SELECT 1 FROM keep_o WHERE keep_o.o_orderkey = keep_l.l_orderkey))
  UNION ALL
  SELECT 'events',
         (SELECT COUNT(*) FROM events),
         (SELECT COUNT(*) FROM events) - (SELECT COUNT(*) FROM keep_e),
         (SELECT COUNT(*) FROM keep_e),
         (SELECT COUNT(*) FROM keep_e WHERE NOT EXISTS
            (SELECT 1 FROM keep_c WHERE keep_c.c_custkey = keep_e.user_id))
) ORDER BY table_name
"""


def skew_advisor_report(spark, sf_dir):
    """Join-key skew advisor — the pre-flight statistic behind the
    salting decision `skew_salted_join_report` executes: for each
    candidate shuffle key, one grouped count gives key cardinality, the
    hottest key's share, and a recommended salt fan-out = how many times
    the hottest key overflows an ideal partition at 32-way parallelism
    (clamped to [1, 32]; 1 means "don't salt").  All integer arithmetic;
    the per-key relation collapses map-side, and only |keys| grouped rows
    flow into the final 3-row report — the shape of a planner statistics
    collection pass, not a data scan per candidate."""
    parts = 32

    def profile(df, key: str, label: str):
        per_key = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        return per_key.agg(
            F.lit(label).alias("key_name"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("cnt").cast("long").alias("top1_cnt"),
        ).select(
            "key_name",
            "n_rows",
            "n_keys",
            "top1_cnt",
            F.expr("(top1_cnt * 1000) div greatest(n_rows, 1)").alias(
                "top1_permille"
            ),
            F.expr(
                f"least(32, greatest(1, top1_cnt div greatest(n_rows div {parts}, 1)))"
            )
            .cast("long")
            .alias("salt_factor"),
        )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    ev = _events(spark, sf_dir)
    out = (
        profile(li, "l_partkey", "lineitem.l_partkey")
        .unionByName(profile(orders, "o_custkey", "orders.o_custkey"))
        .unionByName(profile(ev, "event_type", "events.event_type"))
    )
    return out.orderBy("key_name")


SKEW_ADVISOR_SQL = """
WITH p AS (
  SELECT 'lineitem.l_partkey' AS key_name, COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
  UNION ALL
  SELECT 'orders.o_custkey', COUNT(*) FROM orders GROUP BY o_custkey
  UNION ALL
  SELECT 'events.event_type', COUNT(*) FROM events GROUP BY event_type
)
SELECT key_name,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       COUNT(*) AS n_keys,
       CAST(MAX(cnt) AS BIGINT) AS top1_cnt,
       CAST((MAX(cnt) * 1000) // GREATEST(SUM(cnt), 1) AS BIGINT)
         AS top1_permille,
       CAST(LEAST(32, GREATEST(1, MAX(cnt) // GREATEST(SUM(cnt) // 32, 1)))
            AS BIGINT) AS salt_factor
FROM p GROUP BY key_name ORDER BY key_name
"""


def cube_returnflag_status(spark, sf_dir):
    """CUBE + GROUPING_ID — the multi-dimensional rollup surface
    (`df.cube` / GROUP BY CUBE) that completes the grouping-sets family
    next to `rollup_order_stats`: every subset of {l_returnflag,
    l_linestatus} aggregated in ONE pass (Spark expands the grouping sets
    inside a single hash aggregate — no N-scans union), with the
    GROUPING() bits exposed so consumers can tell a real NULL from an
    ALL-bucket.  Cents-integer measures; output is bounded by the
    dimension cardinalities (<= (|flags|+1) x (|status|+1) rows)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_price_cents"),
            (
                F.grouping("l_returnflag").cast("long") * 2
                + F.grouping("l_linestatus").cast("long")
            ).alias("grouping_id"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "grouping_id",
            "n_rows",
            "sum_price_cents",
        )
        .orderBy("grouping_id", "returnflag", "linestatus")
    )


CUBE_SQL = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
         AS grouping_id,
       COUNT(*) AS n_rows,
       CAST(SUM({_c('l_extendedprice')}) AS BIGINT) AS sum_price_cents
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY grouping_id, returnflag, linestatus
"""


def window_rank_functions_suite(spark, sf_dir):
    """The ranking-window surface in one pass: NTILE quartiles plus
    PERCENT_RANK / CUME_DIST — the latter two in their integer-permille
    closed forms (((rank-1)*1000) div (n-1) and (cume_cnt*1000) div n)
    instead of the native double-returning functions, so the hash gate
    never rides on IEEE rounding at tie boundaries.  All four windows
    share ONE partition-by-priority sort (same key, same order — Spark
    plans a single Window operator / one Exchange), and the output
    collapses to <= |priorities| x 4 quartile rows, so the only
    per-row cost at 100 TB is the one per-key sort every ranking window
    pays by definition."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", _cents(F.col("o_totalprice")).alias("cents")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents")
    wp = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "cents",
        F.ntile(4).over(w).alias("quartile"),
        F.rank().over(w).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.count(F.lit(1))
        .over(w.rangeBetween(Window.unboundedPreceding, 0))
        .alias("cume_cnt"),
    ).select(
        "o_orderpriority",
        "cents",
        "quartile",
        F.expr("((rk - 1) * 1000) div greatest(n - 1, 1)").alias("pr_permille"),
        F.expr("(cume_cnt * 1000) div n").alias("cd_permille"),
    )
    return (
        ranked.groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.max("pr_permille").cast("long").alias("max_pr_permille"),
            F.max("cd_permille").cast("long").alias("max_cd_permille"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


WINDOW_RANK_SQL = f"""
WITH o AS (
  SELECT o_orderpriority, {_c('o_totalprice')} AS cents FROM orders
),
ranked AS (
  SELECT o_orderpriority, cents,
         NTILE(4) OVER (PARTITION BY o_orderpriority ORDER BY cents)
           AS quartile,
         RANK() OVER (PARTITION BY o_orderpriority ORDER BY cents) AS rk,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n,
         COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY cents
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cume_cnt
  FROM o
)
SELECT o_orderpriority, CAST(quartile AS INT) AS quartile,
       COUNT(*) AS n_rows,
       MIN(cents) AS min_cents, MAX(cents) AS max_cents,
       CAST(MAX(((rk - 1) * 1000) // GREATEST(n - 1, 1)) AS BIGINT)
         AS max_pr_permille,
       CAST(MAX((cume_cnt * 1000) // n) AS BIGINT) AS max_cd_permille
FROM ranked GROUP BY o_orderpriority, quartile
ORDER BY o_orderpriority, quartile
"""



"""round 5: DSIR, BM25, UniMax, count-min, C4 filter, profiling

(split from the flat queries.py, round 10 - content unchanged)"""

from __future__ import annotations

from unstructured_data_pipeline_spark.operators import graph

from ._common import F, TX, Window, _c, _cents, _events, _heavy, _t
from .dedup_text import _kmv_val_spark, _kmv_val_sql

# ---------------------------------------------------------------------------
# round-5 curation additions: DSIR selection, BM25 retrieval, UniMax
# mixing, count-min sketch, C4-style rule filter, table profiling


def dsir_importance_sample(spark, sf_dir):
    """DSIR-shaped data selection (Xie et al. 2023, arXiv:2302.03169 —
    importance resampling for LM data): score every document by the
    AVERAGE log importance ratio of its tokens under two add-one-smoothed
    bag-of-unigrams models — the TARGET model (the English sub-corpus,
    standing in for 'the domain to match') vs the SOURCE model (the whole
    raw pool) — and select the documents whose ratio is positive (more
    target-like than the pool).  The keep rule is a row-local threshold
    on the rounded score, NOT a global top-k sort (the CCNet-style
    deployment shape shared with `lm_perplexity_filter`): at 100 TB,
    scoring is two count-table shuffle joins and selection never sorts
    the corpus.  Counts stay integer-exact; the one ln per token and the
    per-doc average follow the established round(6) determinism pattern.
    Output per language: pool size, selected count, mean score — English
    dominating the selection is the built-in sanity check."""
    d = _heavy(spark, sf_dir, "documents")
    # token relation feeds four consumers (source counts, target counts,
    # two scalar totals) plus the score join — persist, caller-managed
    # like the LM filter's bigram cache
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != ""
            )
        ).alias("w"),
    ).persist()
    src = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cs"))
    tgt = (
        tok.filter(F.col("lang") == "en")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = src.agg(
        F.sum("cs").alias("ts"), F.count(F.lit(1)).alias("v")
    ).collect()[0]  # bounded: two scalars
    t_src, vocab = int(tot["ts"] or 0), int(tot["v"])  # empty-corpus safe
    t_tgt = tok.filter(F.col("lang") == "en").count()
    lr = F.log(
        (
            (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
            / F.lit(float(t_tgt + vocab))
        )
        / ((F.col("cs") + 1).cast("double") / F.lit(float(t_src + vocab)))
    )
    # per-doc score quantized to integer MICROS (the cents trick at 1e-6):
    # the per-language mean is then an exact integer sum + one
    # deterministic division — an avg of rounded doubles flaked at a
    # .5e-6 boundary under partitioning-dependent summation order
    scored = (
        tok.join(src, "w")
        .join(tgt, "w", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.floor(F.avg(lr) * 1000000.0 + F.lit(0.5))
            .cast("long")
            .alias("score_mi")
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("score_mi") > 0).cast("long")).alias("n_selected"),
            F.round(
                F.sum("score_mi").cast("double")
                / F.count(F.lit(1)).cast("double")
                / 1000000.0,
                6,
            ).alias("mean_score_r"),
        )
        .orderBy("lang")
    )


DSIR_SQL = """
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                            t -> t <> '')) AS w
  FROM documents
),
src AS (SELECT w, COUNT(*) AS cs FROM tok GROUP BY 1),
tgt AS (SELECT w, COUNT(*) AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
tot AS (SELECT (SELECT COUNT(*) FROM tok) AS t_src,
               (SELECT COUNT(*) FROM tok WHERE lang = 'en') AS t_tgt,
               (SELECT COUNT(*) FROM src) AS v),
scored AS (
  SELECT doc_id, lang,
         CAST(floor(AVG(ln((CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / CAST(t_tgt + v AS DOUBLE))
                           / (CAST(cs + 1 AS DOUBLE) / CAST(t_src + v AS DOUBLE))))
                    * 1000000.0 + 0.5) AS BIGINT) AS score_mi
  FROM tok JOIN src USING (w) LEFT JOIN tgt USING (w) CROSS JOIN tot
  GROUP BY doc_id, lang
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN score_mi > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       round(CAST(SUM(score_mi) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             / 1000000.0, 6) AS mean_score_r
FROM scored GROUP BY lang ORDER BY lang
"""


_BM25_TERMS = ("hash", "join", "scan")


def bm25_topk_contract(spark, sf_dir):
    """BM25 lexical retrieval (Robertson-Spärck Jones; k1=1.2, b=0.75) for
    a fixed 3-term query, completing the retrieval family next to TF-IDF
    and the RRF fusion entry: per-term idf from document frequency,
    per-doc tf with the document-length normalization TF-IDF lacks, total
    score as a FIXED left-associated sum over the query's term columns
    (conditional aggregation, so cross-engine float order is pinned), and
    the global top-10 as TakeOrderedAndProject — per-partition heaps, no
    global sort.  Corpus stats (N, total doc length) are two bounded
    scalars; everything else is one tokenize + one groupBy per side.
    Scores round(6) before ranking so rank ties break on doc_id
    identically in both engines."""
    d = _heavy(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != ""
        ).alias("toks"),
    ).filter(F.size("toks") > 0)
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]  # bounded: two scalars
    n_docs = int(stats["n"])
    avgdl = (float(stats["s"]) / n_docs) if n_docs else 1.0  # empty-safe
    hits = (
        toks.select("doc_id", F.explode("toks").alias("w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = hits.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    num = F.col("tf").cast("double") * 2.2
    den = F.col("tf").cast("double") + 1.2 * (
        0.25 + (0.75 * F.col("dl").cast("double")) / F.lit(avgdl)
    )
    sc = idf * (num / den)
    per_term = (
        hits.join(dfreq, "w")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            *[
                F.sum(F.when(F.col("w") == t, sc)).alias(f"s{i}")
                for i, t in enumerate(_BM25_TERMS)
            ],
        )
    )
    total = F.lit(0.0)
    for i in range(len(_BM25_TERMS)):  # fixed-order sum: ((0+s0)+s1)+s2
        total = total + F.coalesce(F.col(f"s{i}"), F.lit(0.0))
    ranked = (
        per_term.select(
            "doc_id", "n_terms", F.round(total, 6).alias("score_r")
        )
        .orderBy(F.desc("score_r"), "doc_id")
        .limit(10)
    )
    w = Window.orderBy(F.desc("score_r"), "doc_id")  # 10 rows: bounded
    return ranked.withColumn(
        "rnk", F.row_number().over(w)
    ).select("rnk", "doc_id", "n_terms", "score_r").orderBy("rnk")


BM25_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     t -> t <> '') AS toks
  FROM documents
), toks2 AS (SELECT * FROM toks WHERE len(toks) > 0),
dl AS (SELECT doc_id, len(toks) AS dl FROM toks2),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
          FROM dl),
hits AS (
  SELECT doc_id, w, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS w FROM toks2)
  WHERE w IN ('hash', 'join', 'scan')
  GROUP BY 1, 2
),
dfreq AS (SELECT w, COUNT(*) AS df FROM hits GROUP BY 1),
sc AS (
  SELECT h.doc_id, h.w,
         ln(1.0 + (s.n - df + 0.5) / (df + 0.5))
           * ((CAST(tf AS DOUBLE) * 2.2)
              / (CAST(tf AS DOUBLE)
                 + 1.2 * (0.25 + (0.75 * CAST(dl AS DOUBLE)) / s.avgdl))) AS sc
  FROM hits h JOIN dfreq USING (w) JOIN dl USING (doc_id) CROSS JOIN stats s
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         SUM(CASE WHEN w = 'hash' THEN sc END) AS s0,
         SUM(CASE WHEN w = 'join' THEN sc END) AS s1,
         SUM(CASE WHEN w = 'scan' THEN sc END) AS s2
  FROM sc GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, n_terms,
         round(((0.0 + COALESCE(s0, 0.0)) + COALESCE(s1, 0.0))
               + COALESCE(s2, 0.0), 6) AS score_r
  FROM per_doc
)
SELECT CAST(row_number() OVER (ORDER BY score_r DESC, doc_id) AS INTEGER) AS rnk,
       doc_id, n_terms, score_r
FROM ranked ORDER BY score_r DESC, doc_id LIMIT 10
"""


def unimax_language_budgets(spark, sf_dir):
    """UniMax training-mixture allocation (Chung et al. 2023,
    arXiv:2304.09151 — `operators/mixing.py`): spread one corpus-epoch
    token budget as uniformly as possible across languages, with no
    language repeated past epoch_cap=2 passes.  The closed-form
    water-fill's saturation predicate is INTEGER arithmetic end to end
    (sorted prefix sums of caps), so which languages saturate is
    bit-identical across engines; the single water-level division is the
    only float.  Corpus-sized work is one groupBy(lang) token count; the
    allocation windows run over the per-language relation (5 rows here,
    hundreds at most in production) — a deliberately bounded
    driver-window, not a corpus sort."""
    from unstructured_data_pipeline_spark.operators.mixing import (
        unimax_allocations,
    )

    d = _heavy(spark, sf_dir, "documents")
    counts = (
        d.select(
            "lang",
            F.size(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda t: t != "",
                )
            ).alias("n"),
        )
        .groupBy("lang")
        .agg(F.sum("n").alias("n_tokens"))
    )
    return unimax_allocations(
        counts, "lang", "n_tokens", budget=None, epoch_cap=2
    ).withColumnRenamed("key", "lang")


UNIMAX_SQL = """
WITH counts AS (
  SELECT lang,
         CAST(SUM(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                  t -> t <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
caps AS (
  SELECT lang, n_tokens, 2 * n_tokens AS cap,
         SUM(n_tokens) OVER () AS b,
         COUNT(*) OVER () AS n,
         row_number() OVER (ORDER BY 2 * n_tokens, lang) AS i,
         SUM(2 * n_tokens) OVER (ORDER BY 2 * n_tokens, lang
                                 ROWS UNBOUNDED PRECEDING) AS prefix
  FROM counts
),
sat AS (
  SELECT *, (prefix - cap + cap * (n - i + 1)) <= b AS saturated FROM caps
),
lvl AS (
  SELECT *,
         SUM(CASE WHEN saturated THEN cap ELSE 0 END) OVER () AS sat_total,
         SUM(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS n_sat
  FROM sat
)
SELECT lang, n_tokens, cap, saturated,
       round(CASE WHEN saturated THEN CAST(cap AS DOUBLE)
                  ELSE CAST(b - sat_total AS DOUBLE) / CAST(n - n_sat AS DOUBLE)
             END, 6) AS alloc_r,
       round(CASE WHEN saturated THEN CAST(cap AS DOUBLE)
                  ELSE CAST(b - sat_total AS DOUBLE) / CAST(n - n_sat AS DOUBLE)
             END / CAST(n_tokens AS DOUBLE), 6) AS epochs_r
FROM lvl ORDER BY lang
"""


_CMS_D, _CMS_W = 3, 64


def count_min_sketch_contract(spark, sf_dir):
    """Count-min sketch (Cormode & Muthukrishnan 2005) over event user
    ids: d=3 hash rows x w=64 counters, built as ONE integer-exact
    groupBy((row, bucket)) count — the mergeable one-pass frequency
    summary that answers point queries in O(d) lookups when the item
    domain is too large for an exact groupBy to stay hot.  Companion to
    the Misra-Gries entry (`heavy_hitters_contract`): MG answers "which
    items are heavy", CMS answers "how often is THIS item", and both
    merge under any repartitioning (counter matrices add elementwise).
    Buckets come from the md5 12-nibble integer both engines compute
    identically (the KMV helper), so the whole sketch and the one-sided
    overestimate guarantee (est >= true, always) are hash-gated exactly.
    Probes: the 8 lowest user ids."""
    from unstructured_data_pipeline_spark.operators.partitioning import (
        ensure_min_parallelism,
    )

    ev = _events(spark, sf_dir)
    # hash-heavy narrow stage: spread the single-split fixture scan across
    # cores (same guard as _heavy; no-op when the input has enough splits)
    items = ensure_min_parallelism(ev.select(F.col("user_id").alias("uid")))

    def with_buckets(df):
        """Explode the d row indices FIRST, then hash once per (r, uid):
        the md5 is materialized in its OWN projection before the 12-nibble
        integer unpack, because inlining it would re-evaluate the hash
        once per nibble (12x per probe — measured 7x slower on the bucket
        stage; CollapseProject keeps the split since md5 is non-cheap)."""
        rows = df.select(
            "uid",
            F.explode(
                F.array(*[F.lit(i) for i in range(_CMS_D)])
            ).alias("r"),
        ).withColumn(
            "_h",
            F.md5(
                F.concat(
                    F.col("r").cast("string"),
                    F.lit(":"),
                    F.col("uid").cast("string"),
                )
            ),
        )
        return rows.select(
            "uid",
            "r",
            F.pmod(_kmv_val_spark(F.col("_h")), F.lit(_CMS_W)).alias("b"),
        )

    counters = with_buckets(items).groupBy("r", "b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # the sketch IS the d*w counter matrix — a bounded collect (<=192
    # rows here, a few KiB at any corpus size), exactly like bloom.py
    # collecting its filter words; point queries are then O(d) driver-
    # side lookups (the deployment shape: the sketch leaves the cluster,
    # the corpus never does)
    sketch = {
        (row["r"], row["b"]): row["cnt"] for row in counters.collect()
    }
    import hashlib

    def py_bucket(r: int, uid: int) -> int:
        h = hashlib.md5(f"{r}:{uid}".encode()).hexdigest()
        return int(h[:12], 16) % _CMS_W  # same 12-nibble value as the SQL

    true_n = (
        items.filter(F.col("uid") < 8)
        .groupBy("uid")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .collect()
    )  # bounded: the 8 probe ids
    report = []
    for row in sorted(true_n, key=lambda r: r["uid"]):
        uid, tn = int(row["uid"]), int(row["true_n"])
        est = min(
            sketch.get((r, py_bucket(r, uid)), 0) for r in range(_CMS_D)
        )
        report.append((uid, tn, est, est - tn))
    return spark.createDataFrame(
        report, "user_id long, true_n long, est_n long, over_n long"
    ).orderBy("user_id")


def _cms_bucket_sql(prefix: str, col: str) -> str:
    h = f"md5(concat('{prefix}:', CAST({col} AS VARCHAR)))"
    return f"({_kmv_val_sql(h)}) % {_CMS_W}"


COUNT_MIN_SQL = f"""
WITH items AS (SELECT user_id AS uid FROM events),
rows_ AS (
  {" UNION ALL ".join(
      f"SELECT uid, {i} AS r, {_cms_bucket_sql(str(i), 'uid')} AS b FROM items"
      for i in range(_CMS_D)
  )}
),
counters AS (SELECT r, b, COUNT(*) AS cnt FROM rows_ GROUP BY 1, 2),
probes AS (SELECT DISTINCT uid FROM items WHERE uid < 8),
probe_rows AS (
  {" UNION ALL ".join(
      f"SELECT uid, {i} AS r, {_cms_bucket_sql(str(i), 'uid')} AS b FROM probes"
      for i in range(_CMS_D)
  )}
),
est AS (
  SELECT uid, MIN(cnt) AS est_n
  FROM probe_rows JOIN counters USING (r, b) GROUP BY uid
),
tru AS (SELECT uid, COUNT(*) AS true_n FROM items WHERE uid < 8 GROUP BY uid)
SELECT uid AS user_id, CAST(true_n AS BIGINT) AS true_n,
       CAST(est_n AS BIGINT) AS est_n,
       CAST(est_n - true_n AS BIGINT) AS over_n
FROM est JOIN tru USING (uid) ORDER BY user_id
"""


_C4_BLOCKED_SOURCES = ("src0", "src7", "src13")


def c4_quality_filter_report(spark, sf_dir):
    """C4-style rule cascade (Raffel et al. 2020, arXiv:1910.10683 §2.2
    re-expressed for this corpus): a source/URL blocklist (the 'bad
    domains' list), a minimum-length rule, and a required-stopword rule
    ('the' must appear — the C4 English heuristic), applied in FIXED
    priority order so every document gets exactly one drop reason or
    'kept'.  Everything is row-local string/integer work evaluated at the
    scan — the filter family's cheapest tier, run before any LM or
    classifier scoring; the blocklist broadcast-joins (here an isin
    literal) however many entries it has.  Output: reason, doc count,
    corpus share."""
    d = _heavy(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != ""
    )
    reason = (
        F.when(
            F.col("source").isin(*_C4_BLOCKED_SOURCES), F.lit("blocked_source")
        )
        .when(F.size(toks) < 25, F.lit("too_short"))
        .when(~F.array_contains(toks, "the"), F.lit("missing_stopword"))
        .otherwise(F.lit("kept"))
    )
    counted = d.select(reason.alias("reason")).groupBy("reason").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    total = F.sum("n_docs").over(Window.partitionBy())  # <=4 rows
    return counted.select(
        "reason",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / total.cast("double"), 6).alias(
            "share_r"
        ),
    ).orderBy("reason")


C4_FILTER_SQL = f"""
WITH r AS (
  SELECT CASE
           WHEN source IN {str(tuple(_C4_BLOCKED_SOURCES))} THEN 'blocked_source'
           WHEN len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                t -> t <> '')) < 25 THEN 'too_short'
           WHEN NOT list_contains(
                  list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                              t -> t <> ''), 'the') THEN 'missing_stopword'
           ELSE 'kept'
         END AS reason
  FROM documents
),
counted AS (SELECT reason, COUNT(*) AS n_docs FROM r GROUP BY reason)
SELECT reason, CAST(n_docs AS BIGINT) AS n_docs,
       round(CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE), 6)
         AS share_r
FROM counted ORDER BY reason
"""


def table_profile_report(spark, sf_dir):
    """Column-level table profiling in the LONG information_schema-
    statistics shape: one row PER COLUMN with (rows, nulls, exact
    distinct, min, max) — the `DESCRIBE`-style catalog view, complementing
    `profile_customer_columns` (the round-2 wide single-row health check
    over a hand-picked stat subset) with uniform metrics over EVERY
    column.  Computed in ONE scan: all per-column aggregates ride the
    same projection, then unpivot via an explode of k structs.  Numerics
    profile through the cents integer so min/max stringify identically
    across engines.  At 100 TB this is the profile-pass shape: one
    map-side-combinable aggregation, k*5 scalars to the driver."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        _cents(F.col("c_acctbal")).alias("bal_cents"),
        "c_mktsegment",
    )
    cols = ["c_custkey", "c_name", "c_nationkey", "bal_cents", "c_mktsegment"]
    agg = c.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.count(col).alias(f"nn_{col}") for col in cols],
        *[F.countDistinct(col).alias(f"nd_{col}") for col in cols],
        *[F.min(col).cast("string").alias(f"mn_{col}") for col in cols],
        *[F.max(col).cast("string").alias(f"mx_{col}") for col in cols],
    )
    profile = F.array(
        *[
            F.struct(
                F.lit(col).alias("column_name"),
                F.col("_n").alias("n_rows"),
                (F.col("_n") - F.col(f"nn_{col}")).alias("n_nulls"),
                F.col(f"nd_{col}").alias("n_distinct"),
                F.col(f"mn_{col}").alias("min_val"),
                F.col(f"mx_{col}").alias("max_val"),
            )
            for col in cols
        ]
    )
    return (
        agg.select(F.explode(profile).alias("p"))
        .select("p.*")
        .orderBy("column_name")
    )


TABLE_PROFILE_SQL = f"""
WITH c AS (
  SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
         CAST(c_nationkey AS BIGINT) AS c_nationkey,
         {_c('c_acctbal')} AS bal_cents, c_mktsegment
  FROM customer
)
{" UNION ALL ".join(
    f"SELECT '{col}' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows, "
    f"CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls, "
    f"CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct, "
    f"CAST(MIN({col}) AS VARCHAR) AS min_val, "
    f"CAST(MAX({col}) AS VARCHAR) AS max_val FROM c"
    for col in ["c_custkey", "c_name", "c_nationkey", "bal_cents", "c_mktsegment"]
)}
ORDER BY column_name
"""


def table_clone_report(spark, sf_dir):
    """Zero-copy CLONE lifecycle through the real table layer
    (`ParquetTable.clone` — Snowflake CREATE TABLE ... CLONE parity, the
    cheap environment-copy the reference platform offers): load the
    customer table, clone it (hardlink forest, no bytes copied —
    inode-asserted in unit tests), then DIVERGE the two tables — the
    original deletes the BUILDING segment, the clone upserts every
    custkey % 10 == 0 into a 'VIP' segment with a zeroed balance — and
    report both tables' per-segment rollups side by side.  Hash-gating
    both post-divergence states proves clone isolation: neither table's
    mutation leaked into the other."""
    import shutil
    import tempfile

    from unstructured_data_pipeline_spark.operators.dml import ParquetTable

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        _cents(F.col("c_acctbal")).alias("bal_cents"),
        "c_mktsegment",
    )
    root = tempfile.mkdtemp(prefix="udp_clone_")
    t = ParquetTable(spark, root, "accounts", cust.schema)
    t.ensure()
    t.append(cust)
    c = t.clone("accounts_clone")
    t.delete_where(F.col("c_mktsegment") == "BUILDING")
    vip = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.lit(0).cast("long").alias("bal_cents"),
        F.lit("VIP").alias("c_mktsegment"),
    )
    c.upsert(vip, ["c_custkey"])

    def rollup(tbl, label):
        return tbl.read().groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("bal_cents").alias("sum_bal_cents"),
        ).select(F.lit(label).alias("tbl"), "*")

    out = rollup(t, "original").unionByName(
        rollup(c, "clone")
    ).orderBy("tbl", "c_mktsegment").cache()
    out.count()  # materialize before the scratch dir is removed
    shutil.rmtree(root, ignore_errors=True)
    return out


TABLE_CLONE_SQL = f"""
WITH base AS (
  SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
         {_c('c_acctbal')} AS bal_cents, c_mktsegment
  FROM customer
),
orig AS (SELECT * FROM base WHERE c_mktsegment <> 'BUILDING'),
clone AS (
  SELECT * FROM base WHERE c_custkey % 10 <> 0
  UNION ALL
  SELECT c_custkey, 0, 'VIP' FROM base WHERE c_custkey % 10 = 0
),
labeled AS (
  SELECT 'original' AS tbl, c_mktsegment, COUNT(*) AS n_rows,
         SUM(bal_cents) AS sum_bal_cents
  FROM orig GROUP BY 2
  UNION ALL
  SELECT 'clone', c_mktsegment, COUNT(*), SUM(bal_cents)
  FROM clone GROUP BY 2
)
SELECT tbl, c_mktsegment, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(sum_bal_cents AS BIGINT) AS sum_bal_cents
FROM labeled ORDER BY tbl, c_mktsegment
"""


def bucketed_join_report(spark, sf_dir):
    """Bucketed co-located join — the 'shuffle once at write time, join
    shuffle-free forever after' warehouse pattern the 100 TB playbook
    leads with: orders and customer are persisted as BUCKETED tables on
    the join key (8 buckets, sorted within buckets), after which every
    key-join between them needs NO Exchange on either side — Spark's
    bucketing metadata proves co-partitioning, so the sort-merge join
    reads both sides in place (`tests/test_scale_features.py::
    test_bucketed_join_is_exchange_free` pins the exchange-free plan with
    broadcast disabled).  This report hash-gates the RESULT through the
    bucketed tables: per-segment order counts and totals equal the plain
    join's.  The bucketed write is the one-time amortized shuffle; at
    scale it replaces a full shuffle of the fact table on EVERY
    downstream join against the same dimension key."""
    import os
    import shutil
    import tempfile

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", _cents(F.col("o_totalprice")).alias("cents")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # EXTERNAL tables at an explicit scratch path: the session catalog is
    # per-process but a managed table's warehouse dir outlives it, so a
    # managed saveAsTable would collide with a previous process's leftover
    # location that this session's DROP IF EXISTS cannot see
    root = tempfile.mkdtemp(prefix="udp_bkt_")
    for name in ("udp_bkt_orders", "udp_bkt_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    o.write.bucketBy(8, "o_custkey").sortBy("o_custkey").option(
        "path", os.path.join(root, "orders")
    ).mode("overwrite").format("parquet").saveAsTable("udp_bkt_orders")
    c.write.bucketBy(8, "c_custkey").sortBy("c_custkey").option(
        "path", os.path.join(root, "customer")
    ).mode("overwrite").format("parquet").saveAsTable("udp_bkt_customer")
    bo = spark.table("udp_bkt_orders")
    bc = spark.table("udp_bkt_customer")
    j = bo.join(bc, bo["o_custkey"] == bc["c_custkey"])
    out = (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("c_mktsegment")
    )
    # One row per market segment (≤5): collect the report THROUGH the
    # bucketed tables, then rebuild it as literals — DROP TABLE invalidates
    # any cached plan that references the dropped tables, so a cache()d
    # frame would silently recompute against deleted files on the caller's
    # next action.  The collect is the report itself, not the data.
    rows = out.collect()
    for name in ("udp_bkt_orders", "udp_bkt_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


BUCKETED_JOIN_SQL = f"""
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM({_c('o_totalprice')}) AS BIGINT) AS sum_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --- Johnson-Lindenstrauss random projection -------------------------------
# Deterministic ±1 projection matrix (16 output dims × 64 input dims),
# derived from md5 at module import so BOTH engines receive the SAME
# literal matrix — no RNG state, reproducible on any cluster.

_JL_K, _JL_D = 16, 64


def _jl_signs() -> list[list[int]]:
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for i in range(_JL_D)
        ]
        for j in range(_JL_K)
    ]


_JL_SIGNS = _jl_signs()


def jl_projection_topk(spark, sf_dir):
    """Johnson-Lindenstrauss sketching for embedding search — compress
    64-dim vectors to 16 dims with a fixed ±1 projection (Achlioptas 2003:
    random signs preserve pairwise distances in expectation), then do
    exact top-5 L2 search in the PROJECTED space.  The 4× compression is
    the point at scale: the projected corpus is 4× cheaper to scan, cache,
    and shuffle than the raw embeddings, and the projection itself is
    row-local (one zip_with+aggregate per output dim — no shuffle, no
    training, no state).  Integer-exact cross-engine: coordinates are
    fixed-point quantized (×10⁴, the cents trick), projections are ±1
    integer sums, distances are BIGINT sums of squares.  Single corpus
    scan: the 4 projected query vectors broadcast-join against the
    projected corpus; ranks come from per-query windows."""
    emb = _heavy(spark, sf_dir, "embeddings")
    vq = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * 10000 + F.lit(0.5)).cast("long"),
    )
    proj = emb.select("vec_id", vq.alias("vq")).select(
        "vec_id",
        F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        "vq",
                        F.array(*[F.lit(s) for s in _JL_SIGNS[j]]),
                        lambda a, b: a * b.cast("long"),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                for j in range(_JL_K)
            ]
        ).alias("p"),
    )
    q = proj.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("p").alias("pq")
    )
    scored = (
        proj.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with("pq", "p", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist2"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("dist2", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "rnk", "neighbor_id", "dist2")
        .orderBy("q_id", "rnk")
    )


def _jl_sign_values_sql() -> str:
    rows = []
    for j in range(_JL_K):
        for i in range(_JL_D):
            rows.append(f"({j},{i + 1},{_JL_SIGNS[j][i]})")
    return ",".join(rows)


JL_PROJECTION_SQL = f"""
WITH sgn(j, i, s) AS (VALUES {_jl_sign_values_sql()}),
qz AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
  FROM embeddings
),
proj AS (
  SELECT vec_id, j, SUM(s * q) AS p
  FROM qz JOIN sgn USING (i) GROUP BY vec_id, j
),
qp AS (SELECT vec_id AS q_id, j, p AS pq FROM proj WHERE vec_id < 4),
d AS (
  SELECT q_id, v.vec_id AS neighbor_id, SUM((pq - v.p) * (pq - v.p)) AS dist2
  FROM qp JOIN proj v USING (j)
  WHERE v.vec_id <> q_id GROUP BY q_id, v.vec_id
)
SELECT q_id, CAST(rnk AS INTEGER) AS rnk, neighbor_id, CAST(dist2 AS BIGINT) AS dist2
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist2, neighbor_id) AS rnk
      FROM d) t
WHERE rnk <= 5 ORDER BY q_id, rnk
"""


def pagerank_part_copurchase(spark, sf_dir):
    """Bounded-iteration PageRank over the part co-purchase graph — the
    graph-centrality shape (who's central in a similarity/link graph) done
    entirely with joins + aggregations.  Graph build: lineitem self-joined
    on l_orderkey emits directed co-purchase edges between distinct parts
    of the same order (per-order fan-out is bounded by order size, ~7
    lines, so the pair blowup is a small constant — for unbounded baskets
    you'd cap lines per key first); edge weights are pair multiplicities.
    Rank: 3 unrolled iterations of r(v) = 0.15 + 0.85·Σ r(u)·w/outw(u) in
    FIXED-POINT integer arithmetic (micro-rank units, integer div) so both
    engines agree bit-for-bit — float PageRank can't be hash-gated.  Each
    iteration is one shuffle join (ranks against edges on src, a key the
    persisted edge table is already hash-partitioned on from its groupBy)
    plus one groupBy dst; iterations are bounded, state is one row per
    node, and nothing touches the driver.  Output: top-20 parts by final
    rank."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = a.join(b, "l_orderkey").filter(
        F.col("a.l_partkey") != F.col("b.l_partkey")
    )
    edges = (
        pairs.groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("outw", F.sum("w").over(Window.partitionBy("src")))
        .persist()
    )
    try:
        ranks = edges.select(F.col("src").alias("node")).distinct().select(
            "node", F.lit(1_000_000).cast("long").alias("r")
        )
        for _ in range(3):
            ranks = (
                edges.join(ranks, edges["src"] == ranks["node"])
                .groupBy("dst")
                .agg(
                    (
                        F.lit(150_000).cast("long")
                        + F.sum(F.expr("(850 * r * w) div (1000 * outw)"))
                    ).alias("r")
                )
                .select(F.col("dst").alias("node"), "r")
            )
        out = (
            ranks.orderBy(F.desc("r"), "node")
            .limit(20)
            .select(F.col("node").alias("part"), F.col("r").alias("pagerank_micro"))
        )
        rows = out.collect()  # 20 rows; lets the persisted edges release below
    finally:
        edges.unpersist(blocking=False)
    return spark.createDataFrame(rows, out.schema)


PAGERANK_SQL = """
WITH pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
edges AS (SELECT src, dst, COUNT(*) AS w FROM pairs GROUP BY src, dst),
e AS (
  SELECT src, dst, w, SUM(w) OVER (PARTITION BY src) AS outw FROM edges
),
r0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS r FROM edges),
r1 AS (SELECT dst AS node, 150000 + SUM((850 * r * w) // (1000 * outw)) AS r
       FROM e JOIN r0 ON e.src = r0.node GROUP BY dst),
r2 AS (SELECT dst AS node, 150000 + SUM((850 * r * w) // (1000 * outw)) AS r
       FROM e JOIN r1 ON e.src = r1.node GROUP BY dst),
r3 AS (SELECT dst AS node, 150000 + SUM((850 * r * w) // (1000 * outw)) AS r
       FROM e JOIN r2 ON e.src = r2.node GROUP BY dst)
SELECT node AS part, CAST(r AS BIGINT) AS pagerank_micro
FROM r3 ORDER BY r DESC, node LIMIT 20
"""


def vocab_coverage_report(spark, sf_dir):
    """Tokenizer-vocabulary coverage audit — before training you check
    what share of the corpus a candidate vocabulary actually covers, per
    language (high OOV share in a language means the tokenizer will
    shatter it into bytes).  Vocabulary = top-32 terms by corpus term
    frequency (ties break on the term).  Scale shape: ONE explode+groupBy
    produces the (term, lang) count table; both the vocabulary (a further
    32-row aggregate of it) and the per-language coverage (a broadcast
    join against it) derive from that small aggregate — the raw corpus is
    scanned exactly once, and nothing after the first groupBy is
    proportional to corpus size."""
    d = _heavy(spark, sf_dir, "documents")
    tl = (
        d.select(
            "lang", F.explode(TX.tokens_ws(F.lower(F.col("text")))).alias("term")
        )
        .groupBy("term", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    vocab = (
        tl.groupBy("term")
        .agg(F.sum("cnt").alias("tf"))
        .orderBy(F.desc("tf"), "term")
        .limit(32)
        .select("term")
    )
    out = (
        tl.join(F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "term", "left")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("total_toks"),
            F.sum(F.when(F.col("in_vocab").isNull(), F.col("cnt")).otherwise(0)).alias(
                "oov_toks"
            ),
        )
        .select(
            "lang",
            "total_toks",
            "oov_toks",
            F.round(F.col("oov_toks") / F.col("total_toks"), 6).alias("oov_share"),
        )
        .orderBy("lang")
    )
    rows = out.collect()  # one row per language; releases the persisted agg
    tl.unpersist(blocking=False)
    return spark.createDataFrame(rows, out.schema)


VOCAB_COVERAGE_SQL = """
WITH tl AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
cnts AS (SELECT term, lang, COUNT(*) AS cnt FROM tl GROUP BY term, lang),
vocab AS (
  SELECT term FROM (SELECT term, SUM(cnt) AS tf FROM cnts GROUP BY term) t
  ORDER BY tf DESC, term LIMIT 32
)
SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total_toks,
       CAST(SUM(CASE WHEN v.term IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS oov_toks,
       round(SUM(CASE WHEN v.term IS NULL THEN cnt ELSE 0 END)
             / SUM(cnt), 6) AS oov_share
FROM cnts c LEFT JOIN vocab v ON c.term = v.term
GROUP BY lang ORDER BY lang
"""


def train_val_test_split_report(spark, sf_dir):
    """Deterministic stratum-audited train/val/test split — the last step
    before shards ship: assign every document to a split by hash (no RNG,
    no seed coordination, identical on any engine/cluster/partitioning,
    and stable under corpus growth: a document's split never changes when
    other documents arrive).  Split rule: first hex digit of
    md5(doc_id) — 14/16 train (87.5%), 'e' val, 'f' test; the comparison
    is plain string ordering over hex digits, identical in both engines.
    The assignment evaluates at the scan (no shuffle to split); the audit
    is one groupBy.  Output: per (split, lang) document count and exact
    token total — the table you eyeball to confirm no language fell out
    of a split."""
    d = _heavy(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(digit < "e", "train").when(digit == "e", "val").otherwise("test")
    )
    return (
        d.select(
            split.alias("split"),
            "lang",
            TX.token_count_ws("text").cast("long").alias("toks"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("tokens"),
        )
        .orderBy("split", "lang")
    )


def event_pattern_match_report(spark, sf_dir):
    """MATCH_RECOGNIZE-style sequential pattern matching over the event
    stream — the row-pattern feature (Snowflake/Oracle MATCH_RECOGNIZE,
    Flink CEP) recast as per-key sequence strings + regex: each user's
    events order by (ts, event_id) into a compact one-char-per-event
    string (s/v/c/p/e by type initial), and the funnel pattern
    `s[vc]*p` (signup, any views/clicks, purchase) counts non-overlapping
    matches per user.  Scale shape: ONE groupBy user (the same shuffle a
    MATCH_RECOGNIZE engine needs to co-locate each key's rows); the
    per-user sequence is bounded by events-per-user — for unbounded keys
    you'd window the sequence by time first (the CEP within-clause).  The
    regex state machine is codegen-resident; nothing is driver-side."""
    ev = _events(spark, sf_dir)
    seq = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"),
                F.substring("event_type", 1, 1).alias("ch"),
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("e")).alias("es"))
        .select(
            "user_id",
            F.size("es").cast("long").alias("n_events"),
            F.array_join(F.transform("es", lambda x: x["ch"]), "").alias("seq"),
        )
    )
    return seq.select(
        "user_id",
        "n_events",
        F.regexp_count("seq", F.lit(r"s[vc]*p")).cast("long").alias("n_funnels"),
    ).orderBy("user_id")


EVENT_PATTERN_SQL = """
WITH seq AS (
  SELECT user_id, COUNT(*) AS n_events,
         string_agg(substr(event_type, 1, 1), '' ORDER BY epoch_us(ts), event_id) AS s
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(len(regexp_extract_all(s, 's[vc]*p')) AS BIGINT) AS n_funnels
FROM seq ORDER BY user_id
"""


def outlier_mad_report(spark, sf_dir):
    """Robust outlier detection per segment — median absolute deviation,
    the estimator that survives the outliers it hunts (z-scores don't:
    one whale inflates the stddev that judges it).  Exact two-level
    median over integer cents; a row is an outlier when |x - median| >
    3·MAD.  Plan shape: BOTH window aggregates partition by the same key,
    so Catalyst reuses ONE Exchange for the whole query — median, MAD,
    and the outlier flags ride a single shuffle.  At 100 TB exact
    percentiles buffer each partition's values; the production swap is
    approx_percentile in the same plan shape (documented, not silently
    substituted — the oracle gates the exact form)."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment")
    df = (
        cust.select(
            "c_mktsegment", _cents(F.col("c_acctbal")).alias("cents")
        )
        .withColumn("med", F.expr("percentile(cents, 0.5)").over(w))
        .withColumn("adev", F.abs(F.col("cents") - F.col("med")))
        .withColumn("mad", F.expr("percentile(adev, 0.5)").over(w))
    )
    return (
        df.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.first("med").alias("med_cents"),
            F.first("mad").alias("mad_cents"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .orderBy("c_mktsegment")
    )


OUTLIER_MAD_SQL = f"""
WITH c AS (
  SELECT c_mktsegment, {_c('c_acctbal')} AS cents FROM customer
),
m AS (
  SELECT c_mktsegment, cents,
         quantile_cont(cents, 0.5) OVER (PARTITION BY c_mktsegment) AS med
  FROM c
),
a AS (
  SELECT c_mktsegment, cents, med, abs(cents - med) AS adev,
         quantile_cont(abs(cents - med), 0.5)
           OVER (PARTITION BY c_mktsegment) AS mad
  FROM m
)
SELECT c_mktsegment, COUNT(*) AS n_customers,
       ANY_VALUE(med) AS med_cents, ANY_VALUE(mad) AS mad_cents,
       CAST(SUM(CASE WHEN adev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM a GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def twap_user_daily(spark, sf_dir):
    """Time-weighted average — the finance/metrics aggregation where each
    observation counts for HOW LONG it was the current value, not once:
    per user-day, each event's value is weighted by the seconds until the
    next event that day (last event carries to midnight).  One lead()
    window per user-day (a single shuffle; the groupBy reuses the same
    key prefix) and exact integer arithmetic: weights in whole seconds
    (≤ 86 400), values in cents — the Σw·v products stay far inside
    BIGINT, and the single TWAP division per group rounds at 6.  Output:
    per day, users observed and the cross-user mean of daily TWAPs (via
    exact per-user sums, so the day row is deterministic)."""
    ev = _events(spark, sf_dir)
    day_us = 86_400_000_000
    e = ev.select(
        "user_id",
        F.expr(f"ts div {day_us}").alias("day"),
        "ts",
        "event_id",
        _cents(F.col("value")).alias("cents"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    nxt = F.coalesce(
        F.lead("ts").over(w), (F.col("day") + 1) * F.lit(day_us)
    )
    # two-step: materialize the micros delta as a long, then INTEGER div
    # to seconds — a double divide + cast could round 123999999/1e6 up
    # where DuckDB's // floors it
    weighted = e.select(
        "user_id", "day", "cents", (nxt - F.col("ts")).alias("dt_us")
    ).select(
        "user_id",
        "day",
        "cents",
        F.expr("dt_us div 1000000").alias("w_sec"),
    )
    per_user = weighted.groupBy("user_id", "day").agg(
        F.sum(F.col("w_sec") * F.col("cents")).alias("wv"),
        F.sum("w_sec").alias("ww"),
    )
    return (
        per_user.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                F.sum(F.col("wv") / F.col("ww")) / F.count(F.lit(1)), 6
            ).alias("mean_twap_cents"),
        )
        .orderBy("day")
    )


TWAP_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day, epoch_us(ts) AS ts,
         event_id, {_c('value')} AS cents
  FROM events
),
weighted AS (
  SELECT user_id, day, cents,
         (COALESCE(lead(ts) OVER (PARTITION BY user_id, day ORDER BY ts, event_id),
                   (day + 1) * 86400000000) - ts) // 1000000 AS w_sec
  FROM e
),
per_user AS (
  SELECT user_id, day, SUM(w_sec * cents) AS wv, SUM(w_sec) AS ww
  FROM weighted GROUP BY user_id, day
)
SELECT day, COUNT(*) AS n_users,
       round(SUM(CAST(wv AS DOUBLE) / ww) / COUNT(*), 6) AS mean_twap_cents
FROM per_user GROUP BY day ORDER BY day
"""


def association_rules_report(spark, sf_dir):
    """Market-basket association rules — the Apriori output surface
    (support, confidence, lift) for part pairs co-ordered in the same
    order.  Pair counts come from the bounded per-order self-join of
    `operators/graph.py` (fan-out capped by order size), emitted in both
    directions — a directed pair (a, b) shares exactly the baskets of
    (b, a); item supports are one groupBy broadcast back onto the pairs;
    the basket total is a single-row broadcast scalar.  Confidence and
    lift are single divisions of exact integers, rounded to 6 — ranks
    deterministic with id tie-breaks.  Output: top-20 rules by lift
    among pairs with support ≥ 3 baskets.  At 100 TB nothing is
    quadratic: pairs are order-local, supports are broadcast-sized."""
    baskets = graph.baskets(_t(spark, sf_dir, "lineitem"))
    n_orders = baskets.select("l_orderkey").distinct().count()
    up = graph.basket_pairs(baskets).filter(F.col("pair_n") >= 3)
    pairs = up.selectExpr("u AS ante", "v AS cons", "pair_n").union(
        up.selectExpr("v AS ante", "u AS cons", "pair_n")
    )
    items = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("item_n"))
    ruled = (
        pairs.join(
            F.broadcast(items.withColumnRenamed("l_partkey", "ante")), "ante"
        )
        .withColumnRenamed("item_n", "ante_n")
        .join(
            F.broadcast(
                items.withColumnRenamed("l_partkey", "cons").withColumnRenamed(
                    "item_n", "cons_n"
                )
            ),
            "cons",
        )
    )
    conf = F.col("pair_n") / F.col("ante_n")
    lift = conf * n_orders / F.col("cons_n")
    return (
        ruled.select(
            "ante",
            "cons",
            "pair_n",
            F.round(conf, 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "ante", "cons")
        .limit(20)
    )


ASSOCIATION_RULES_SQL = """
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets),
pairs AS (
  SELECT a.l_partkey AS ante, b.l_partkey AS cons, COUNT(*) AS pair_n
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY ante, cons HAVING COUNT(*) >= 3
),
items AS (SELECT l_partkey, COUNT(*) AS item_n FROM baskets GROUP BY l_partkey)
SELECT ante, cons, pair_n,
       round(CAST(pair_n AS DOUBLE) / ia.item_n, 6) AS confidence,
       round(CAST(pair_n AS DOUBLE) / ia.item_n * n.n_orders / ic.item_n, 6) AS lift
FROM pairs
JOIN items ia ON ia.l_partkey = ante
JOIN items ic ON ic.l_partkey = cons
CROSS JOIN n
ORDER BY lift DESC, ante, cons LIMIT 20
"""


def largest_remainder_allocation(spark, sf_dir):
    """Exact integer proration by the largest-remainder method — the
    billing/apportionment algorithm (distribute an integer budget across
    groups proportional to weights so the shares sum EXACTLY to the
    budget; naive rounding drifts).  Each segment gets
    floor(budget·weight/total), and the leftover units go one each to
    the largest fractional remainders (ties by segment key).  All
    arithmetic is BIGINT (remainders compared as integer cross-products,
    never floats), so the allocation is bit-identical on any engine.
    Plan: one groupBy for weights, windows over the 5-row aggregate for
    the total/rank — post-aggregation driver-scale work.  The invariant
    the oracle hash-checks: SUM(alloc) == budget exactly."""
    budget = 1_000_000
    o = _t(spark, sf_dir, "orders").join(
        F.broadcast(_t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    w = o.groupBy("c_mktsegment").agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("weight")
    )
    tot = Window.partitionBy()
    shares = w.select(
        "c_mktsegment",
        "weight",
        F.sum("weight").over(tot).alias("total"),
        F.count(F.lit(1)).over(tot).alias("n_groups"),
    ).select(
        "c_mktsegment",
        "weight",
        "total",
        F.expr(f"({budget} * weight) div total").alias("base"),
        # remainder as an exact integer: budget*weight mod total
        F.expr(f"({budget} * weight) % total").alias("rem"),
    )
    leftover = F.lit(budget) - F.sum("base").over(tot)
    ranked = shares.select(
        "c_mktsegment",
        "base",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), "c_mktsegment"))
        .alias("rr"),
        leftover.alias("leftover"),
    )
    return (
        ranked.select(
            "c_mktsegment",
            (
                F.col("base")
                + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
            ).alias("alloc"),
        )
        .orderBy("c_mktsegment")
    )


LARGEST_REMAINDER_SQL = f"""
WITH w AS (
  SELECT c_mktsegment, CAST(SUM({_c('o_totalprice')}) AS BIGINT) AS weight
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment
),
s AS (
  SELECT c_mktsegment, weight,
         SUM(weight) OVER () AS total,
         (1000000 * weight) // SUM(weight) OVER () AS base,
         (1000000 * weight) % SUM(weight) OVER () AS rem
  FROM w
),
r AS (
  SELECT c_mktsegment, base,
         row_number() OVER (ORDER BY rem DESC, c_mktsegment) AS rr,
         1000000 - SUM(base) OVER () AS leftover
  FROM s
)
SELECT c_mktsegment,
       CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM r ORDER BY c_mktsegment
"""


def table_fingerprint_report(spark, sf_dir):
    """Order-independent table fingerprints — the replication/migration
    reconciliation primitive: two copies of a table match iff their
    fingerprints match, computable on each side WITHOUT moving rows.
    Per-row hash = first 12 hex digits of md5 over a canonical pipe-joined
    projection (12 digits keep the BIGINT sum of ~10⁸ rows far from
    overflow); table fingerprint = (row count, SUM of row hashes) — a
    commutative monoid, so ANY partitioning/engine/insertion order yields
    the same pair, and a single corrupted cell flips it.  One aggregation
    per table, map-side combinable.  Here: three tables' fingerprints in
    one report (the cross-engine hash-match IS the reconciliation)."""

    def fp(df, name, cols):
        canon = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        h = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long")
        return df.agg(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(h).alias("fingerprint"),
        )

    cust = fp(
        _t(spark, sf_dir, "customer"),
        "customer",
        ["c_custkey", "c_mktsegment"],
    )
    nat = fp(_t(spark, sf_dir, "nation"), "nation", ["n_nationkey", "n_name"])
    reg = fp(_t(spark, sf_dir, "region"), "region", ["r_regionkey", "r_name"])
    return cust.unionByName(nat).unionByName(reg).orderBy("tbl")


TABLE_FINGERPRINT_SQL = """
WITH f AS (
  SELECT 'customer' AS tbl, COUNT(*) AS n_rows,
         CAST(SUM(CAST(('0x' || substr(md5(concat_ws('|',
           CAST(c_custkey AS VARCHAR), c_mktsegment)), 1, 12)) AS BIGINT)) AS BIGINT)
           AS fingerprint
  FROM customer
  UNION ALL
  SELECT 'nation', COUNT(*),
         CAST(SUM(CAST(('0x' || substr(md5(concat_ws('|',
           CAST(n_nationkey AS VARCHAR), n_name)), 1, 12)) AS BIGINT)) AS BIGINT)
  FROM nation
  UNION ALL
  SELECT 'region', COUNT(*),
         CAST(SUM(CAST(('0x' || substr(md5(concat_ws('|',
           CAST(r_regionkey AS VARCHAR), r_name)), 1, 12)) AS BIGINT)) AS BIGINT)
  FROM region
)
SELECT tbl, n_rows, fingerprint FROM f ORDER BY tbl
"""


def rfm_segmentation_report(spark, sf_dir):
    """RFM segmentation — the classic customer-analytics feature build:
    per customer, Recency (days from last order to the corpus max date),
    Frequency (order count), Monetary (total cents); each dimension
    quartiled with ntile(4) and the 3-digit RFM segment reported as a
    histogram.  Plan shape: one groupBy builds the per-customer features,
    the max date rides a single-row broadcast (scalar subquery shape, not
    a global window over rows), and the three ntiles are unpartitioned
    windows over the CUSTOMER-level frame — one row per customer, the
    already-aggregated small relation, which is the documented exception
    to the no-global-window rule (same as `source_mixture_weights`).
    Ties order by customer key so quartile edges are deterministic."""
    o = _t(spark, sf_dir, "orders")
    feats = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_cents(F.col("o_totalprice"))).alias("monetary"),
    )
    maxd = o.agg(F.max(F.to_date("o_orderdate")).alias("maxd"))
    feats = feats.join(F.broadcast(maxd)).select(
        "o_custkey",
        F.datediff(F.col("maxd"), F.col("last_order")).alias("recency"),
        "frequency",
        "monetary",
    )
    wr = Window.orderBy("recency", "o_custkey")
    wf = Window.orderBy(F.desc("frequency"), "o_custkey")
    wm = Window.orderBy(F.desc("monetary"), "o_custkey")
    scored = feats.select(
        F.ntile(4).over(wr).alias("r"),
        F.ntile(4).over(wf).alias("f"),
        F.ntile(4).over(wm).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r", "f", "m")
    )


RFM_SQL = f"""
WITH feats AS (
  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_order,
         COUNT(*) AS frequency,
         CAST(SUM({_c('o_totalprice')}) AS BIGINT) AS monetary
  FROM orders GROUP BY o_custkey
),
maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
r AS (
  SELECT o_custkey,
         date_diff('day', last_order, maxd) AS recency, frequency, monetary
  FROM feats, maxd
),
scored AS (
  SELECT ntile(4) OVER (ORDER BY recency, o_custkey) AS r,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
  FROM r
)
SELECT r, f, m, COUNT(*) AS n_customers
FROM scored GROUP BY r, f, m ORDER BY r, f, m
"""


def ols_trend_by_segment(spark, sf_dir):
    """Exact per-group least-squares trend — slope and intercept of order
    value over order date per market segment, from INTEGER power sums
    (n, Σx, Σy, Σxy, Σx²) exactly like `corr_stats_exact`: one
    map-side-combinable aggregate per group, no second pass, no
    centering shuffle.  x = days since 1992-01-01 (date arithmetic, no
    timezone dependence); y = price cents.  The closed forms
    n·Σxy − Σx·Σy and n·Σx² − (Σx)² are computed in exact WIDE integers —
    Spark DECIMAL(38,0) == DuckDB HUGEINT — because n·Σxy overflows int64
    at sf0.1 (caught by the sf0.1 sweep); the one division per GROUP
    happens on correctly-rounded to-double conversions, rounded to 6.
    At 100 TB: one aggregation, 5 integer sums per group — regression as
    a monoid."""
    o = _t(spark, sf_dir, "orders").join(
        F.broadcast(_t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    # date-diff, not unix_timestamp: NTZ epoch extraction is session-
    # timezone-dependent and the driver runs a vanilla session
    x = F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01")).cast("long")
    y = _cents(F.col("o_totalprice"))
    sums = o.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    # closed forms in EXACT wide integers: n·Σxy overflows int64 at sf0.1
    # (n~3e4, Σxy~1e15) — Spark DECIMAL(38,0) == DuckDB HUGEINT, both
    # exact here, both correctly-rounded on the final to-double conversion
    dec = "decimal(38,0)"
    nn, sx, sy, sxy, sxx = (
        F.col(c).cast(dec) for c in ("n", "sx", "sy", "sxy", "sxx")
    )
    num = (nn * sxy - sx * sy).cast("double")
    den = (nn * sxx - sx * sx).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return sums.select(
        "c_mktsegment",
        "n",
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round(intercept, 6).alias("intercept_cents"),
    ).orderBy("c_mktsegment")


OLS_TREND_SQL = f"""
WITH j AS (
  SELECT c_mktsegment,
         CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
         {_c('o_totalprice')} AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
),
s AS (
  SELECT c_mktsegment, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM j GROUP BY c_mktsegment
)
SELECT c_mktsegment, n,
       round(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
         AS slope_cents_per_day,
       round((CAST(sy AS DOUBLE)
              - CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS intercept_cents
FROM s ORDER BY c_mktsegment
"""


def user_streaks_report(spark, sf_dir):
    """Gaps-and-islands — the classic SQL streak problem (longest run of
    consecutive active DAYS per user), solved with the canonical
    day − dense_rank trick: within a user, consecutive days share a
    constant (day − rank) island key, so streaks fall out of two window
    passes over the same user partition (ONE shuffle — both windows and
    the groupBys share the user-keyed exchange) and a per-island count.
    Output: per streak length, how many users have it as their LONGEST
    streak — the engagement histogram.  All integer day arithmetic."""
    ev = _events(spark, sf_dir)
    days = ev.select(
        "user_id", F.expr("ts div 86400000000").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("island"),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    longest = streaks.groupBy("user_id").agg(F.max("len").alias("best"))
    return (
        longest.groupBy("best")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("best")
    )


USER_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
islands AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, COUNT(*) AS len FROM islands GROUP BY user_id, island
),
longest AS (SELECT user_id, MAX(len) AS best FROM streaks GROUP BY user_id)
SELECT best, COUNT(*) AS n_users FROM longest GROUP BY best ORDER BY best
"""


def mutual_nn_pairs(spark, sf_dir):
    """Mutual nearest-neighbor pair mining — the bitext/parallel-data
    technique (each side's top-1 must agree before a pair is kept, which
    filters the asymmetric false matches plain top-1 retrieval keeps).
    Sides here are two embedding label groups; distances are exact
    integer L2 over fixed-point coordinates (hash-exact cross-engine).
    Scale shape: the exact all-pairs step runs WITHIN A BLOCK — side A
    (one label/bucket) broadcasts against side B, the deliberate
    bounded-build BNLJ every blocked similarity op in this repo uses; at
    corpus scale the blocks come from LSH/IVF assignment
    (`similarity.py`), and this is the in-bucket step.  Both directions'
    rank-1 come from two windows over ONE scored frame; mutuality is an
    equi-join of the two rank-1 sets."""
    emb = _heavy(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * 10000 + F.lit(0.5)).cast("long"),
    )
    a = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("a_id"), q.alias("qa")
    )
    b = emb.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("b_id"), q.alias("qb")
    )
    scored = b.join(F.broadcast(a), F.lit(True)).select(
        "a_id",
        "b_id",
        F.aggregate(
            F.zip_with("qa", "qb", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("dist2"),
    )
    wa = Window.partitionBy("a_id").orderBy("dist2", "b_id")
    wb = Window.partitionBy("b_id").orderBy("dist2", "a_id")
    ranked = scored.select(
        "a_id",
        "b_id",
        "dist2",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    return (
        ranked.filter((F.col("ra") == 1) & (F.col("rb") == 1))
        .select("a_id", "b_id", "dist2")
        .orderBy("a_id")
    )


_Q10K = (
    "list_transform({col}, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))"
)

MUTUAL_NN_SQL = f"""
WITH a AS (
  SELECT vec_id AS a_id, {_Q10K.format(col='embedding')} AS qa
  FROM embeddings WHERE label = 0
),
b AS (
  SELECT vec_id AS b_id, {_Q10K.format(col='embedding')} AS qb
  FROM embeddings WHERE label = 1
),
scored AS (
  SELECT a_id, b_id,
         list_sum(list_transform(generate_series(1, 64),
           i -> (qa[i] - qb[i]) * (qa[i] - qb[i]))) AS dist2
  FROM a, b
),
ranked AS (
  SELECT a_id, b_id, dist2,
         row_number() OVER (PARTITION BY a_id ORDER BY dist2, b_id) AS ra,
         row_number() OVER (PARTITION BY b_id ORDER BY dist2, a_id) AS rb
  FROM scored
)
SELECT a_id, b_id, CAST(dist2 AS BIGINT) AS dist2
FROM ranked WHERE ra = 1 AND rb = 1 ORDER BY a_id
"""


def expectations_audit_report(spark, sf_dir):
    """Declarative data-quality expectations — the validation gate a
    pipeline runs before publishing a batch (Great-Expectations shape,
    compiled to Spark aggregates): each expectation is a row-local
    violation predicate, ALL single-table checks evaluate in ONE pass per
    table (conditional-sum aggregation — adding a check adds a column,
    not a scan), and the referential check is one broadcast-dim anti-join
    count.  Output: one row per expectation with its violation count and
    pass flag — the table a publish gate asserts on.  At 100 TB: two fact
    scans total (orders checks ride one aggregate; referential anti-join
    is the second), dims broadcast."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")

    def row(name, viol):
        return F.struct(
            F.lit(name).alias("expectation"), viol.alias("n_violations")
        )

    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    cust_checks = cust.select(
        F.array(
            row("customer.custkey_not_null", cnt(F.col("c_custkey").isNull())),
            row(
                "customer.acctbal_in_range",
                cnt(~F.col("c_acctbal").between(-1000.0, 10000.0)),
            ),
            row(
                "customer.mktsegment_in_set",
                cnt(
                    ~F.col("c_mktsegment").isin(
                        "AUTOMOBILE", "BUILDING", "FURNITURE",
                        "HOUSEHOLD", "MACHINERY",
                    )
                ),
            ),
            row(
                "customer.custkey_unique",
                (F.count(F.lit(1)) - F.countDistinct("c_custkey")).cast("long"),
            ),
        ).alias("checks")
    )
    order_checks = orders.select(
        F.array(
            row("orders.totalprice_positive", cnt(F.col("o_totalprice") <= 0)),
            row(
                "orders.status_in_set",
                cnt(~F.col("o_orderstatus").isin("F", "O", "P")),
            ),
        ).alias("checks")
    )
    # referential integrity: orphan orders (no matching customer) — the
    # one check that needs a second relation; broadcast anti-join count
    orphans = (
        orders.join(
            F.broadcast(cust.select("c_custkey")),
            orders["o_custkey"] == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.array(
                row("orders.custkey_references_customer", F.col("n"))
            ).alias("checks")
        )
    )
    return (
        cust_checks.unionByName(order_checks)
        .unionByName(orphans)
        .select(F.explode("checks").alias("c"))
        .select(
            F.col("c.expectation").alias("expectation"),
            F.col("c.n_violations").alias("n_violations"),
            (F.col("c.n_violations") == 0).alias("passed"),
        )
        .orderBy("expectation")
    )


EXPECTATIONS_SQL = """
WITH c AS (
  SELECT 'customer.custkey_not_null' AS expectation,
         CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
  FROM customer
  UNION ALL
  SELECT 'customer.acctbal_in_range',
         CAST(SUM(CASE WHEN c_acctbal NOT BETWEEN -1000.0 AND 10000.0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'customer.mktsegment_in_set',
         CAST(SUM(CASE WHEN c_mktsegment NOT IN
           ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
           THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'customer.custkey_unique',
         CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'orders.totalprice_positive',
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders.status_in_set',
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders.custkey_references_customer',
         CAST(COUNT(*) AS BIGINT)
  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
)
SELECT expectation, n_violations, n_violations = 0 AS passed
FROM c ORDER BY expectation
"""


def recursive_bom_closure_report(spark, sf_dir):
    """Recursive-CTE parity — Spark has no WITH RECURSIVE, so the
    bill-of-materials explosion (transitive closure of a containment
    hierarchy) runs as bounded-depth frontier iteration: each level is
    ONE shuffle join of the previous frontier against the edge table on
    the frontier's tail key, unioned into the closure.  The oracle runs
    DuckDB's NATIVE ``WITH RECURSIVE`` over the same edges, so the
    contract proves the iterative expansion computes exactly the
    recursive-CTE answer.  Hierarchy (deterministic, from fixture parts):
    part p's parent is p div 10 (a forest, so (ancestor, descendant)
    paths are unique and need no per-level dedup; for DAG inputs you'd
    add a distinct per frontier).  At scale: depth-bounded iterations,
    edges reused across levels (persist once), frontier shuffles on the
    join key — the standard relational stand-in for recursion, same
    shape as `dedup.py`'s bounded min-label connected components.
    Output: per depth, path count and exact descendant-key total."""
    p = _t(spark, sf_dir, "part").select("p_partkey")
    edges = (
        p.filter(F.col("p_partkey") >= 10)
        .select(
            (F.col("p_partkey") / 10).cast("long").alias("parent"),
            F.col("p_partkey").alias("child"),
        )
        .persist()
    )
    try:
        frontier = edges.select(
            F.col("parent").alias("ancestor"),
            F.col("child").alias("descendant"),
            F.lit(1).alias("depth"),
        )
        closure = frontier
        for _ in range(2):
            # alias both sides: the frontier derives from edges, so the
            # self-join needs qualified names
            f, e = frontier.alias("f"), edges.alias("e")
            frontier = f.join(
                e, F.col("f.descendant") == F.col("e.parent")
            ).select(
                F.col("f.ancestor").alias("ancestor"),
                F.col("e.child").alias("descendant"),
                (F.col("f.depth") + 1).alias("depth"),
            )
            closure = closure.unionByName(frontier)
        out = (
            closure.groupBy("depth")
            .agg(
                F.count(F.lit(1)).alias("n_paths"),
                F.sum("descendant").alias("sum_desc"),
            )
            .orderBy("depth")
        )
        rows = out.collect()  # ≤3 rows; lets the persisted edges release
    finally:
        edges.unpersist(blocking=False)
    return spark.createDataFrame(rows, out.schema)


RECURSIVE_BOM_SQL = """
WITH RECURSIVE edges AS (
  SELECT CAST(p_partkey // 10 AS BIGINT) AS parent, p_partkey AS child
  FROM part WHERE p_partkey >= 10
),
anc AS (
  SELECT parent AS ancestor, child AS descendant, 1 AS depth FROM edges
  UNION ALL
  SELECT a.ancestor, e.child, a.depth + 1
  FROM anc a JOIN edges e ON e.parent = a.descendant
  WHERE a.depth < 3
)
SELECT CAST(depth AS INTEGER) AS depth, COUNT(*) AS n_paths,
       CAST(SUM(descendant) AS BIGINT) AS sum_desc
FROM anc GROUP BY depth ORDER BY depth
"""


def interval_concurrency_report(spark, sf_dir):
    """Interval-overlap concurrency — 'how many sessions were active each
    hour', the load-profile question interval trees answer on one
    machine, recast as a bounded coverage explode: per-user-per-day
    activity spans [first event, last event] become one row per covered
    hour (fan-out ≤ 24, hard-bounded by the daily clip), then one groupBy
    counts active sessions and distinct users per hour.  No global
    sweep-line sort, no single-partition window — the classic +1/-1
    running-sum formulation needs a TOTAL order over boundaries, which at
    100 TB means the two-level bucket prefix-sum this hourly bucketing IS.
    All time arithmetic on BIGINT epoch-micros (integer div), hash-exact
    cross-engine."""
    ev = _events(spark, sf_dir)
    hour_us = 3_600_000_000
    day_us = 86_400_000_000
    spans = ev.groupBy(
        "user_id", F.expr(f"ts div {day_us}").alias("day")
    ).agg(
        F.expr(f"min(ts) div {hour_us}").alias("h0"),
        F.expr(f"max(ts) div {hour_us}").alias("h1"),
    )
    covered = spans.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("hr")
    )
    return (
        covered.groupBy("hr")
        .agg(
            F.count(F.lit(1)).alias("n_active_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hr")
    )


INTERVAL_CONCURRENCY_SQL = """
WITH s AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         MIN(epoch_us(ts)) // 3600000000 AS h0,
         MAX(epoch_us(ts)) // 3600000000 AS h1
  FROM events GROUP BY user_id, day
),
covered AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS hr FROM s)
SELECT hr, COUNT(*) AS n_active_sessions,
       COUNT(DISTINCT user_id) AS n_users
FROM covered GROUP BY hr ORDER BY hr
"""


def scd2_dimension_pit_report(spark, sf_dir):
    """Slowly-changing-dimension Type 2 build + point-in-time join — the
    warehouse pattern for 'what did the dimension say WHEN the fact
    happened': attribute-change events (signup/click) become versioned
    dimension rows with [valid_from, valid_to) intervals via one lead()
    window per key; purchase facts then join the version active at their
    timestamp.  Interval semantics make the match exact: versions
    partition each key's timeline (half-open, lead()-chained), so every
    fact matches AT MOST one version — no dedup needed after the join.
    Scale shape: the interval build is one window shuffle on the key; the
    PIT join is a plain equi-join on the key with a row-local interval
    filter, fan-out bounded by versions-per-key (for high-churn keys
    you'd as-of-bucket the fact side first, `asof_purchase_last_view`'s
    technique).  Facts before any version report under version 0.
    Output: per version ordinal, purchase count and exact value total."""
    ev = _events(spark, sf_dir)
    upd = ev.filter(F.col("event_type").isin("signup", "click")).select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = upd.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), _cents(F.col("value")).alias("p_cents")
    )
    pit = facts.join(
        dim,
        (facts["user_id"] == dim["user_id"])
        & (dim["valid_from"] <= facts["p_ts"])
        & (dim["valid_to"].isNull() | (facts["p_ts"] < dim["valid_to"])),
        "left",
    )
    return (
        pit.groupBy(F.coalesce(dim["version"], F.lit(0)).alias("version"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("p_cents").alias("sum_cents"),
        )
        .orderBy("version")
    )


SCD2_PIT_SQL = f"""
WITH upd AS (
  SELECT user_id, epoch_us(ts) AS ts, event_id FROM events
  WHERE event_type IN ('signup', 'click')
),
dim AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
         ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM upd
),
facts AS (
  SELECT user_id, epoch_us(ts) AS p_ts, {_c('value')} AS p_cents FROM events
  WHERE event_type = 'purchase'
)
SELECT COALESCE(d.version, 0) AS version,
       COUNT(*) AS n_purchases,
       CAST(SUM(p_cents) AS BIGINT) AS sum_cents
FROM facts f LEFT JOIN dim d
  ON f.user_id = d.user_id AND d.valid_from <= f.p_ts
 AND (d.valid_to IS NULL OR f.p_ts < d.valid_to)
GROUP BY COALESCE(d.version, 0) ORDER BY version
"""


def mor_delete_lifecycle_report(spark, sf_dir):
    """Merge-on-read DELETE lifecycle through the REAL table layer
    (`ParquetTable.delete_keys_mor`): each delete commits a new version
    that hardlinks the base's files and writes only the matched KEYS, as
    tombstones under the version's `_tombstones/` — O(keys) per DELETE
    instead of `delete_where`'s O(table) rewrite (the Delta/Iceberg v2
    deletion-vector cost shape; unit tests in
    tests/test_partitioned_table.py assert the data files keep their
    inodes).
    Lifecycle hash-gated here: (1) MOR-delete a 1/16 md5 key sample →
    reads anti-join the tombstones; (2) compact() folds the tombstones
    into the next snapshot (stage values must be IDENTICAL before and
    after the fold); (3) a second MOR delete stacks on the folded
    snapshot.  Per-segment counts and balance totals at each stage."""
    import shutil
    import tempfile

    from unstructured_data_pipeline_spark.operators.dml import ParquetTable

    cust = _t(spark, sf_dir, "customer")
    root = tempfile.mkdtemp(prefix="udp_mor_")
    t = ParquetTable(spark, root, "customers_mor", cust.schema)
    t.append(cust)
    digit = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1)

    def stage(label: str):
        return (
            t.read()
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_customers"),
                F.sum(_cents(F.col("c_acctbal"))).alias("sum_cents"),
            )
            .select(F.lit(label).alias("stage"), "c_mktsegment", "n_customers", "sum_cents")
        )

    # Each stage must MATERIALIZE before the next mutation: a lazy stage
    # plan still references the tombstone/snapshot files that compact()'s
    # GC removes.  The collects are the per-segment report (≤5 rows each),
    # never the data.
    t.delete_keys_mor(cust.filter(digit == "0").select("c_custkey"), ["c_custkey"])
    s1 = stage("post_mor")
    rows = s1.collect()
    t.compact(target_files=2)
    rows += stage("post_fold").collect()
    t.delete_keys_mor(cust.filter(digit == "1").select("c_custkey"), ["c_custkey"])
    rows += stage("post_mor2").collect()
    shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, s1.schema).orderBy("stage", "c_mktsegment")


MOR_DELETE_SQL = f"""
WITH d0 AS (
  SELECT * FROM customer
  WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) <> '0'
),
d01 AS (
  SELECT * FROM d0
  WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) <> '1'
),
s AS (
  SELECT 'post_mor' AS stage, c_mktsegment, COUNT(*) AS n_customers,
         CAST(SUM({_c('c_acctbal')}) AS BIGINT) AS sum_cents
  FROM d0 GROUP BY c_mktsegment
  UNION ALL
  SELECT 'post_fold', c_mktsegment, COUNT(*),
         CAST(SUM({_c('c_acctbal')}) AS BIGINT)
  FROM d0 GROUP BY c_mktsegment
  UNION ALL
  SELECT 'post_mor2', c_mktsegment, COUNT(*),
         CAST(SUM({_c('c_acctbal')}) AS BIGINT)
  FROM d01 GROUP BY c_mktsegment
)
SELECT * FROM s ORDER BY stage, c_mktsegment
"""


TRAIN_SPLIT_SQL = """
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'e' THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
FROM documents GROUP BY split, lang ORDER BY split, lang
"""



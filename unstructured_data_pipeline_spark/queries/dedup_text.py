"""24-29: dedup + text analysis (training-data-pipeline operators)

(split from the flat queries.py, round 10 - content unchanged)"""

from __future__ import annotations

from ._common import DD, F, TX, Window, _events, _heavy, _t, ensure_min_parallelism

# ---------------------------------------------------------------------------
# 24-29: dedup + text analysis (training-data-pipeline operators)


def _dedup_exact_corpus(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return d.unionByName(dup)


def dedup_exact_groups(spark, sf_dir):
    """Exact dedup via content-hash groupBy; corpus has planted duplicates
    (every doc_id % 7 == 0 re-appears under a new id)."""
    corpus = _dedup_exact_corpus(spark, sf_dir)
    groups = DD.exact_dedup(corpus, "doc_id", "text")
    return groups.filter(F.col("dup_count") > 1)


DEDUP_EXACT_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
)
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
       MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
FROM corpus
GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY canonical_id
"""


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup detection, fully oracle-checked: word-3-gram
    shingles -> 8 MinHashes (16-bit md5 slices) -> 4x2 banded LSH -> exact
    Jaccard >= 0.5 on candidates.  Corpus plants near-duplicates (doc_id % 5
    == 0 re-appears with its first word dropped)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    near = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 2, 1000000), " ").alias("text"),
    )
    corpus = d.unionByName(near)
    return DD.near_dup_pairs(
        corpus, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.5
    )


_MH_MINS = ", ".join(f"MIN(substr(md5(s), {k * 4 + 1}, 4)) AS mh{k}" for k in range(8))
_BAND_CASE = (
    "CASE b WHEN 0 THEN md5(mh0 || '#' || mh1) "
    "WHEN 1 THEN md5(mh2 || '#' || mh3) "
    "WHEN 2 THEN md5(mh4 || '#' || mh5) "
    "ELSE md5(mh6 || '#' || mh7) END"
)

DEDUP_MINHASH_SQL = f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, array_to_string(string_split(text, ' ')[2:], ' ')
  FROM documents WHERE doc_id % 5 = 0
),
toks AS (SELECT id, string_split(text, ' ') AS w FROM corpus),
sh AS (
  SELECT DISTINCT id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM toks
),
mh AS (SELECT id, {_MH_MINS} FROM sh GROUP BY id),
bands AS (
  SELECT id, b, {_BAND_CASE} AS sig
  FROM mh, (VALUES (0), (1), (2), (3)) t(b)
),
cand AS (
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig AND x.id < y.id
),
cnt AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT c.a, c.b, COUNT(*) AS i
  FROM cand c
  JOIN sh x ON x.id = c.a
  JOIN sh y ON y.id = c.b AND y.s = x.s
  GROUP BY c.a, c.b
)
SELECT a, b, CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
FROM inter JOIN cnt na ON na.id = a JOIN cnt nb ON nb.id = b
WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
"""


def incremental_dedup_report(spark, sf_dir):
    """CONTINUOUS-INGESTION dedup, hash-gated end-to-end: the corpus
    (documents + planted exact copies %7 and near copies %5) arrives as
    three batches (id % 3); each batch is flagged against the accumulated
    LSH band-key index (`operators/dedup.IncrementalLshDedup`: row-local
    signatures, bucket equi-join vs the index table, exact-Jaccard verify
    against raw text, then the batch's bands and batch id committed as one
    version of the ParquetTable index).  A doc is a duplicate iff some verified match was
    seen first (earlier batch, or same batch with smaller id) — the index
    keeps every doc's bands, so the whole sequential history is
    recomputable by the one-shot DuckDB mirror.  Output: per-batch
    (n_docs, n_dups, n_kept).  The driver row therefore covers the
    stateful multi-batch path: index create -> 3x (read, verify, append
    commit) -> report."""
    import tempfile

    from unstructured_data_pipeline_spark.operators.dedup import IncrementalLshDedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    exact_extra = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near_extra = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 2, 1000000), " ").alias("text"),
    )
    # persisted: every batch pass re-reads the corpus (its own rows for
    # signatures, the whole lookup for verification); the verify-side
    # shingle arrays are likewise computed once and shared across batches
    from unstructured_data_pipeline_spark.operators.dedup import shingle_arrays

    corpus = d.unionByName(exact_extra).unionByName(near_extra).persist()
    corpus_sh = shingle_arrays(corpus, "doc_id", "text", 3).persist()
    root = tempfile.mkdtemp(prefix="udp_incdedup_")
    inc = IncrementalLshDedup(spark, root, num_hashes=8, bands=4, n=3, threshold=0.5)
    frames = []
    for b in (0, 1, 2):
        batch = corpus.filter(F.col("doc_id") % 3 == b)
        flags = inc.process_batch(batch, corpus, b, corpus_shingles=corpus_sh)
        frames.append(flags.withColumn("batch_id", F.lit(b).cast("long")))
    allf = frames[0].unionByName(frames[1]).unionByName(frames[2])
    out = (
        allf.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dups"),
            F.sum((~F.col("is_dup")).cast("long")).alias("n_kept"),
        )
        .orderBy("batch_id")
    )
    corpus_sh.unpersist()
    corpus.unpersist()
    return out


INCREMENTAL_DEDUP_SQL = f"""
WITH corpus AS (
  SELECT doc_id AS id, text, doc_id % 3 AS batch FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, (doc_id + 1000000) % 3
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 3000000, array_to_string(string_split(text, ' ')[2:], ' '),
         (doc_id + 3000000) % 3
  FROM documents WHERE doc_id % 5 = 0
),
toks AS (SELECT id, string_split(text, ' ') AS w FROM corpus),
sh AS (
  SELECT DISTINCT id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM toks
),
mh AS (SELECT id, {{mins}} FROM sh GROUP BY id),
bands AS (
  SELECT id, b, {{band_case}} AS sig
  FROM mh, (VALUES (0), (1), (2), (3)) t(b)
),
cand AS (
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig AND x.id < y.id
),
cnt AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT c.a, c.b, COUNT(*) AS i
  FROM cand c
  JOIN sh x ON x.id = c.a
  JOIN sh y ON y.id = c.b AND y.s = x.s
  GROUP BY c.a, c.b
),
pairs AS (
  SELECT a, b
  FROM inter JOIN cnt na ON na.id = a JOIN cnt nb ON nb.id = b
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
),
-- seen-first rule: the dup side of each verified pair is the one NOT seen
-- first (later batch, or same batch with the larger id)
dups AS (
  SELECT DISTINCT CASE
    WHEN ca.batch < cb.batch THEN p.b
    WHEN cb.batch < ca.batch THEN p.a
    ELSE p.b  -- same batch: a < b by construction, so b is the duplicate
  END AS id
  FROM pairs p
  JOIN corpus ca ON ca.id = p.a
  JOIN corpus cb ON cb.id = p.b
)
SELECT c.batch AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       CAST(SUM(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM corpus c LEFT JOIN dups d ON d.id = c.id
GROUP BY c.batch ORDER BY c.batch
""".format(mins=_MH_MINS, band_case=_BAND_CASE)


def dedup_clusters_report(spark, sf_dir):
    """Connected-components cluster assignment over the (already
    oracle-verified) MinHash-LSH near-dup pairs — this graduates the
    ITERATIVE min-label algorithm (`operators/dedup.dedup_clusters`) to a
    full hash gate: the DuckDB mirror computes the identical components via
    recursive-CTE transitive closure.  Output: (doc_id, cluster_id,
    cluster_size) for every node of the pair graph."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    near = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 2, 1000000), " ").alias("text"),
    )
    corpus = d.unionByName(near)
    pairs = DD.near_dup_pairs(
        corpus, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.5
    )
    clusters = DD.dedup_clusters(pairs)
    wsz = Window.partitionBy("cluster_id")
    return (
        clusters.select(
            F.col("id").alias("doc_id"),
            "cluster_id",
            F.count(F.lit(1)).over(wsz).alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
{DEDUP_MINHASH_SQL}
),
edges AS (
  SELECT a AS x, b AS y FROM pairs UNION SELECT b AS x, a AS y FROM pairs
),
nodes AS (SELECT DISTINCT x AS id FROM edges),
reach AS (
  SELECT id AS node, id AS label FROM nodes
  UNION
  SELECT e.y AS node, r.label FROM reach r JOIN edges e ON e.x = r.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp ORDER BY doc_id
"""


def corpus_curation_report(spark, sf_dir):
    """The end-to-end training-data curation decision, as ONE oracle-backed
    report: every document gets a status by first-match precedence —

      exact_dup   not the canonical (min-id) copy of its content hash
      near_dup    the larger id of an exact-Jaccard >= 0.5 pair among
                  exact-dedup survivors (greedy keep-the-min rule)
      lang_filtered  outside the kept-language set
      low_quality    n_tokens < 15 or unique-token ratio < 0.5
      kept        everything else — what a pretraining run would ingest

    Corpus plants both duplicate kinds (%7 exact copies, %5 first-word-
    dropped near copies).  This composes the dedup + quality + lang-id
    operators the way a real 100 TB curation pass chains them; every stage
    is deterministic, so the whole funnel hash-checks against DuckDB."""
    from unstructured_data_pipeline_spark.functions.text import fingerprint

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    exact_extra = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang"
    )
    near_extra = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 2, 1000000), " ").alias("text"),
        "lang",
    )
    corpus = d.unionByName(exact_extra).unionByName(near_extra)
    corpus = ensure_min_parallelism(corpus).persist()

    hashed = corpus.withColumn("h", fingerprint("text"))
    canon = hashed.groupBy("h").agg(F.min("doc_id").alias("canonical"))
    marked = hashed.join(canon, "h").withColumn(
        "is_exact_dup", F.col("doc_id") != F.col("canonical")
    )
    survivors = marked.filter(~F.col("is_exact_dup")).select("doc_id", "text")
    near_drop = (
        DD.ngram_jaccard_pairs(
            survivors, "doc_id", "text", n=3, threshold=0.5, prefix_filter=True
        )
        .select(F.col("b").alias("doc_id"))
        .distinct()
        .withColumn("_nd", F.lit(1))
    )
    toks = F.split(F.col("text"), " ")
    uniq_ratio = F.size(F.array_distinct(toks)) / F.size(toks)
    statused = marked.join(near_drop, "doc_id", "left").select(
        F.when(F.col("is_exact_dup"), "exact_dup")
        .when(F.col("_nd").isNotNull(), "near_dup")
        .when(~F.col("lang").isin("en", "es", "de", "fr"), "lang_filtered")
        .when((F.size(toks) < 15) | (uniq_ratio < 0.5), "low_quality")
        .otherwise("kept")
        .alias("status")
    )
    return (
        statused.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("status")
    )


CURATION_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 3000000, array_to_string(string_split(text, ' ')[2:], ' '), lang
  FROM documents WHERE doc_id % 5 = 0
),
hashed AS (
  SELECT doc_id, text, lang,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
  FROM corpus
),
canon AS (SELECT h, MIN(doc_id) AS canonical FROM hashed GROUP BY h),
marked AS (
  SELECT hashed.*, doc_id <> canonical AS is_exact_dup
  FROM hashed JOIN canon USING (h)
),
toks AS (SELECT doc_id AS id, string_split(text, ' ') AS w
         FROM marked WHERE NOT is_exact_dup),
sh AS (
  SELECT DISTINCT id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM toks
),
cnt AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT x.id AS a, y.id AS b, COUNT(*) AS i
  FROM sh x JOIN sh y ON y.s = x.s AND x.id < y.id
  GROUP BY 1, 2
),
neardrop AS (
  SELECT DISTINCT b AS doc_id
  FROM inter JOIN cnt na ON na.id = a JOIN cnt nb ON nb.id = b
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
),
statused AS (
  SELECT CASE
    WHEN m.is_exact_dup THEN 'exact_dup'
    WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
    WHEN m.lang NOT IN ('en', 'es', 'de', 'fr') THEN 'lang_filtered'
    WHEN len(string_split(m.text, ' ')) < 15
         OR CAST(len(list_distinct(string_split(m.text, ' '))) AS DOUBLE)
            / len(string_split(m.text, ' ')) < 0.5 THEN 'low_quality'
    ELSE 'kept' END AS status
  FROM marked m LEFT JOIN neardrop nd ON nd.doc_id = m.doc_id
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM statused GROUP BY status ORDER BY status
"""


def decontam_benchmark_overlap(spark, sf_dir):
    """Benchmark decontamination: flag training docs that share any word
    8-gram with a held-out benchmark split (doc_id % 17 == 0) — the
    standard pretraining-hygiene check (e.g. GPT-3 appendix C / PaLM
    13-gram overlap).  The fixture has little natural cross-doc 8-gram
    overlap, so every benchmark doc with doc_id % 34 == 0 is re-planted
    into the corpus under id+5000000 with its first word dropped —
    guaranteed contamination the filter must catch.

    Scale shape: DISTINCT gram sets per doc, benchmark grams reduced to one
    distinct set (bounded by benchmark size — broadcastable at real scale),
    one equi-join on the gram string.  Never all-pairs; cost is
    O(corpus grams + hits)."""
    d = _heavy(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 17 == 0)
    planted = bench.filter(F.col("doc_id") % 34 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 2, 1000000), " ").alias("text"),
    )
    corpus = d.filter(F.col("doc_id") % 17 != 0).unionByName(planted)

    def grams8(df):  # materialize the token array once (split is O(len))
        toks = df.select("doc_id", TX.tokens_ws("text").alias("w"))
        return toks.select(
            "doc_id",
            F.explode(
                F.array_distinct(TX.word_shingles_from_tokens(F.col("w"), 8))
            ).alias("s"),
        )

    bench_sh = grams8(bench).select("s").distinct()
    corp_sh = grams8(corpus)
    total = corp_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = corp_sh.join(bench_sh, "s").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        hits.join(total, "doc_id")
        .select(
            "doc_id",
            "n_overlap",
            "n_grams",
            F.round(F.col("n_overlap") / F.col("n_grams"), 6).alias(
                "contamination_rate"
            ),
        )
        .orderBy("doc_id")
    )


DECONTAM_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 5000000, array_to_string(string_split(text, ' ')[2:], ' ')
  FROM documents WHERE doc_id % 34 = 0
),
csh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 7),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                  || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]))
         AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus) t
),
bsh AS (
  SELECT DISTINCT
         unnest(list_transform(generate_series(1, len(w) - 7),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                  || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]))
         AS s
  FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 17 = 0) t
),
tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM csh GROUP BY doc_id),
hit AS (
  SELECT c.doc_id, COUNT(*) AS n_overlap
  FROM csh c JOIN bsh b ON b.s = c.s GROUP BY c.doc_id
)
SELECT h.doc_id, n_overlap, n_grams,
       ROUND(CAST(n_overlap AS DOUBLE) / n_grams, 6) AS contamination_rate
FROM hit h JOIN tot t ON t.doc_id = h.doc_id
ORDER BY h.doc_id
"""


def text_repetition_metrics(spark, sf_dir):
    """Gopher-style repetition signals per document (quality-filter rules
    for pretraining corpora): duplicate-word fraction and the char share of
    the most frequent word 2-gram.  All ratios from exact integer counts;
    top-gram ties resolved by taking the count (not the gram), so the
    output is order-free."""
    d = _heavy(spark, sf_dir, "documents")
    # materialize the token array once; derive every metric from it
    w = d.select("doc_id", TX.tokens_ws("text").alias("w"))
    toks = w.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_uniq"),
        TX.word_shingles_from_tokens(F.col("w"), 2).alias("grams"),
    )
    g = toks.select(
        "doc_id", "n_words", "n_uniq", F.explode("grams").alias("gram")
    )
    per_gram = g.groupBy("doc_id", "n_words", "n_uniq", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_gram.groupBy("doc_id", "n_words", "n_uniq")
        .agg(F.max("cnt").alias("top_bigram_cnt"), F.sum("cnt").alias("n_bigrams"))
        .select(
            "doc_id",
            "n_words",
            F.round(
                (F.col("n_words") - F.col("n_uniq")) / F.col("n_words"), 6
            ).alias("dup_word_frac"),
            "top_bigram_cnt",
            "n_bigrams",
            F.round(F.col("top_bigram_cnt") / F.col("n_bigrams"), 6).alias(
                "top_bigram_frac"
            ),
        )
        .orderBy("doc_id")
    )


REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
base AS (
  SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_uniq,
         list_transform(generate_series(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1]) AS grams
  FROM toks
),
g AS (
  SELECT doc_id, n_words, n_uniq, unnest(grams) AS gram FROM base
),
per_gram AS (
  SELECT doc_id, n_words, n_uniq, gram, COUNT(*) AS cnt
  FROM g GROUP BY doc_id, n_words, n_uniq, gram
)
SELECT doc_id, n_words,
       ROUND(CAST(n_words - n_uniq AS DOUBLE) / n_words, 6) AS dup_word_frac,
       CAST(MAX(cnt) AS BIGINT) AS top_bigram_cnt,
       CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_bigram_frac
FROM per_gram GROUP BY doc_id, n_words, n_uniq ORDER BY doc_id
"""


def embedding_quantize_int8(spark, sf_dir):
    """Int8 embedding quantization audit — the storage shape for
    billion-vector ANN: per-vector symmetric scale (max|v|/127), quantize
    with the cents trick, exact reconstruction-error bound.  All per-vector
    reductions are order-free (max / integer sum), so the whole audit is
    hash-checkable cross-engine.  Output per label: vector count, exact
    total of quantized values, worst reconstruction error."""
    emb = _heavy(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # two selects: materialize amax/scale once (no CSE inside HOF lambdas)
    scaled = emb.select(
        "vec_id",
        "label",
        "v",
        (
            F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0)
        ).alias("scale"),
    )
    s = F.col("scale")
    q = lambda x: F.when(s == 0.0, F.lit(0).cast("long")).otherwise(  # noqa: E731
        F.floor(x / s + F.lit(0.5)).cast("long")
    )
    per_vec = scaled.select(
        "label",
        F.aggregate(
            F.transform("v", q), F.lit(0).cast("long"), lambda a, b: a + b
        ).alias("sum_q"),
        F.array_max(
            F.transform("v", lambda x: F.abs(x - q(x).cast("double") * s))
        ).alias("max_err"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("sum_q").alias("sum_q_total"),
            F.round(F.max("max_err"), 6).alias("worst_err"),
        )
        .orderBy("label")
    )


EMB_QUANT_SQL = """
WITH scaled AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings
),
per_vec AS (
  SELECT label,
         list_reduce(list_transform(v,
           x -> CASE WHEN scale = 0.0 THEN CAST(0 AS BIGINT)
                     ELSE CAST(floor(x / scale + 0.5) AS BIGINT) END),
           (a, b) -> a + b) AS sum_q,
         list_max(list_transform(v,
           x -> abs(x - CASE WHEN scale = 0.0 THEN 0.0
                            ELSE floor(x / scale + 0.5) END * scale))) AS max_err
  FROM scaled
)
SELECT label, COUNT(*) AS n_vecs, CAST(SUM(sum_q) AS BIGINT) AS sum_q_total,
       ROUND(MAX(max_err), 6) AS worst_err
FROM per_vec GROUP BY label ORDER BY label
"""


def source_mixture_weights(spark, sf_dir):
    """Data-mixing plan: per-source token totals, corpus share, and the
    up/down-sampling weight that would equalize the mixture (uniform
    target).  Exact integer token counts; the tiny post-aggregation total
    comes from an unpartitioned window over the per-source rows (5 rows —
    never the raw data)."""
    d = _t(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count_ws("text").cast("long")).alias("tokens"),
    )
    w = Window.partitionBy()
    return (
        per_src.select(
            "source",
            "n_docs",
            "tokens",
            F.sum("tokens").over(w).alias("total_tokens"),
            F.count(F.lit(1)).over(w).alias("n_sources"),
        )
        .select(
            "source",
            "n_docs",
            "tokens",
            F.round(F.col("tokens") / F.col("total_tokens"), 6).alias("share"),
            F.round(
                F.col("total_tokens")
                / (F.col("n_sources") * F.col("tokens")),
                6,
            ).alias("uniform_weight"),
        )
        .orderBy("source")
    )


MIXTURE_SQL = """
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT source, n_docs, tokens,
         CAST(SUM(tokens) OVER () AS BIGINT) AS total_tokens,
         COUNT(*) OVER () AS n_sources
  FROM per_src
)
SELECT source, n_docs, tokens,
       ROUND(CAST(tokens AS DOUBLE) / total_tokens, 6) AS share,
       ROUND(CAST(total_tokens AS DOUBLE) / (n_sources * tokens), 6) AS uniform_weight
FROM tot ORDER BY source
"""


_KMV_K = 64
_HEX16_12 = 16**12  # 2^48 — the KMV hash-prefix denominator


def _kmv_val_sql(col: str) -> str:
    """BIGINT value of the first 12 hex nibbles of ``col`` (DuckDB side)."""
    terms = [
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1) * {16 ** (11 - i)}"
        for i in range(12)
    ]
    return "(" + " + ".join(terms) + ")"


def _kmv_val_spark(col) -> F.Column:
    """Same 12-nibble value, Spark side — identical integer arithmetic."""
    from unstructured_data_pipeline_spark.functions.text import hex_nibble_value

    val = F.lit(0).cast("long")
    for i in range(12):
        val = val + hex_nibble_value(F.substring(col, i + 1, 1)).cast("long") * F.lit(
            16 ** (11 - i)
        )
    return val


def kmv_distinct_sketch(spark, sf_dir):
    """K-minimum-values distinct-count sketch per event type — unlike HLL
    (``sketch_event_stats``, rows-only by necessity) KMV over md5 is fully
    DETERMINISTIC, so an approximate algorithm carries an exact oracle hash
    gate: estimate = (k-1) / fraction(k-th smallest hash), with the exact
    count used below k.  Scale shape: the per-group top-k runs as a
    rank-filter window (map-side partial via the distinct pre-aggregation);
    only k hashes per group survive to the final agg."""
    ev = _events(spark, sf_dir)
    pairs = ev.select("event_type", F.col("user_id").cast("string").alias("u")).distinct()
    h = pairs.select("event_type", F.md5(F.col("u")).alias("h"))
    w = Window.partitionBy("event_type").orderBy("h")
    topk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(F.max("h").alias("vk"), F.count(F.lit(1)).alias("n_le_k"))
    )
    totals = h.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    val = F.greatest(_kmv_val_spark(F.col("vk")), F.lit(1))
    est = F.when(F.col("n_users") < _KMV_K, F.col("n_users").cast("double")).otherwise(
        F.lit((_KMV_K - 1) * _HEX16_12) / val
    )
    return (
        topk.join(totals, "event_type")
        .select(
            "event_type",
            "n_users",
            F.round(est, 4).alias("kmv_estimate"),
            F.round(F.abs(est - F.col("n_users")) / F.col("n_users"), 4).alias(
                "rel_error"
            ),
        )
        .orderBy("event_type")
    )


KMV_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS u FROM events
),
h AS (SELECT event_type, md5(u) AS h FROM pairs),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
),
topk AS (
  SELECT event_type, MAX(h) AS vk, COUNT(*) AS n_le_k
  FROM ranked WHERE rn <= {_KMV_K} GROUP BY event_type
),
totals AS (SELECT event_type, COUNT(*) AS n_users FROM h GROUP BY event_type),
est AS (
  SELECT t.event_type, tot.n_users,
         CASE WHEN tot.n_users < {_KMV_K} THEN CAST(tot.n_users AS DOUBLE)
              ELSE {(_KMV_K - 1) * _HEX16_12} /
                   GREATEST({_kmv_val_sql('t.vk')}, 1)
         END AS est
  FROM topk t JOIN totals tot ON tot.event_type = t.event_type
)
SELECT event_type, n_users, ROUND(est, 4) AS kmv_estimate,
       ROUND(ABS(est - n_users) / n_users, 4) AS rel_error
FROM est ORDER BY event_type
"""


def kmeans_embeddings_clusters(spark, sf_dir):
    """Lloyd's k-means (k=8, 2 updates + final assignment) over the
    embeddings table — the semantic-clustering / data-mixing building
    block.  The ENTIRE iterative algorithm is oracle-checked: integer-
    quantized vectors, exact integer centroid state, and a sequential
    double fold for distances make every iteration bit-identical to the
    unrolled DuckDB mirror (see operators/clustering.py for the exactness
    contract and the 100 TB shape: the updates run driver-side on a
    deterministic md5-prefix sample of 100*k points — two corpus scans
    total (sample TakeOrdered + final assignment) — and the final
    assignment is row-local against literal centroids, so no point ever
    leaves its executor)."""
    from unstructured_data_pipeline_spark.operators import clustering as CL

    emb = _heavy(spark, sf_dir, "embeddings")
    return CL.kmeans_embeddings(
        emb, "vec_id", "embedding", k=8, iters=2, scale=1000
    )


def _kmeans_sql(
    train_cap: int,
    k: int = 8,
    d: int = 64,
    iters: int = 2,
    scale: int = 1000,
    source_sql: str | None = None,
    tail_sql: str | None = None,
    prefix: str = "",
    with_clause: bool = True,
) -> str:
    """Unrolled DuckDB mirror of ``operators/clustering.kmeans_embeddings``:
    same quantization, same sequential-fold distance (list_reduce == the
    aggregate HOF: every term is >= +0.0 so Spark's 0.0 initial accumulator
    is exact), same lowest-index tie-break, same empty-cluster carry.

    ``source_sql`` overrides the point source (must yield
    ``(vec_id, embedding)``); ``tail_sql`` replaces the final SELECT and
    may reference ``a{{iters+1}}`` (the final ``(id, x, k)`` assignment)
    and ``src`` — used by the SemDeDup oracle to consume assignments.
    ``prefix`` renames every CTE (``{{prefix}}pts`` etc.) and
    ``with_clause=False`` omits the leading WITH so several independent
    chains can stack in one statement — used by the per-subspace PQ oracle
    (one Lloyd's chain per subspace).  ``train_cap`` mirrors the engine's
    deterministic md5-sample training bound (``100 * k``): seeds and the
    Lloyd iterations read the ``cap`` points with the lowest
    ``md5(CAST(id AS VARCHAR))``; the FINAL assignment still covers every
    point."""
    dist = (
        f"list_reduce(list_transform(generate_series(1, {d}), "
        "i -> (p.x[i] - c.s[i]/c.n) * (p.x[i] - c.s[i]/c.n)), "
        "(acc, v) -> acc + v)"
    )
    source = source_sql or "SELECT vec_id, embedding FROM embeddings"
    P = prefix
    lead = "WITH " if with_clause else ",\n"
    train = f"{P}train"
    train_cte = f""",
{P}train AS (
  SELECT id, x FROM {P}pts ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {train_cap}
)"""
    parts = [
        f"""{lead}{P}src AS ({source}),
{P}pts AS (
  SELECT vec_id AS id,
         list_transform(embedding,
           v -> CAST(floor(CAST(v AS DOUBLE) * {scale} + 0.5) AS BIGINT)) AS x
  FROM {P}src
){train_cte},
{P}c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS k,
         x AS s, CAST(1 AS BIGINT) AS n
  FROM {train} ORDER BY id LIMIT {k}
)"""
    ]
    for it in range(1, iters + 2):
        prev = f"{P}c{it - 1}"
        # training iterations assign the sample; the final pass (iters+1)
        # assigns the full corpus — same split as the engine
        src_rel = train if it <= iters else f"{P}pts"
        parts.append(
            f""",
{P}a{it} AS (
  SELECT id, x, k FROM (
    SELECT p.id, p.x, c.k,
           row_number() OVER (PARTITION BY p.id ORDER BY {dist} ASC, c.k ASC) AS rn
    FROM {src_rel} p CROSS JOIN {prev} c
  ) WHERE rn = 1
)"""
        )
        if it <= iters:
            parts.append(
                f""",
{P}s{it} AS (
  SELECT k, g.i AS pos, CAST(SUM(x[g.i]) AS BIGINT) AS sv,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM {P}a{it}, generate_series(1, {d}) AS g(i) GROUP BY k, g.i
),
{P}c{it} AS (
  SELECT {prev}.k, COALESCE(agg.s, {prev}.s) AS s, COALESCE(agg.n, {prev}.n) AS n
  FROM {prev} LEFT JOIN (
    SELECT k, list(sv ORDER BY pos) AS s, MAX(cnt) AS n FROM {P}s{it} GROUP BY k
  ) agg ON agg.k = {prev}.k
)"""
            )
    parts.append(
        tail_sql
        if tail_sql is not None
        else f"""
SELECT k, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(x[1]) AS BIGINT) AS dim1_sum,
       CAST(SUM(list_reduce(x, (a, b) -> a + b)) AS BIGINT) AS total_q_sum,
       ROUND(CAST(SUM(x[1]) AS BIGINT) / CAST(COUNT(*) AS BIGINT), 6) AS centroid_dim1
FROM {P}a{iters + 1} GROUP BY k ORDER BY k"""
    )
    return "".join(parts)


KMEANS_SQL = _kmeans_sql(train_cap=800)


def pack_context_windows(spark, sf_dir):
    """Greedy context-window packing (budget 256 whitespace tokens) of the
    corpus into training-sequence packs, sharded by (lang, doc_id % 4) —
    sequential within a shard, parallel across shards via applyInPandas
    (see operators/packing.py).  Output is the per-pack manifest: size,
    token total, and fill rate against the budget."""
    from unstructured_data_pipeline_spark.operators import packing as PK

    d = _heavy(spark, sf_dir, "documents")
    docs = d.select(
        F.concat(
            F.col("lang"), F.lit("_"), (F.col("doc_id") % 4).cast("string")
        ).alias("shard"),
        F.col("doc_id").alias("id"),
        TX.token_count_ws("text").cast("long").alias("sz"),
    )
    packed = PK.pack_greedy(docs, "shard", "id", "sz", budget=256)
    return (
        packed.groupBy("shard", "pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("sz").alias("tokens"))
        .select(
            "shard",
            "pack_id",
            "n_docs",
            "tokens",
            F.round(F.col("tokens") / F.lit(256), 6).alias("fill_rate"),
        )
        .orderBy("shard", "pack_id")
    )


PACK_SQL = """
WITH RECURSIVE toks AS (
  SELECT lang || '_' || CAST(doc_id % 4 AS VARCHAR) AS shard, doc_id AS id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS sz
  FROM documents
),
ord AS (
  SELECT shard, id, sz,
         row_number() OVER (PARTITION BY shard ORDER BY id) AS rn
  FROM toks
),
packed AS (
  SELECT shard, id, sz, rn, CAST(0 AS BIGINT) AS pack_id, sz AS cur
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.id, o.sz, o.rn,
         CASE WHEN p.cur + o.sz > 256 THEN p.pack_id + 1 ELSE p.pack_id END,
         CASE WHEN p.cur + o.sz > 256 THEN o.sz ELSE p.cur + o.sz END
  FROM packed p JOIN ord o ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT shard, pack_id, COUNT(*) AS n_docs, CAST(SUM(sz) AS BIGINT) AS tokens,
       ROUND(CAST(SUM(sz) AS BIGINT) / 256, 6) AS fill_rate
FROM packed GROUP BY shard, pack_id ORDER BY shard, pack_id
"""


def stratified_sample_documents(spark, sf_dir):
    """Stratified deterministic sampling: per-language target rates applied
    via md5 hex-digit buckets (en 8/16, es 4/16, de 2/16, everything else
    1/16) — no RNG state, identical sample on any engine/cluster/
    partitioning, and the predicate evaluates at the scan.  Output is the
    per-stratum audit: population, sample size, target vs achieved rate."""
    d = _t(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    lang = F.col("lang")
    keep = (
        ((lang == "en") & h.isin(*"01234567"))
        | ((lang == "es") & h.isin(*"0123"))
        | ((lang == "de") & h.isin("0", "1"))
        | (~lang.isin("en", "es", "de") & (h == "0"))
    )
    target = (
        F.when(lang == "en", 0.5)
        .when(lang == "es", 0.25)
        .when(lang == "de", 0.125)
        .otherwise(0.0625)
    )
    return (
        d.select("lang", keep.cast("long").alias("kept"), target.alias("target_rate"))
        .groupBy("lang", "target_rate")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("kept").alias("n_sampled"))
        .select(
            "lang",
            "n_docs",
            "n_sampled",
            "target_rate",
            F.round(F.col("n_sampled") / F.col("n_docs"), 6).alias("achieved_rate"),
        )
        .orderBy("lang")
    )


STRATIFIED_SAMPLE_SQL = """
WITH h AS (
  SELECT lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hx,
         CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'es' THEN 0.25
              WHEN lang = 'de' THEN 0.125 ELSE 0.0625 END AS target_rate
  FROM documents
),
k AS (
  SELECT lang, target_rate,
         CASE WHEN (lang = 'en' AND hx IN ('0','1','2','3','4','5','6','7'))
                OR (lang = 'es' AND hx IN ('0','1','2','3'))
                OR (lang = 'de' AND hx IN ('0','1'))
                OR (lang NOT IN ('en','es','de') AND hx = '0')
              THEN 1 ELSE 0 END AS kept
  FROM h
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(kept) AS BIGINT) AS n_sampled,
       CAST(target_rate AS DOUBLE) AS target_rate,
       ROUND(CAST(SUM(kept) AS BIGINT) / COUNT(*), 6) AS achieved_rate
FROM k GROUP BY lang, target_rate ORDER BY lang
"""


def dedup_minhash_recall(spark, sf_dir):
    """Quality evidence for the MinHash-LSH dedup path: recall of the
    banded-LSH pairs against the EXACT Jaccard ground truth on the same
    corpus (precision is 1.0 by construction — candidates are verified with
    exact Jaccard before emission).  Both sides are deterministic (md5
    minhashes, exact SSJoin), so the whole metric carries a DuckDB oracle:
    the accuracy claim of the approximate operator is hash-checked, not
    asserted."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    near = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 2, 1000000), " ").alias("text"),
    )
    corpus = d.unionByName(near).persist()
    truth = DD.ngram_jaccard_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.5, prefix_filter=True
    ).select("a", "b")
    found = (
        DD.near_dup_pairs(
            corpus, "doc_id", "text", n=3, num_hashes=8, bands=4, threshold=0.5
        )
        .select("a", "b")
        .withColumn("_hit", F.lit(1))
    )
    out = (
        truth.join(found, ["a", "b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_found"),
        )
        .select(
            "n_true",
            "n_found",
            F.round(F.col("n_found") / F.col("n_true"), 6).alias("recall"),
        )
    )
    return out


_MINHASH_CORPUS_SQL = """
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, array_to_string(string_split(text, ' ')[2:], ' ')
  FROM documents WHERE doc_id % 5 = 0
"""


def _dedup_minhash_recall_sql() -> str:
    return f"""
WITH corpus AS ({_MINHASH_CORPUS_SQL}),
toks AS (SELECT id, string_split(text, ' ') AS w FROM corpus),
sh AS (
  SELECT DISTINCT id,
         unnest(list_transform(generate_series(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM toks
),
cnt AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
truth AS (
  SELECT a, b FROM (
    SELECT x.id AS a, y.id AS b, COUNT(*) AS i
    FROM sh x JOIN sh y ON y.s = x.s AND x.id < y.id
    GROUP BY 1, 2) t
  JOIN cnt na ON na.id = a JOIN cnt nb ON nb.id = b
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
),
mh AS (SELECT id, {_MH_MINS} FROM sh GROUP BY id),
bands AS (
  SELECT id, b, {_BAND_CASE} AS sig
  FROM mh, (VALUES (0), (1), (2), (3)) t(b)
),
cand AS (
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig AND x.id < y.id
),
found AS (
  SELECT c.a, c.b FROM (
    SELECT c.a, c.b, COUNT(*) AS i
    FROM cand c
    JOIN sh x ON x.id = c.a
    JOIN sh y ON y.id = c.b AND y.s = x.s
    GROUP BY c.a, c.b) c
  JOIN cnt na ON na.id = c.a JOIN cnt nb ON nb.id = c.b
  WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN f.a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       round(SUM(CASE WHEN f.a IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS recall
FROM truth t LEFT JOIN found f ON f.a = t.a AND f.b = t.b
"""


DEDUP_MINHASH_RECALL_SQL = _dedup_minhash_recall_sql()


def dedup_simhash(spark, sf_dir):
    """32-bit SimHash fingerprints (Charikar) over whitespace tokens."""
    d = _t(spark, sf_dir, "documents")
    return DD.simhash(d, "doc_id", "text", n_bits=32)


def _simhash_sql(n_bits: int = 32) -> str:
    votes = []
    for j in range(n_bits):
        nib = f"(strpos('0123456789abcdef', substr(m, {j // 4 + 1}, 1)) - 1)"
        bit = f"(({nib} >> {j % 4}) & 1)"
        votes.append(f"CAST(SUM(2 * {bit} - 1) AS BIGINT) AS v{j}")
    bit_str = " || ".join(
        f"CASE WHEN v{j} > 0 THEN '1' ELSE '0' END" for j in range(n_bits - 1, -1, -1)
    )
    return f"""
WITH toks AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT id, md5(tok) AS m FROM toks),
agg AS (SELECT id, {', '.join(votes)} FROM h GROUP BY id)
SELECT id, {bit_str} AS simhash FROM agg ORDER BY id
"""


DEDUP_SIMHASH_SQL = _simhash_sql(32)


def text_quality_metrics(spark, sf_dir):
    """Quality scoring: token counts, mean token length, stopword ratio,
    uniqueness ratio — all integer-exact until the final division."""
    d = _heavy(spark, sf_dir, "documents")
    toks = TX.tokens_ws("text")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        TX.avg_token_len("text").alias("avg_token_len"),
        TX.stopword_ratio("text", "en").alias("stopword_ratio"),
        TX.uniq_token_ratio("text").alias("uniq_ratio"),
    )


_SW_EN = "['the','a','and','of','to','in','is','it']"

TEXT_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
  len(w) AS n_tokens,
  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) AS avg_token_len,
  CAST(len(list_filter(w, x -> list_contains({_SW_EN}, lower(x)))) AS DOUBLE) / len(w)
    AS stopword_ratio,
  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS uniq_ratio
FROM t ORDER BY doc_id
"""


def token_counts(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex tokenizers + char length."""
    d = _heavy(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count_ws("text").cast("long").alias("n_tokens_ws"),
        TX.token_count_regex("text").cast("long").alias("n_tokens_re"),
        F.length("text").cast("long").alias("n_chars_calc"),
    )


TOKEN_COUNTS_SQL = rf"""
SELECT doc_id,
  len(string_split(text, ' ')) AS n_tokens_ws,
  len(regexp_extract_all(text, '{TX.TOKEN_REGEX}')) AS n_tokens_re,
  CAST(length(text) AS BIGINT) AS n_chars_calc
FROM documents ORDER BY doc_id
"""

# Fixed BPE merge table (priority order) — the pretrained-tokenizer shape:
# training happens once offline; APPLICATION is what runs at corpus scale.
# Pairs chosen for the fixture vocabulary (scan/join/batch/window/...).
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("a", "n"), ("e", "r"), ("i", "n"),
    ("o", "r"), ("s", "c"), ("sc", "an"), ("s", "t"), ("r", "e"),
    ("a", "t"), ("c", "h"), ("at", "ch"), ("b", "atch"), ("j", "o"),
    ("jo", "in"), ("w", "in"), ("win", "d"), ("wind", "o"),
    ("windo", "w"), ("k", "e"), ("ke", "y"),
]


def domain_quota_cap(spark, sf_dir, quota: int = 40):
    """Per-domain quota capping (the over-represented-source guard every
    web-scale curation pipeline runs): keep at most ``quota`` docs per
    source, selected by deterministic md5 order (RNG-free — identical
    sample on any engine/cluster/partitioning).

    Scale shape: the naive form is one row_number window per source — but a
    hot domain's ENTIRE row set then sorts in one task.  This
    implementation prunes with the md5 hex prefix: per-(source, 16-bucket)
    counts (map-side combinable) + a 16-row-per-source cumulative window
    decide each bucket wholly-kept / wholly-dropped / boundary; only the
    single boundary bucket (~1/16th of a domain) pays the row_number sort.
    The keep set is EXACTLY the naive top-``quota`` by (md5, doc_id) —
    bucket = first hex char, so (bucket, md5) ordering == md5 ordering —
    which is what the oracle computes naively."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    d = d.withColumn("b", F.substring("h", 1, 1))
    counts = d.groupBy("source", "b").agg(F.count(F.lit(1)).alias("cnt"))
    wc = (
        Window.partitionBy("source")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    status = counts.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(wc), F.lit(0))
    ).select(
        "source",
        "b",
        "cum_before",
        F.when(F.col("cum_before") + F.col("cnt") <= quota, F.lit("full"))
        .when(F.col("cum_before") >= quota, F.lit("drop"))
        .otherwise(F.lit("boundary"))
        .alias("st"),
    )
    # no forced broadcast: status is |sources| x 16 rows — tiny for the
    # fixture's 20 sources, but a web-scale corpus has millions of domains
    # and a forced broadcast would ship all of them to every executor.
    # AQE broadcasts automatically when the build side is actually small.
    tagged = d.join(status, on=["source", "b"])
    full = tagged.filter(F.col("st") == "full")
    wb = Window.partitionBy("source", "b").orderBy("h", "doc_id")
    boundary = (
        tagged.filter(F.col("st") == "boundary")
        .withColumn("_r", F.row_number().over(wb))
        .filter(F.col("_r") <= quota - F.col("cum_before"))
        .drop("_r")
    )
    kept = full.select("source", "doc_id").unionByName(
        boundary.select("source", "doc_id")
    )
    return (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            kept.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.min("doc_id").alias("min_kept_doc"),
            ),
            "source",
        )
        .orderBy("source")
    )


DOMAIN_QUOTA_SQL = """
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
  FROM documents
),
k AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(MIN(doc_id) AS BIGINT) AS min_kept_doc
  FROM ranked WHERE r <= 40 GROUP BY source
),
n AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
)
SELECT n.source, n.n_docs, k.n_kept, k.min_kept_doc
FROM n JOIN k ON n.source = k.source ORDER BY n.source
"""


def quality_weighted_sample(spark, sf_dir):
    """Quality-weighted deterministic sampling (the FineWeb-style
    score-proportional acceptance gate): each doc is kept with probability
    equal to its quality weight — here the unique-token ratio, a
    repetition-penalizing row-local proxy — by comparing the weight
    against an md5-derived uniform in [0,1).  NO RNG state: the same doc
    gets the same verdict on any engine, cluster size, partitioning, or
    re-run (reproducible training sets), and the whole gate evaluates at
    the scan.  The per-source report shows the importance-sampling
    property: achieved keep rate tracks the mean weight.  Scale: one
    map-side-combinable aggregation over scan-local expressions."""
    d = _heavy(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != ""
    )
    w = (
        F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(F.size(toks), F.lit(1)).cast("double")
    )
    u = _kmv_val_spark(F.md5(F.col("doc_id").cast("string"))).cast(
        "double"
    ) / F.lit(float(_HEX16_12))
    keep = (u < w).cast("long")
    # integer micro-weights: a double AVG would be aggregation-order
    # dependent; the micro-quantized SUM is exact on any partitioning
    w_micro = F.floor(w * 1e6 + F.lit(0.5)).cast("long")
    return (
        d.select("source", w_micro.alias("wm"), keep.alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.round(
                F.sum("wm") / (F.count(F.lit(1)) * F.lit(1e6)), 6
            ).alias("avg_weight"),
            F.round(F.sum("kept") / F.count(F.lit(1)), 6).alias("keep_rate"),
        )
        .orderBy("source")
    )


QUALITY_WEIGHTED_SQL = f"""
WITH scored AS (
  SELECT source,
         CAST(len(list_distinct(toks)) AS DOUBLE)
           / CAST(GREATEST(len(toks), 1) AS DOUBLE) AS w,
         CAST({_kmv_val_sql("md5(CAST(doc_id AS VARCHAR))")} AS DOUBLE)
           / {float(_HEX16_12)} AS u
  FROM (
    SELECT doc_id, source,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                       t -> t <> '') AS toks
    FROM documents
  )
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN u < w THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(SUM(CAST(FLOOR(w * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 1e6), 6) AS avg_weight,
       round(SUM(CASE WHEN u < w THEN 1 ELSE 0 END) / COUNT(*), 6)
         AS keep_rate
FROM scored GROUP BY source ORDER BY source
"""


def bpe_tokenize_report(spark, sf_dir):
    """BPE tokenization with a FIXED merge table — the production tokenizer
    shape (merges are trained once offline; application is the part that
    must run at 100 TB).  Each word is exploded to boundary-marked
    characters (``|a||b||c|``) and the 22 merges apply in priority order,
    each replaced EXHAUSTIVELY before the next (the deterministic
    apply-in-rank-order BPE variant; plain non-regex `replace` in both
    engines, so leftmost-non-overlapping semantics match exactly).  Output
    is the corpus-level top-30 subword histogram.  Scale: everything up to
    the final groupBy is row-local string work inside whole-stage codegen —
    no UDFs, no shuffle except the one count aggregation; the merge chain
    is a constant-depth expression tree independent of corpus size."""
    d = _heavy(spark, sf_dir, "documents")
    w = F.explode(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
    ).alias("w")
    enc = F.regexp_replace(F.col("w"), "(.)", "|$1|")
    for a, b in _BPE_MERGES:
        enc = F.replace(enc, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
    toks = (
        d.select(w)
        .select(enc.alias("e"))
        .select(F.expr("trim(BOTH '|' FROM e)").alias("e"))
        .select(F.explode(F.split("e", r"\|\|")).alias("tok"))
    )
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "tok")
        .limit(30)
    )


def _bpe_oracle_sql() -> str:
    enc = "regexp_replace(w, '(.)', '|\\1|', 'g')"
    for a, b in _BPE_MERGES:
        enc = f"replace({enc}, '|{a}||{b}|', '|{a}{b}|')"
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(lower(text), '[^a-z]+'), t -> t <> '')) AS w
  FROM documents
),
enc AS (SELECT {enc} AS e FROM toks),
bpe AS (SELECT unnest(string_split(trim(e, '|'), '||')) AS tok FROM enc)
SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM bpe GROUP BY tok ORDER BY n_occurrences DESC, tok LIMIT 30
"""


BPE_TOKENIZE_SQL = _bpe_oracle_sql()


_LANGS = [("en", TX.STOPWORDS["en"]), ("de", TX.STOPWORDS["de"]),
          ("es", TX.STOPWORDS["es"]), ("fr", TX.STOPWORDS["fr"])]


def text_lang_id(spark, sf_dir):
    """Language-ID heuristic: stopword hit counts per language, argmax with
    fixed priority en > de > es > fr, 'und' when nothing hits."""
    d = _heavy(spark, sf_dir, "documents")
    toks = TX.tokens_ws("text")
    hits = {}
    for code, words in _LANGS:
        sw = F.array(*[F.lit(w) for w in words])
        hits[code] = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    e, de, es, fr = hits["en"], hits["de"], hits["es"], hits["fr"]
    guess = (
        F.when(F.greatest(e, de, es, fr) == 0, "und")
        .when((e >= de) & (e >= es) & (e >= fr), "en")
        .when((de >= es) & (de >= fr), "de")
        .when(es >= fr, "es")
        .otherwise("fr")
    )
    return d.select(
        "doc_id", "lang", guess.alias("lang_guess"),
        (guess == F.col("lang")).alias("is_match"),
    )


def _lang_sql() -> str:
    cnt = {
        code: f"len(list_filter(w, x -> list_contains({str(words).replace(chr(34), chr(39))}, lower(x))))"
        for code, words in _LANGS
    }
    return f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
h AS (SELECT doc_id, lang, {cnt['en']} AS e, {cnt['de']} AS de, {cnt['es']} AS es, {cnt['fr']} AS fr FROM t)
SELECT doc_id, lang,
  CASE WHEN greatest(e, de, es, fr) = 0 THEN 'und'
       WHEN e >= de AND e >= es AND e >= fr THEN 'en'
       WHEN de >= es AND de >= fr THEN 'de'
       WHEN es >= fr THEN 'es' ELSE 'fr' END AS lang_guess,
  (CASE WHEN greatest(e, de, es, fr) = 0 THEN 'und'
        WHEN e >= de AND e >= es AND e >= fr THEN 'en'
        WHEN de >= es AND de >= fr THEN 'de'
        WHEN es >= fr THEN 'es' ELSE 'fr' END) = lang AS is_match
FROM h ORDER BY doc_id
"""


TEXT_LANG_SQL = _lang_sql()



"""Deduplication operators for training-data pipelines.

Four tiers, all pure DataFrame (no Python UDFs in any hot path):

* exact_dedup          — md5 fingerprint groupBy; one shuffle on the hash.
* MinHash + LSH        — word-shingle -> per-seed md5 MinHash -> banded
                         signatures -> bucket self-join -> exact Jaccard on
                         candidates only.  The classic near-dup pipeline
                         (Broder '97), scale path: the self-join happens per
                         LSH bucket, never all-pairs.
* simhash              — 32-bit Charikar fingerprint via bitwise sign-sums.
* n-gram Jaccard       — exact pairwise similarity, for candidate
                         verification (never call on a full corpus).

Determinism: every hash is md5-based (identical across Spark / DuckDB /
Python), so all of these are covered by the DuckDB value-hash oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.functions.text import (
    word_shingles_from_tokens,
    fingerprint,
    tokens_ws,
)
from unstructured_data_pipeline_spark.operators import graph
from unstructured_data_pipeline_spark.operators.partitioning import (
    ensure_min_parallelism,
)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-duplicate groups: one row per distinct content hash with the
    canonical (minimum) id and the duplicate count.  Filter
    ``dup_count > 1`` for the duplicates-only view."""
    return (
        ensure_min_parallelism(df)
        .select(F.col(id_col), fingerprint(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def lsh_band_keys(
    signatures: DataFrame, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """(id, band, sig) bucket keys from mh0..mhN signature columns — the
    join key both the batch self-join (:func:`lsh_candidate_pairs`) and the
    incremental index (:class:`IncrementalLshDedup`) bucket on.

    xxhash64 of the joined band rows: the sig is ONLY an equality key (never
    surfaced), so an 8-byte int key beats a 32-char md5 string in shuffle
    width and probe cost; the equivalence classes are identical to hashing
    the same concat with any other collision-free hash (oracles mirror with
    md5 and agree on the resulting candidate set)."""
    rows = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.concat_ws("#", *parts)).alias("sig"),
            )
        )
    return signatures.select(
        "id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))


def lsh_candidate_pairs(
    signatures: DataFrame, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Banded LSH: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any full band signature become a
    candidate pair.  Output: distinct (a, b) with a < b.

    The self-join is on the band hash — only docs in the same bucket meet,
    so cost is sum over buckets of |bucket|^2, not |corpus|^2.
    """
    buckets = lsh_band_keys(signatures, num_hashes, bands)

    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .distinct()
    )


def shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, sh) with sh = the DISTINCT shingle set as an array column —
    entirely row-local (no explode, no shuffle).  The per-doc array is
    bounded by document length, so it scales exactly like the text itself.
    The token array is materialized as its own projection first: lambda
    bodies get expression-inlined by Catalyst (no CSE inside ``transform``),
    so shingling directly off ``split(text)`` would re-split the text for
    every ``element_at`` — O(words^2) per document.  Input spread
    across cores first: shingling is the CPU-bound stage of every dedup
    pipeline, and a few-split scan would otherwise run it serially."""
    toks = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), tokens_ws(text_col).alias("w")
    )
    return toks.select(
        "id", F.array_distinct(word_shingles_from_tokens(F.col("w"), n)).alias("sh")
    )


def minhash_signature_cols(
    shingle_arrs: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """Per-id MinHash signature columns mh0..mhN from the shingle-array —
    ``array_min`` over md5-slice transforms, zero shuffle (vs the exploded
    groupBy formulation, which shuffles every (id, shingle) row).  One md5
    per shingle serves all hash functions via 4-hex-char slices.

    Docs with an empty shingle set (shorter than n words) are dropped —
    they have no MinHash (matches the exploded/groupBy semantics, and keeps
    all-null signatures from LSH-bucketing every short doc together)."""
    hashed = shingle_arrs.filter(F.size("sh") > 0).withColumn(
        "_hs", F.transform("sh", lambda s: F.md5(s))
    )
    mh = [
        F.array_min(
            F.transform("_hs", lambda h: F.substring(h, k * 4 + 1, 4))
        ).alias(f"mh{k}")
        for k in range(num_hashes)
    ]
    return hashed.select("id", "sh", *mh)


def jaccard_pairs_arr(shingle_arrs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs via ``array_intersect`` on the
    per-doc shingle arrays — two candidate-bounded equi-joins and a
    row-local intersection, vs five shuffles for the exploded posting-list
    formulation."""
    sa = shingle_arrs.select(F.col("id").alias("a"), F.col("sh").alias("sha"))
    sb = shingle_arrs.select(F.col("id").alias("b"), F.col("sh").alias("shb"))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .withColumn("_i", F.size(F.array_intersect("sha", "shb")))
        .select(
            "a",
            "b",
            (
                F.col("_i").cast("double")
                / (F.size("sha") + F.size("shb") - F.col("_i")).cast("double")
            ).alias("jaccard"),
        )
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> sign -> band -> verify.
    Returns (a, b, jaccard) pairs with jaccard >= threshold.

    Row-local formulation end-to-end: per-doc shingle ARRAYS (not exploded
    postings), array-min signatures, banded bucket self-join for candidates,
    array_intersect verify.  The only shuffles left are the LSH bucket join
    and the two candidate-bounded verify joins — at 100 TB nothing ever
    shuffles proportional to total shingle volume."""
    sh = shingle_arrays(df, id_col, text_col, n).persist()
    sigs = minhash_signature_cols(sh, num_hashes).drop("sh")
    cand = lsh_candidate_pairs(sigs, num_hashes, bands)
    return jaccard_pairs_arr(sh, cand).filter(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, id_col: str, text_col: str, n_bits: int = 32) -> DataFrame:
    """Charikar SimHash over whitespace tokens: per bit position, sum +1/-1
    votes across tokens (weighted by token multiplicity), bit = 1 iff the sum
    is positive.  Emitted as a ``n_bits``-char bit string (msb first).

    Implemented by exploding tokens then aggregating 32 conditional sums —
    one shuffle on the id, all JVM-side.
    """
    if n_bits > 32:
        raise ValueError("int-path simhash supports up to 32 bits (8 md5 nibbles)")
    toks = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), F.explode(tokens_ws(text_col)).alias("tok")
    )
    # One md5 + one hex->int conv per token; each bit is an integer shift/mask.
    # Bit numbering matches the nibble formulation (bit j = nibble j//4 of
    # the hex string, bit j%4 of its value): nibble i sits at integer bits
    # (7-i)*4..(7-i)*4+3, so shift = (7 - j//4)*4 + j%4 — the DuckDB oracle
    # keeps the per-nibble strpos form and the values are identical.
    hashed = toks.select(
        "id", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h")
    )
    votes = [
        F.sum(
            F.shiftright(F.col("h"), (7 - j // 4) * 4 + j % 4).bitwiseAND(F.lit(1)) * 2
            - 1
        ).alias(f"v{j}")
        for j in range(n_bits)
    ]
    agg = hashed.groupBy("id").agg(*votes)
    bit_strs = [
        F.when(F.col(f"v{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(n_bits - 1, -1, -1)
    ]
    return agg.select("id", F.concat(*bit_strs).alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool = True,
    verify_exact: bool = False,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs — no LSH approximation.

    With ``prefix_filter`` (the 100 TB shape): shingles get a global
    rarity order (count asc, shingle); each doc indexes only its rarest
    ``floor((1-t)*|doc|) + 1`` shingles.  Any pair with jaccard >= t must
    share an indexed shingle (pigeonhole on the >= t overlap), so the
    candidate self-join runs over the PREFIX postings — rare shingles with
    short posting lists — instead of the full inverted index whose
    ultra-common shingles dominate sum(|posting|^2); a PPJoin positional
    filter then tightens the candidate set (Chaudhuri et al.'s SSJoin /
    prefix filtering).

    Verification (``verify_exact``, ADVICE r3): the default verifies on
    xxhash64-hashed shingle arrays — 8-byte elements instead of shingle
    strings, the measured fixture-scale win (5.5s -> ~3.1s at sf0.1) and
    the right shuffle shape at scale; a 64-bit collision inside one pair's
    shingle sets (~2^-64 per pair) could then perturb that pair's reported
    jaccard — the SAME caveat the exhaustive path carries.
    ``verify_exact=True`` intersects the original shingle STRINGS instead:
    collision-proof output identical to an exhaustive string index, at the
    cost of shipping string arrays through the two verify joins (candidate
    sets are filter-bounded, so this stays affordable).

    Without ``prefix_filter``: full inverted-index self-join (fine at
    fixture scale, quadratic in posting-list length at scale).
    """
    sh = shingle_arrays(df, id_col, text_col, n)
    if not prefix_filter:
        # exhaustive index: count intersections straight off the posting
        # self-join (one groupBy, no distinct/verify passes needed).  The
        # posting key is xxhash64(shingle) — an 8-byte join key instead of
        # the shingle string; intersection counts are unchanged absent a
        # 64-bit collision within one document pair's shingle sets.
        post = sh.select(
            "id",
            F.size("sh").alias("sz"),
            F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("shingle"),
        )
        sa = post.select(F.col("id").alias("a"), F.col("sz").alias("na"), "shingle")
        sb = post.select(F.col("id").alias("b"), F.col("sz").alias("nb"), "shingle")
        inter = (
            sa.join(sb, "shingle")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b", "na", "nb")
            .agg(F.count(F.lit(1)).alias("i"))
        )
        return inter.select(
            "a",
            "b",
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            ).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)

    sh = sh.persist()  # reused: prefix postings + verify stage
    # postings carry xxhash64(shingle) — 8-byte shuffle keys / sort keys
    # instead of shingle strings.  Hashing here affects only CANDIDATE
    # generation (a collision can merge two shingles' postings and admit a
    # spurious candidate, never drop a true one — prefix membership per doc
    # is computed on the same hashed order both sides); with
    # ``verify_exact`` the string verify below rejects any such extras, so
    # the final output is collision-proof end-to-end.
    post = sh.select(
        "id",
        F.size("sh").alias("sz"),
        F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("shingle"),
    )
    # global rarity order = (freq, shingle-hash); the key itself is the
    # order — no rank window over the whole vocabulary needed.  freq via a
    # whole-partition count window: ONE shuffle of the postings on the
    # shingle key, vs groupBy + re-join which shuffles the postings twice
    # (measured ~15% off this query's wall time at sf0.1).
    ranked = post.withColumn(
        "freq", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    # +1e-9 inside the floor: when (1-t)*|s| is an exact integer the float
    # product can land just BELOW it (e.g. t=0.8: 1-t = 0.19999...96) and
    # floor would under-size the prefix by one, dropping boundary-exact
    # pairs.  The slack only ever rounds UP to the exact rational — a
    # one-longer prefix is always correct, never wrong.  (t=0.5, the
    # registry default, is exact in binary and unaffected.)
    prefix_len = (
        F.floor(F.col("sz") * (1.0 - threshold) + 1e-9) + 1
    ).cast("int")
    w = Window.partitionBy("id").orderBy("freq", "shingle")
    prefix = (
        ranked.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= prefix_len)
        .select("id", "sz", "shingle", "_r")
    )
    pa = prefix.select(
        F.col("id").alias("a"), F.col("sz").alias("sa"), "shingle",
        F.col("_r").alias("ra"),
    )
    pb = prefix.select(
        F.col("id").alias("b"), F.col("sz").alias("sb"), "shingle",
        F.col("_r").alias("rb"),
    )
    # positional filter (PPJoin, Xiao et al.): both docs' shingle lists are
    # sorted by the SAME global (freq, hash) order, so a shared shingle at
    # positions (ra, rb) caps the whole intersection —
    #   i <= min(ra-1, rb-1) + min(sa-ra, sb-rb) + 1
    # (common elements strictly before it + strictly after it + itself),
    # while J >= t forces i >= ceil(t*(sa+sb)/(1+t)).  min() over a pair's
    # shared prefix occurrences takes the TIGHTEST cap (every occurrence
    # upper-bounds i), and the aggregation dedups candidates in the same
    # shuffle the old ``.distinct()`` spent — the filter rides for free.
    # It prunes position-SKEWED matches only, so on the near-uniform
    # fixture corpus the reduction is small (~1% at sf0.1; the measured
    # 5.5s -> 3.1s there comes from the hashed-array verify below); on
    # real corpora with Zipfian shingle frequencies, where a doc's rare
    # shingles sit early in its order and spurious matches sit late, the
    # positional gap is what bounds the verify set.
    ub = (
        F.least(F.col("ra") - 1, F.col("rb") - 1)
        + F.least(F.col("sa") - F.col("ra"), F.col("sb") - F.col("rb"))
        + F.lit(1)
    )
    # 1e-9 slack: the float product must never round UP past the exact
    # rational i_min, which would wrongly prune a boundary-exact true pair
    i_min = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("sa") + F.col("sb")) - 1e-9
    )
    cand = (
        pa.join(pb, "shingle")
        .filter(F.col("a") < F.col("b"))
        # length filter: jaccard >= t forces t*max(|a|,|b|) <= min(|a|,|b|)
        # (i <= min and J = i/(na+nb-i)), pruning size-mismatched pairs
        # BEFORE the aggregation — the other classic SSJoin filter
        .filter(
            # 1e-9 slack: keep a float product from rounding just above
            # the exact rational and pruning a boundary-exact pair
            F.greatest("sa", "sb") * threshold - 1e-9 <= F.least("sa", "sb")
        )
        .groupBy("a", "b", "sa", "sb")
        .agg(F.min(ub).alias("_ub"))
        .filter(F.col("_ub") >= i_min)
        .select("a", "b")
    )
    # verify tier per the docstring: hashed arrays by default (the benched
    # fixture-scale and 100 TB shuffle shape), exact strings on request
    verify_src = (
        sh
        if verify_exact
        else sh.select("id", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh"))
    )
    return jaccard_pairs_arr(verify_src, cand).filter(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    min_shingles: int = 5,
) -> DataFrame:
    """ASYMMETRIC containment near-dup pairs: directed (a, b) where
    ``|A ∩ B| / |A| >= threshold`` — the short-doc-inside-long-doc case
    (quoted articles, boilerplate-wrapped copies, truncated mirrors) that
    symmetric Jaccard misses entirely: a 10-shingle doc fully contained in
    a 200-shingle doc has Jaccard ~0.05 but containment 1.0.

    Same prefix-filter scale shape as :func:`ngram_jaccard_pairs`, adapted
    to the asymmetric predicate: the pigeonhole applies only to the
    CONTAINED side — if C(a→b) >= t, then among a's
    ``floor((1-t)*|A|) + 1`` globally-rarest shingles at least one is in
    B — so only the A side indexes a prefix; the B side keeps full
    postings.  Candidates = prefix(A) ⋈ postings(B); a length filter
    (``|B| >= t*|A|``) prunes impossible pairs before the aggregation;
    verification intersects hashed shingle arrays (same ~2^-64 collision
    caveat as the Jaccard path).  Docs with fewer than ``min_shingles``
    shingles are excluded as the contained side (trivially-contained tiny
    fragments are noise, and the floor also bounds the prefix fraction).

    CACHE CONTRACT (caller-managed): the shingle relation is persisted
    because the returned lazy plan reads it FOUR times (prefix, postings,
    and both verify sides) — unpersisting here would quadruple the
    shingling work at action time.  Callers running many jobs in one
    session should ``spark.catalog.clearCache()`` (or unpersist) once the
    result is materialized; Spark's LRU eviction bounds the cost if they
    don't.
    """
    sh = shingle_arrays(df, id_col, text_col, n).persist()
    post = sh.select(
        "id",
        F.size("sh").alias("sz"),
        F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("shingle"),
    )
    ranked = post.withColumn(
        "freq", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    w = Window.partitionBy("id").orderBy("freq", "shingle")
    # C >= t forces i >= ceil(t*|A|), i.e. at most |A| - ceil(t*|A|) of A's
    # shingles miss B — the prefix must be ONE longer than that.  The 1e-9
    # slack keeps the float product from rounding UP past the exact
    # rational at boundary-exact containments (e.g. t=0.8, |A|=20: the
    # naive floor((1-t)|A|)+1 under-sizes the prefix by one and drops
    # C == 0.8 pairs — caught by the sf0.1 oracle sweep).
    i_min = F.ceil(F.col("sz") * threshold - 1e-9)
    prefix_len = (F.col("sz") - i_min + 1).cast("int")
    pa = (
        ranked.withColumn("_r", F.row_number().over(w))
        .filter((F.col("_r") <= prefix_len) & (F.col("sz") >= min_shingles))
        .select(F.col("id").alias("a"), F.col("sz").alias("sa"), "shingle")
    )
    pb = post.select(F.col("id").alias("b"), F.col("sz").alias("sb"), "shingle")
    cand = (
        pa.join(pb, "shingle")
        .filter(F.col("a") != F.col("b"))
        # |B| >= i >= ceil(t*|A|); same 1e-9 slack on the float product
        .filter(F.col("sb") >= F.ceil(F.col("sa") * threshold - 1e-9))
        .select("a", "b")
        .distinct()
    )
    hashed = sh.select(
        "id", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh")
    )
    ha = hashed.select(F.col("id").alias("a"), F.col("sh").alias("sha"))
    hb = hashed.select(F.col("id").alias("b"), F.col("sh").alias("shb"))
    return (
        cand.join(ha, "a")
        .join(hb, "b")
        .select(
            "a",
            "b",
            (
                F.size(F.array_intersect("sha", "shb")).cast("double")
                / F.size("sha").cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def dedup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over the near-dup pair graph: every node gets
    its component's MINIMUM id as cluster id — the "which copy survives"
    step after any pair-producing dedup (minhash / jaccard / embedding /
    fuzzy).

    Iterative min-label propagation: each round every node adopts the
    smallest label in its neighborhood (including its own); converges in
    O(graph diameter) rounds — near-dup graphs are unions of small cliques,
    so 2-3 rounds in practice, ``max_iter`` bounds pathological chains.
    Each round is one groupBy shuffle on the node id; labels are
    checkpointed via localCheckpoint to keep the plan from growing
    exponentially across iterations (classic iterative-algorithm trap);
    each new generation frees the one it supersedes, so only the returned
    generation stays resident.

    If the loop exits by iteration cap while labels are still changing, the
    cluster ids are WRONG (a >max_iter-hop chain would be split), so that
    case raises rather than returning silently-split clusters (ADVICE r1);
    callers with genuinely deep graphs pass a bigger ``max_iter`` (or
    pointer-doubling large-star/small-star is the O(log n) upgrade).

    Input: (a, b) pair columns.  Output: (id, cluster_id).
    """
    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .union(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        .persist()
    )
    try:
        labels = (
            edges.select(F.col("x").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
        )
        gen = None  # the live checkpointed generation; each new one frees it
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges["y"] == labels["id"])
                .groupBy("x")
                .agg(F.min("label").alias("nmin"))
            )
            new_labels = (
                labels.join(neighbor_min, labels["id"] == neighbor_min["x"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                    ).alias("label"),
                    # carry the per-row change flag through the
                    # checkpoint so convergence detection is a cheap scan of
                    # the materialized labels instead of a second join per
                    # round (old label is in scope right here)
                    (
                        F.least(
                            F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                        )
                        != F.col("label")
                    ).alias("_chg"),
                )
            )
            new_labels = new_labels.localCheckpoint(eager=True)
            if gen is not None:
                graph.release_checkpoint(gen)
            gen = new_labels
            changed = new_labels.filter(F.col("_chg")).limit(1).count()
            labels = new_labels.select("id", "label")
            if changed == 0:
                break
        else:
            if gen is not None:
                graph.release_checkpoint(gen)
            raise RuntimeError(
                f"dedup_clusters did not converge within max_iter={max_iter} "
                "rounds; resulting cluster ids would be split. Increase max_iter "
                "(graph diameter exceeds it)."
            )
    finally:
        edges.unpersist()
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_report(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """End-to-end dedup accounting: cluster the pair graph, mark survivors
    (cluster minimum), count keeps/drops.  Docs with no near-dup pair are
    singleton keepers."""
    clusters = dedup_clusters(pairs)
    joined = df.select(F.col(id_col).alias("id")).join(clusters, "id", "left")
    status = F.when(
        F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("id")),
        F.lit("keep"),
    ).otherwise(F.lit("drop"))
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


class IncrementalLshDedup:
    """Continuous-ingestion near-dup detection: dedup each arriving batch
    against everything seen before it, without recomputing the corpus.

    The 100 TB problem this solves: a batch self-join dedup re-reads the
    whole corpus per run, but a pipeline ingesting continuously needs each
    NEW batch checked against an ever-growing history.  State here is ONE
    warehouse table of LSH band keys ``(doc_id, batch_id, band, sig)`` —
    O(bands) integers per document, never shingles or text — so the index
    grows ~32 bytes/doc/band and the per-batch cost is the batch's own
    row-local signatures plus a bucket equi-join against the index (the
    same sum-over-buckets |bucket|^2 economics as the batch LSH; no
    pairwise work outside shared buckets).

    Candidates are verified with EXACT n-gram Jaccard against the raw-text
    lookup the warehouse already holds (``corpus_texts``), so the flag is a
    true >= threshold judgment, not an LSH guess.

    Duplicate rule (deterministic and replay-stable): a doc is a duplicate
    iff some verified match was SEEN FIRST — an earlier batch, or the same
    batch with a smaller id.  The index keeps EVERY doc's bands (duplicates
    included), so a verdict never depends on earlier survival decisions —
    which is what makes the whole multi-batch history recomputable by a
    one-shot SQL oracle (see ``incremental_dedup_report``).

    Replay safety: ``process_batch`` commits the batch's bands and its
    batch id (the index table's ``_last_batch`` ledger) in ONE table
    version, so a batch id at or below the ledger skips its append, and
    "seen before" reads only strictly-earlier batch ids — an at-least-once
    caller (e.g. ``foreachBatch``) gets effectively-once state and
    identical verdicts on replay.  Precondition, as with ``foreachBatch``:
    batch ids increase, and a replay carries the same documents.
    """

    def __init__(
        self,
        spark,
        root: str,
        num_hashes: int = 8,
        bands: int = 4,
        n: int = 3,
        threshold: float = 0.5,
        name: str = "lsh_band_index",
    ) -> None:
        from pyspark.sql import types as T

        from unstructured_data_pipeline_spark.operators.dml import ParquetTable

        self.num_hashes = num_hashes
        self.bands = bands
        self.n = n
        self.threshold = threshold
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("batch_id", T.LongType()),
                T.StructField("band", T.IntegerType()),
                T.StructField("sig", T.LongType()),
            ]
        )
        self.table = ParquetTable(spark, root, name, schema).ensure()

    def process_batch(
        self,
        docs: DataFrame,
        corpus_texts: DataFrame,
        batch_id: int,
        id_col: str = "doc_id",
        text_col: str = "text",
        corpus_shingles: DataFrame | None = None,
    ) -> DataFrame:
        """Flag ``docs`` (one batch) against all earlier batches + itself.

        ``corpus_texts`` must cover every id that can appear in a candidate
        pair (this batch + all earlier ones) — in a deployment that is the
        raw documents table.  Returns (doc_id, is_dup); docs too short to
        shingle have no signature and are never duplicates.

        ``corpus_shingles``: optional precomputed ``shingle_arrays`` of the
        SAME corpus/n — a caller processing many batches in one job can
        persist it once instead of re-shingling the lookup per batch.
        Round 14: when provided it also serves the BATCH side's signature
        computation (the batch's shingle rows are semi-joined out of it
        instead of re-shingling the batch text — the contract above already
        requires it to carry this batch's rows).
        """
        d = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        if corpus_shingles is not None:
            batch_sh = corpus_shingles.join(d.select("id"), "id", "left_semi")
        else:
            batch_sh = shingle_arrays(d, "id", "text", self.n)
        sig = minhash_signature_cols(batch_sh, self.num_hashes)
        bands_new = lsh_band_keys(sig, self.num_hashes, self.bands).persist()
        # the bands stay cached, and a failed commit's flags checkpointed,
        # only for the call: both are released on every exit path
        flags = None
        try:
            prior = self.table.read().filter(F.col("batch_id") < batch_id)
            # one distinct over the unioned candidate set (below) subsumes the
            # per-branch distincts the round-13 shape paid — two exchanges
            # fewer, identical candidate set (round 14)
            cross = bands_new.join(
                prior.select(F.col("doc_id").alias("a"), "band", "sig"),
                ["band", "sig"],
            ).select("a", F.col("id").alias("b"))
            x, y = bands_new.alias("x"), bands_new.alias("y")
            within = x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.sig") == F.col("y.sig"))
                & (F.col("x.id") < F.col("y.id")),
            ).select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
            cand = cross.unionByName(within).distinct()
            corpus_sh = (
                corpus_shingles
                if corpus_shingles is not None
                else shingle_arrays(
                    corpus_texts.select(F.col(id_col), F.col(text_col)),
                    id_col,
                    text_col,
                    self.n,
                )
            )
            dup_ids = (
                jaccard_pairs_arr(corpus_sh, cand)
                .filter(F.col("jaccard") >= self.threshold)
                .select(F.col("b").alias("id"))
                .distinct()
                .withColumn("_d", F.lit(1))
            )
            verdicts = (
                d.select("id")
                .join(dup_ids, "id", "left")
                .select(
                    F.col("id").alias("doc_id"),
                    F.col("_d").isNotNull().alias("is_dup"),
                )
            )
            # flags' plan reads the index version the append below supersedes
            # (and retention drops): materialize the verdicts first
            flags = verdicts.localCheckpoint(eager=True)
            rows = bands_new.select(
                F.col("id").alias("doc_id"),
                F.lit(batch_id).cast("long").alias("batch_id"),
                "band",
                "sig",
            )
            # bands and ledger commit together; a replay skips the append
            self.table._write(
                lambda base: self.table._linked(
                    base, lambda stage: self.table._write_snapshot(rows, stage)
                ),
                batch_id,
            )
        except BaseException:
            if flags is not None:
                graph.release_checkpoint(flags)
            raise
        finally:
            bands_new.unpersist()
        return flags

"""Unit + property tests for the pure logic and operator contracts
(SURVEY.md section 5, items 3-5): prompt normalization (AI6), variantify,
upsert/anti-insert/delete algebra, latest-per-key windows, EAV<->pivot
round-trip, as-of join, shingle/fingerprint edge cases, and streaming
intake exactly-once restart semantics."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.functions.prompts import (
    normalize_prompt_schema,
    prompt_fields,
)
from unstructured_data_pipeline_spark.functions.variant import (
    canonical_json,
    stringify_display,
    variantify,
)
from unstructured_data_pipeline_spark.operators.dml import (
    anti_insert,
    delete_where,
    upsert,
)


# ---------------------------------------------------------------------------
# AI6 prompt normalization (`app.py:162-183` semantics)


def test_prompt_schema_dict_passthrough():
    assert normalize_prompt_schema({"total": "What is the total?"}, "x") == {
        "total": "What is the total?"
    }


def test_prompt_schema_class_unwrap():
    raw = {"invoice": {"total": "What is the total?", "date": "When?"}}
    assert normalize_prompt_schema(raw, "invoice") == {
        "total": "What is the total?",
        "date": "When?",
    }


def test_prompt_schema_q_list_passthrough():
    assert normalize_prompt_schema(["q", "Summarize this."], "x") == [
        "q",
        "Summarize this.",
    ]


def test_prompt_schema_bare_string_and_json_text():
    assert normalize_prompt_schema("What is it?", "x") == ["q", "What is it?"]
    assert normalize_prompt_schema('{"a": "b"}', "x") == {"a": "b"}


def test_prompt_schema_fallbacks():
    for raw in (None, 7, [], {}, {"a": 3}, ""):
        out = normalize_prompt_schema(raw, "contract")
        assert out == ["q", "Extract key facts for class contract."], raw


def test_prompt_fields():
    assert prompt_fields({"b": "?", "a": "?"}) == ["a", "b"]
    assert prompt_fields(["q", "whatever"]) == ["answer"]


@given(
    st.recursive(
        st.one_of(st.none(), st.integers(), st.text(max_size=8)),
        lambda c: st.one_of(
            st.lists(c, max_size=4), st.dictionaries(st.text(max_size=4), c, max_size=4)
        ),
        max_leaves=8,
    )
)
@settings(max_examples=60, deadline=None)
def test_prompt_schema_total(raw):
    """Never raises; always returns a dict[str,str] or ['q', str]."""
    out = normalize_prompt_schema(raw, "k")
    if isinstance(out, dict):
        assert out and all(
            isinstance(k, str) and isinstance(v, str) for k, v in out.items()
        )
    else:
        assert len(out) == 2 and out[0] == "q" and isinstance(out[1], str)


# ---------------------------------------------------------------------------
# VARIANT encoding ("VARIANT safety", `app.py:276-283`)


def test_variantify():
    assert variantify(None) is None
    assert variantify("s") == "s"
    assert variantify({"b": 1, "a": 2}) == '{"a":2,"b":1}'  # canonical key order
    assert variantify([1, "x"]) == '[1,"x"]'
    assert variantify(True) == "true"
    assert variantify(3) == "3"


def test_stringify_display():
    """Display coercion (`app.py:227-233`): NULL renders empty, structures
    as canonical JSON, scalars through str() (a bool as Python prints it,
    not as JSON)."""
    assert stringify_display(None) == ""
    assert stringify_display({"b": 1, "a": [2, None]}) == '{"a":[2,null],"b":1}'
    assert stringify_display([1, "x"]) == canonical_json([1, "x"])
    assert stringify_display(True) == "True"
    assert stringify_display(2.5) == "2.5"
    assert stringify_display(0) == "0"


def test_canonical_json_is_canonical():
    assert canonical_json({"b": [1, 2], "a": {"z": 1, "y": 2}}) == canonical_json(
        {"a": {"y": 2, "z": 1}, "b": [1, 2]}
    )


# ---------------------------------------------------------------------------
# DML algebra (D1-D3): MERGE-without-Delta semantics


@pytest.fixture(scope="module")
def small_tables(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, name string, v double"
    )
    source = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k int, name string, v double"
    )
    return target, source


def test_upsert_source_wins_and_unmatched_survive(spark, small_tables):
    target, source = small_tables
    out = {r["k"]: (r["name"], r["v"]) for r in upsert(target, source, ["k"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_upsert_idempotent(spark, small_tables):
    target, source = small_tables
    once = upsert(target, source, ["k"])
    twice = upsert(once, source, ["k"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_anti_insert_only_new_keys(spark, small_tables):
    target, source = small_tables
    out = {r["k"]: r["name"] for r in anti_insert(target, source, ["k"]).collect()}
    # key 2 exists -> source row dropped; key 4 fresh -> appended
    assert out == {1: "a", 2: "b", 3: "c", 4: "d"}


def test_delete_where_null_safe(spark):
    df = spark.createDataFrame([(1, "x"), (2, None), (3, "y")], "k int, s string")
    kept = delete_where(df, F.col("s") == "x")  # null predicate must NOT delete
    assert sorted(r["k"] for r in kept.collect()) == [2, 3]


# ---------------------------------------------------------------------------
# W1: latest-per-key returns exactly one row per key, newest first


def test_latest_per_key_exactly_one(spark):
    from unstructured_data_pipeline_spark.operators.relational import latest_per_key

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 2), ("b", 5, 3), ("b", 5, 4), ("c", None, 5)],
        "key string, ts int, payload int",
    )
    out = latest_per_key(
        df, ["key"], [F.col("ts").desc_nulls_last(), F.col("payload").desc()]
    )
    rows = {r["key"]: (r["ts"], r["payload"]) for r in out.collect()}
    assert rows == {"a": (2, 2), "b": (5, 4), "c": (None, 5)}


# ---------------------------------------------------------------------------
# C5: EAV explode <-> dynamic pivot round-trip


def test_eav_pivot_roundtrip(spark):
    from unstructured_data_pipeline_spark.operators.pivot import dynamic_pivot

    eav = spark.createDataFrame(
        [
            ("f1", "total", "10"),
            ("f1", "date", "2024-01-01"),
            ("f2", "total", "20"),
        ],
        "file_ref string, field_name string, field_value string",
    )
    wide = dynamic_pivot(eav, ["file_ref"], "field_name", "field_value")
    assert set(wide.columns) == {"file_ref", "date", "total"}
    back = wide.selectExpr(
        "file_ref",
        "stack(2, 'date', date, 'total', total) AS (field_name, field_value)",
    ).filter(F.col("field_value").isNotNull())
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, eav.collect()))


# ---------------------------------------------------------------------------
# as-of join: exact small-case semantics (match at-or-before, else null)


def test_asof_join_small(spark):
    from unstructured_data_pipeline_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 50), (3, "v", 10)], "id int, k string, ts long"
    )
    right = spark.createDataFrame(
        [("u", 90), ("u", 100), ("u", 110), ("w", 5)], "k string, rts long"
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="rts")
    got = {r["id"]: r["rts_r"] for r in out.collect()}
    assert got == {1: 100, 2: None, 3: None}  # exact tie matches; no earlier -> null


def test_asof_join_duplicate_left_rows_survive(spark):
    # VERDICT r1 #5: byte-identical left rows must each produce one output row
    # (the old dropDuplicates(left.columns) collapsed them).
    from unstructured_data_pipeline_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [("u", 100), ("u", 100), ("u", 100)], "k string, ts long"
    )
    right = spark.createDataFrame([("u", 90)], "k string, rts long")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="rts").collect()
    assert len(out) == 3
    assert all(r["rts_r"] == 90 for r in out)


def test_asof_join_tied_right_rows_no_fanout(spark):
    # Two right rows at identical (key, ts): exactly one output row per left
    # row, and the carried payload is deterministic across runs.
    from unstructured_data_pipeline_spark.operators.relational import asof_join

    left = spark.createDataFrame([(1, "u", 100), (2, "u", 95)], "id int, k string, ts long")
    right = spark.createDataFrame(
        [("u", 90, "a"), ("u", 90, "b"), ("u", 98, "c")], "k string, rts long, v string"
    )
    first = None
    for _ in range(3):
        rows = asof_join(left, right, on="k", left_ts="ts", right_ts="rts").collect()
        got = {r["id"]: (r["rts_r"], r["v_r"]) for r in rows}
        assert len(rows) == 2
        assert got[1] == (98, "c")
        assert got[2][0] == 90 and got[2][1] in ("a", "b")
        if first is None:
            first = got
        assert got == first  # deterministic tie-break


# ---------------------------------------------------------------------------
# shingle / fingerprint edge cases (the sequence(1,0)-descending trap)


def test_shingles_and_fingerprints_short_docs(spark):
    from unstructured_data_pipeline_spark.functions.text import (
        rolling_kgram_hashes,
        word_shingles,
    )

    df = spark.createDataFrame(
        [("", ), ("one", ), ("one two", ), ("one two three four", )], "text string"
    )
    out = df.select(
        F.size(word_shingles("text", 3)).alias("n_sh"),
        F.size(rolling_kgram_hashes("text", 8)).alias("n_gr"),
    ).collect()
    assert [r["n_sh"] for r in out] == [0, 0, 0, 2]
    # 8-grams: len<8 -> 0; len 18 -> 11
    assert [r["n_gr"] for r in out] == [0, 0, 0, 11]


# ---------------------------------------------------------------------------
# M4 streaming intake: exactly-once across restarts (the checkpoint IS the
# reference's NEW_UPLOADS.processed flag, `app.py:548-554,920-926`)


def test_streaming_intake_exactly_once(spark, tmp_path):
    from unstructured_data_pipeline_spark.catalog import bootstrap_warehouse
    from unstructured_data_pipeline_spark.streaming.intake import start_intake_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(3):
        (landing / f"doc{i}.txt").write_text(f"customer stream doc {i}")

    tables = bootstrap_warehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_intake_stream(spark, str(landing), ckpt, tables)
        q.awaitTermination()

    drain()
    processed = tables["documents_processed"].read()
    assert processed.count() == 3

    # restart with no new files: nothing reprocessed
    drain()
    assert tables["documents_processed"].read().count() == 3

    # one new file: exactly one more run, old files untouched
    (landing / "doc3.txt").write_text("customer stream doc 3")
    drain()
    out = tables["documents_processed"].read()
    assert out.count() == 4
    assert out.filter(F.col("file_ref") == "doc3.txt").count() == 1


# ---------------------------------------------------------------------------
# prefix filtering is pure candidate pruning: identical output to exhaustive


def test_ngram_jaccard_prefix_equals_exhaustive(spark, sf_dir):
    from unstructured_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    near = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.expr("array_join(slice(split(text, ' '), 2, 1000000), ' ')").alias("text"),
    )
    corpus = d.unionByName(near)
    full = ngram_jaccard_pairs(corpus, "doc_id", "text", 3, 0.5, prefix_filter=False)
    pref = ngram_jaccard_pairs(corpus, "doc_id", "text", 3, 0.5, prefix_filter=True)
    fs = sorted((r["a"], r["b"], round(r["jaccard"], 9)) for r in full.collect())
    ps = sorted((r["a"], r["b"], round(r["jaccard"], 9)) for r in pref.collect())
    assert fs == ps and len(fs) > 0


def test_ngram_jaccard_verify_exact_matches_hashed(spark, sf_dir):
    """verify_exact=True (collision-proof string intersect, ADVICE r3) must
    agree with the default hashed-array verify on the fixture corpus — the
    two tiers only diverge under a 64-bit xxhash collision."""
    from unstructured_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    near = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.expr("array_join(slice(split(text, ' '), 2, 1000000), ' ')").alias("text"),
    )
    corpus = d.unionByName(near)
    hashed = ngram_jaccard_pairs(corpus, "doc_id", "text", 3, 0.5)
    exact = ngram_jaccard_pairs(corpus, "doc_id", "text", 3, 0.5, verify_exact=True)
    hs = sorted((r["a"], r["b"], round(r["jaccard"], 9)) for r in hashed.collect())
    es = sorted((r["a"], r["b"], round(r["jaccard"], 9)) for r in exact.collect())
    assert hs == es and len(hs) > 0


def test_ngram_jaccard_random_corpus_three_way(spark):
    """Seeded random corpus (varied lengths, tiny vocabulary to force heavy
    shingle sharing, docs shorter than n) checked THREE ways: prefix path ==
    exhaustive path == a pure-Python set-arithmetic model.  Catches pruning
    bugs the planted-near-dup fixture corpus can't reach (deep overlap
    structure, boundary sizes, empty shingle sets)."""
    import random

    from unstructured_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(20260813)
    vocab = [f"w{i}" for i in range(8)]
    docs = []
    for i in range(15):
        words = [rng.choice(vocab) for _ in range(rng.randint(1, 24))]
        docs.append((i, " ".join(words)))
        # plant a mutated near-copy: drop the head word or swap one word —
        # lands pairs on both sides of the 0.5 threshold
        mut = list(words)
        if rng.random() < 0.5 and len(mut) > 1:
            mut = mut[1:]
        elif mut:
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
        docs.append((100 + i, " ".join(mut)))
    # pure-Python model: distinct word-3-gram sets, exact pairwise jaccard
    def sh(text):
        w = text.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {i: sh(t) for i, t in docs}
    want = sorted(
        (a, b, round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 9))
        for a in sets
        for b in sets
        if a < b and sets[a] and sets[b]
        and len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.5
    )
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for pf in (False, True):
        got = sorted(
            (r["a"], r["b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", 3, 0.5, prefix_filter=pf
            ).collect()
        )
        assert got == want, (pf, got[:5], want[:5])
    assert len(want) > 0  # the corpus actually planted qualifying pairs


def test_ngram_jaccard_boundary_exact_pair_survives_prefix_filters(spark):
    """A pair sitting EXACTLY at jaccard == threshold must survive the
    prefix path's pruning cascade (prefix pigeonhole, length filter, PPJoin
    positional bound with its float-guard epsilon).  Construction: two
    8-word docs sharing a 6-word run -> 6 word-3-gram shingles each, 4
    shared -> J = 4 / (6+6-4) = 0.5 exactly."""
    from unstructured_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "qa qb c1 c2 c3 c4 c5 c6"),
            (2, "rb rc c1 c2 c3 c4 c5 c6"),
        ],
        "doc_id long, text string",
    )
    for pf in (False, True):
        rows = ngram_jaccard_pairs(
            df, "doc_id", "text", 3, 0.5, prefix_filter=pf
        ).collect()
        assert len(rows) == 1 and rows[0]["jaccard"] == 0.5, (pf, rows)


# ---------------------------------------------------------------------------
# small-files compaction


def test_parquet_table_compact(spark, tmp_path):
    from pyspark.sql import types as T

    from unstructured_data_pipeline_spark.operators.dml import ParquetTable

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = ParquetTable(spark, str(tmp_path), "frag", schema).ensure()
    # 20 tiny appends -> many small files
    for i in range(20):
        t.append(spark.createDataFrame([(i, f"v{i}")], schema))
    import glob

    n_before = len(glob.glob(os.path.join(t.data_dir(), "*.parquet")))
    assert n_before >= 20
    n_after = t.compact(target_files=2)
    assert n_after <= 2
    # contents preserved
    assert sorted(r["k"] for r in t.read().collect()) == list(range(20))


def test_parquet_table_crash_before_publish_keeps_old_data(spark, tmp_path):
    """VERDICT r1 #4: a rewrite that dies after writing the new snapshot
    but BEFORE its commit (stage written, version not yet claimed) must
    leave the previous snapshot fully live."""
    from pyspark.sql import types as T

    from unstructured_data_pipeline_spark.operators.dml import ParquetTable

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = ParquetTable(spark, str(tmp_path), "tbl", schema).ensure()
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    before = sorted(map(tuple, t.read().collect()))

    # simulate the crash: the staged snapshot is fully written, the claim
    # (and everything after it) never runs
    boom = RuntimeError("crash before publish")

    class Crashing(ParquetTable):
        def _write_snapshot(self, df, path):
            super()._write_snapshot(df, path)
            raise boom

    t2 = Crashing(spark, str(tmp_path), "tbl", schema)
    try:
        t2.upsert(spark.createDataFrame([(2, "B"), (3, "c")], schema), ["k"])
        raise AssertionError("expected crash")
    except RuntimeError as e:
        assert e is boom
    # old snapshot still the live one, fully readable; the failed commit
    # removed its stage
    assert sorted(map(tuple, t.read().collect())) == before
    assert not [d for d in os.listdir(t.path) if d.startswith("stage-")]
    # recovery: the same upsert on a healthy table lands atomically and the
    # crash left no version dir behind (only snapshot dirs are counted: the
    # live version's claim/commit marker files share the v- prefix)
    t.upsert(spark.createDataFrame([(2, "B"), (3, "c")], schema), ["k"])
    assert sorted(map(tuple, t.read().collect())) == [(1, "a"), (2, "B"), (3, "c")]
    vdirs = [
        d
        for d in os.listdir(t.path)
        if d.startswith("v-") and os.path.isdir(os.path.join(t.path, d))
    ]
    assert vdirs == [t.current_version()]


# ---------------------------------------------------------------------------
# LSH ANN recall guard (deterministic hyperplanes -> stable recall)


def test_lsh_ann_recall_floor(spark, sf_dir):
    from unstructured_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        lsh_bucketed_topk,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, q, k=5)
    approx = lsh_bucketed_topk(emb, q, k=5, dim=64, n_planes=8, bands=4)
    e = {(r["q_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"LSH recall degraded: {recall}"


# ---------------------------------------------------------------------------
# connected-components dedup clustering


def test_dedup_clusters_connected_components(spark):
    from unstructured_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        dedup_report,
    )

    # two components: {1,2,3,4} (a chain) and {10, 11}; 99 isolated (no edge)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "doc_id long")
    rep = {r["status"]: r["n_docs"] for r in dedup_report(docs, pairs, "doc_id").collect()}
    # keep = cluster minima {1, 10} + singleton {99}; drop = {2,3,4,11}
    assert rep == {"keep": 3, "drop": 4}


def test_dedup_clusters_iteration_cap_raises_not_splits(spark):
    """ADVICE r1: exiting by iteration cap with labels still moving must
    raise — a silent exit would return split (wrong) cluster ids."""
    import pytest

    from unstructured_data_pipeline_spark.operators.dedup import dedup_clusters

    # a 12-node chain: min-label needs ~11 rounds to flood node 0's label
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iter=3)
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(chain, max_iter=15).collect()}
    assert set(got.values()) == {0}


def test_dedup_clusters_keeps_only_the_returned_generation(spark):
    """Every superseded localCheckpoint generation (and the persisted edge
    set) is freed: a 10-hop chain runs ~10 rounds but leaves at most one
    new persistent RDD behind — the generation the result reads."""
    from unstructured_data_pipeline_spark.operators.dedup import dedup_clusters

    jsc = spark.sparkContext._jsc
    chain = spark.createDataFrame([(i, i + 1) for i in range(10)], "a long, b long")
    before = set(jsc.getPersistentRDDs().keys())
    got = dedup_clusters(chain).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(set(jsc.getPersistentRDDs().keys()) - before) <= 1
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iter=3)
    assert len(set(jsc.getPersistentRDDs().keys()) - before) <= 1


# session-window and range-join boundary semantics


def test_session_window_gap_boundary(spark):
    """A session's end is last_event + gap, and an event AT the end still
    merges (time <= end): exactly-gap spacing extends the session, one
    microsecond beyond breaks it.  The SQL-islands oracle mirrors this
    with `diff > gap` — `>=` would split exactly-gap chains the operator
    keeps together."""
    ev = spark.createDataFrame(
        [
            (1, "2026-01-01 10:00:00"),          # s1
            (1, "2026-01-01 10:30:00.000001"),   # just past the gap -> s2
            (2, "2026-01-01 10:00:00"),          # s1
            (2, "2026-01-01 10:30:00"),          # exactly the gap -> merges
        ],
        "user_id long, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("t"))
    got = (
        ev.groupBy("user_id", F.session_window("t", "30 minutes"))
        .count()
        .groupBy("user_id")
        .count()
        .collect()
    )
    sessions = {r["user_id"]: r["count"] for r in got}
    assert sessions == {1: 2, 2: 1}


def test_range_join_window_boundaries(spark, tmp_path):
    """The trailing-hour window is CLOSED on both ends: a view exactly one
    hour before the purchase counts; one microsecond earlier does not;
    a view after the purchase never counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unstructured_data_pipeline_spark.queries import (
        range_join_views_before_purchase,
    )

    HOUR = 3_600_000_000
    base = 1_700_000_000_000_000  # us
    rows = [
        # (event_id, user_id, event_type, ts_us)
        (1, 7, "purchase", base),
        (2, 7, "view", base - HOUR),          # exactly 1h before -> counts
        (3, 7, "view", base - HOUR - 1),      # just outside -> no
        (4, 7, "view", base),                 # same instant -> counts
        (5, 7, "view", base + 1),             # after -> no
        (6, 8, "view", base),                 # other user -> no
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows]),
            "value": pa.array([0.0] * len(rows)),
            "ts": pa.array([r[3] * 1000 for r in rows], pa.timestamp("ns")),
        }
    )
    d = tmp_path / "evfix"
    d.mkdir()
    pq.write_table(tbl, str(d / "events.parquet"))
    out = {
        r["event_id"]: r["n_views_prev_hour"]
        for r in range_join_views_before_purchase(spark, str(d)).collect()
    }
    assert out == {1: 2}


def test_hashed_bow_embedding_properties(spark):
    """Feature-hashing vectorizer: fixed dim, integer-valued signed-count
    profile, token-order invariance of the multiset profile, zero-vector
    docs dropped, deterministic across calls."""
    from unstructured_data_pipeline_spark.operators.similarity import (
        hashed_bow_embedding,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),
            (2, "gamma alpha beta alpha"),  # same multiset, different order
            (3, "delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    out = {r["vec_id"]: r["embedding"] for r in
           hashed_bow_embedding(df, "doc_id", "text", dim=16).collect()}
    assert set(out) <= {1, 2, 3} and 1 in out
    assert all(len(v) == 16 for v in out.values())
    assert all(float(x).is_integer() for v in out.values() for x in v)
    # same token multiset -> identical vector regardless of order
    assert out[1] == out[2]
    # repeated token contributes twice: sum of |components| >= 2 for doc 1
    assert sum(abs(x) for x in out[1]) >= 2
    # determinism across invocations
    again = {r["vec_id"]: r["embedding"] for r in
             hashed_bow_embedding(df, "doc_id", "text", dim=16).collect()}
    assert again == out


def test_mg_heavy_hitters_bounds_random(spark):
    """Misra-Gries estimates vs brute-force truth on a Zipf-ish random
    stream, with k small enough that compression actually fires: every
    estimate in [true - n/(k+1), true], and every item with true count
    above the survival threshold is present."""
    import random

    from unstructured_data_pipeline_spark.operators.sketches import mg_heavy_hitters

    rng = random.Random(20260814)
    # heavy skew: item i drawn with weight ~ 1/(i+1)
    universe = [f"t{i}" for i in range(200)]
    weights = [1.0 / (i + 1) for i in range(200)]
    stream = rng.choices(universe, weights=weights, k=20000)
    truth = {}
    for s in stream:
        truth[s] = truth.get(s, 0) + 1
    n, k = len(stream), 16
    df = spark.createDataFrame([(s,) for s in stream], "item string").repartition(8)
    est = {r["item"]: r["est"] for r in mg_heavy_hitters(df, "item", k=k).collect()}
    assert len(est) > 0
    bound = n / (k + 1)
    for item, e in est.items():
        t = truth.get(item, 0)
        assert t - bound <= e <= t, (item, e, t, bound)
    for item, t in truth.items():
        if t > bound:
            assert item in est and est[item] > 0, (item, t, bound)


def test_bpe_merge_chain_produces_whole_words(spark):
    """The fixed merge table must fuse its target vocabulary into single
    subwords and leave unmerged characters split."""
    from pyspark.sql import functions as F

    from unstructured_data_pipeline_spark.queries import _BPE_MERGES

    df = spark.createDataFrame(
        [("the scan batch window join key zq",)], "text STRING"
    )
    w = F.explode(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
    ).alias("w")
    enc = F.regexp_replace(F.col("w"), "(.)", "|$1|")
    for a, b in _BPE_MERGES:
        enc = F.replace(enc, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
    toks = (
        df.select(w)
        .select(F.col("w"), enc.alias("e"))
        .select(
            "w",
            F.split(F.expr("trim(BOTH '|' FROM e)"), r"\|\|").alias("toks"),
        )
        .collect()
    )
    got = {r["w"]: list(r["toks"]) for r in toks}
    for whole in ("the", "scan", "batch", "window", "join", "key"):
        assert got[whole] == [whole], got[whole]
    assert got["zq"] == ["z", "q"]  # no merge rule touches it


def test_containment_is_asymmetric(spark):
    """A truncated copy is contained in its original (C=1.0) but not vice
    versa; an unrelated doc matches neither."""
    from unstructured_data_pipeline_spark.operators.dedup import containment_pairs

    long_text = " ".join(f"w{i}" for i in range(30))
    short_text = " ".join(f"w{i}" for i in range(10))  # prefix of long
    other = " ".join(f"z{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, other)], "id INT, text STRING"
    )
    rows = {
        (r["a"], r["b"]): r["containment"]
        for r in containment_pairs(
            df, "id", "text", n=3, threshold=0.8, min_shingles=5
        ).collect()
    }
    assert rows == {(2, 1): 1.0}  # short ⊂ long only, directed


def test_containment_boundary_exact(spark):
    """A pair at containment EXACTLY == threshold must be found — pins the
    float-boundary prefix-sizing fix (t=0.8: 1-t is not exact in binary,
    and the naive floor((1-t)|A|)+1 prefix under-sizes by one)."""
    from unstructured_data_pipeline_spark.operators.dedup import containment_pairs

    # A: words w0..w21 -> 20 distinct shingles; B: words w0..w17 -> 16
    # shingles, all of them in A  =>  C(A->B) = 16/20 = 0.8 exactly
    a_text = " ".join(f"w{i}" for i in range(22))
    b_text = " ".join(f"w{i}" for i in range(18))
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "id INT, text STRING"
    )
    rows = {
        (r["a"], r["b"]): round(r["containment"], 6)
        for r in containment_pairs(
            df, "id", "text", n=3, threshold=0.8, min_shingles=5
        ).collect()
    }
    assert rows[(1, 2)] == 0.8  # the boundary-exact direction
    assert rows[(2, 1)] == 1.0  # B fully contained in A


def test_largest_remainder_invariants(spark):
    """Property: for ANY positive integer weights, the largest-remainder
    allocation sums EXACTLY to the budget and each share is within one
    unit of its exact proportional entitlement (the method's defining
    guarantees; naive rounding breaks the first, floor-only the second)."""
    import math

    from hypothesis import given, settings, HealthCheck
    from hypothesis import strategies as st

    from pyspark.sql import functions as F
    from pyspark.sql import Window

    budget = 10_000

    @given(
        weights=st.lists(
            st.integers(min_value=1, max_value=10**9), min_size=1, max_size=8
        )
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(weights):
        w = spark.createDataFrame(
            [(f"g{i:02d}", wt) for i, wt in enumerate(weights)],
            "c_mktsegment string, weight long",
        )
        tot = Window.partitionBy()
        shares = w.select(
            "c_mktsegment",
            "weight",
            F.expr(f"({budget} * weight) div sum(weight) over ()").alias("base"),
            F.expr(f"({budget} * weight) % sum(weight) over ()").alias("rem"),
        )
        leftover = F.lit(budget) - F.sum("base").over(tot)
        ranked = shares.select(
            "c_mktsegment",
            "weight",
            "base",
            F.row_number()
            .over(Window.orderBy(F.desc("rem"), "c_mktsegment"))
            .alias("rr"),
            leftover.alias("leftover"),
        )
        out = {
            r["c_mktsegment"]: (r["weight"], r["base"] + (1 if r["rr"] <= r["leftover"] else 0))
            for r in ranked.collect()
        }
        total_w = sum(weights)
        assert sum(a for _, a in out.values()) == budget  # exact-sum invariant
        for wt, alloc in out.values():
            exact = budget * wt / total_w
            assert math.floor(exact) <= alloc <= math.floor(exact) + 1

    check()


def test_bench_compact_line_fits_tail():
    """Structural guard for the r2-r6 bench-artifact bug class: the driver
    keeps only a 2000-char tail of combined stdout+stderr and parses the
    LAST JSON line.  Render bench.py's final compact line with worst-case
    values for every headline query and assert it leaves headroom for a
    py4j traceback landing after it would be impossible -- the line itself
    must stay well under the window (VERDICT r6 #1/#8)."""
    import bench

    saved = {k: bench.STATE[k] for k in bench.STATE}
    try:
        bench.STATE["timings"] = {k: 9999.99 for k in bench.HEADLINE}
        bench.STATE["total"] = 99999.999
        bench.STATE["sf"] = 0.1
        bench.STATE["docs_per_sec"] = 99999.9
        bench.STATE["extra"] = {f"x{i}": 1.0 for i in range(250)}
        bench.STATE["errors"] = {f"e{i}": "boom" for i in range(50)}
        line = bench.compact_line(partial=False)
        parsed = __import__("json").loads(line)
        assert parsed["metric"] == "headline_query_suite_total"
        assert set(parsed["queries"]) == set(bench.HEADLINE)
        # extras/errors must NOT inflate the line -- counts only
        assert parsed["n_extra_ok"] == 250 and parsed["n_err"] == 50
        assert len(line) < 1500, f"compact line {len(line)} chars"
    finally:
        bench.STATE.clear()
        bench.STATE.update(saved)


def test_bench_compact_line_survives_tail_capture():
    """End-to-end simulation of the driver's capture: the compact line is
    printed AFTER a py4j death traceback (atexit ordering), the driver
    keeps the last 2000 chars of combined output and parses the last JSON
    line it finds.  The parse must recover the headline total even in the
    crash scenario that produced BENCH_r06's parsed:null."""
    import json as _json

    import bench

    saved = {k: bench.STATE[k] for k in bench.STATE}
    try:
        bench.STATE["timings"] = {k: 1.0 for k in bench.HEADLINE}
        bench.STATE["total"] = 28.0
        bench.STATE["sf"] = 0.1
        fake_traceback = (
            "Traceback (most recent call last):\n"
            + '  File "bench.py", line 999, in main\n    spark.stop()\n' * 20
            + "ConnectionRefusedError: [Errno 111] Connection refused\n"
        )
        stream = fake_traceback + bench.compact_line(partial=True) + "\n"
        tail = stream[-2000:]
        json_lines = [
            ln for ln in tail.splitlines() if ln.startswith("{") and ln.endswith("}")
        ]
        assert json_lines, "no complete JSON line inside the 2000-char tail"
        parsed = _json.loads(json_lines[-1])
        assert parsed["value"] == 28.0
        assert parsed["partial"] is True
    finally:
        bench.STATE.clear()
        bench.STATE.update(saved)


def test_default_driver_mem_env_override_and_bounds(monkeypatch):
    """ADVICE r7: the 48g driver-heap default must scale with the host.
    Pin the contract: env var wins verbatim; the meminfo path is
    min(48g, 40% MemTotal) with a 2g floor; an unreadable platform falls
    back to a conservative 4g."""
    from unstructured_data_pipeline_spark import session as S

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "7g")
    assert S._default_driver_mem() == "7g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")

    def fake_meminfo(kib):
        import io

        return lambda *a, **k: io.StringIO(f"MemTotal:       {kib} kB\n")

    # 128 GiB sandbox -> capped at 48g (the bench sweet spot, unchanged)
    monkeypatch.setattr("builtins.open", fake_meminfo(128 * 1024 * 1024))
    assert S._default_driver_mem() == "48g"
    # 32 GiB host -> 40% = 12g
    monkeypatch.setattr("builtins.open", fake_meminfo(32 * 1024 * 1024))
    assert S._default_driver_mem() == "12g"
    # 4 GiB host -> floor of 2g, never below
    monkeypatch.setattr("builtins.open", fake_meminfo(4 * 1024 * 1024))
    assert S._default_driver_mem() == "2g"

    def raise_oserror(*a, **k):
        raise OSError("no /proc on this platform")

    monkeypatch.setattr("builtins.open", raise_oserror)
    assert S._default_driver_mem() == "4g"


def test_package_reads_no_private_session_conf():
    """The engine has no session-conf switches of its own: no module of
    the package names a ``spark.unstructured_data_pipeline.`` key (VARIANT
    storage is chosen by ``bootstrap_warehouse(variant_native=...)``)."""
    import unstructured_data_pipeline_spark as pkg

    root = os.path.dirname(pkg.__file__)
    readers = []
    for d, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            with open(os.path.join(d, f)) as src:
                if "spark.unstructured_data_pipeline." in src.read():
                    readers.append(os.path.relpath(os.path.join(d, f), root))
    assert readers == []

"""Round-11: ADVICE r10 hardening of the OCC layer (`operators/dml.py`).

Five findings, each regression-pinned here:
1. (medium) the ALTER-defaults refusal moved INTO commit_rewrite() so both
   OCC commit paths are guarded, not just transact();
2. transact()'s retryable-staleness detection narrowed to (a) our own
   typed+format-stable read_version error and (b) JVM messages naming a
   retained-VERSION dir — caller bugs mentioning the table path re-raise;
3. pointer-lock steal staleness is waiter-observed (token + the waiter's
   monotonic clock) instead of wall-clock-vs-mtime, so clock skew can
   neither double-grant nor permanently wedge the lock;
4. an aged claim with no dir and no commit marker (writer died mid-commit)
   is reclaimed automatically, so transact() self-heals without a manual
   recover_stale();
5. ensure() fail-fasts BEFORE staging when the creation claim is taken
   (racing losers no longer pay a discarded snapshot write).
"""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import types as T

from unstructured_data_pipeline_spark.operators.dml import (
    CommitConflictError,
    ParquetTable,
)


def _schema():
    return T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
        ]
    )


def _make(spark, tmp_path, name="occ11", retain=1):
    schema = _schema()
    t = ParquetTable(spark, str(tmp_path), name, schema, retain=retain).ensure()
    t.append(spark.createDataFrame([("seed", 0)], schema))
    return t, schema


def _rows(t):
    return sorted((r.k, r.v) for r in t.read().collect())


# -- 1. defaults guard lives in commit_rewrite ---------------------------


def test_commit_rewrite_refuses_read_time_defaults_directly(spark, tmp_path):
    """Calling commit_rewrite() directly (bypassing transact) on a table
    with live ALTER defaults must refuse BEFORE staging — otherwise the
    committed snapshot has stored NULLs and no pre-alter epoch dirs, so
    read()'s backfill silently stops applying."""
    t, schema = _make(spark, tmp_path)
    t.add_column("grade", T.StringType(), default="unrated")
    base = t.current_version()
    snap = t.read_version(base)
    with pytest.raises(ValueError, match="read-time ALTER defaults"):
        t.commit_rewrite(snap, base)
    stages = [d for d in os.listdir(t.path) if d.startswith("stage-")]
    assert stages == []  # refused before paying the staged write
    assert [r.grade for r in t.read().collect()] == ["unrated"]  # intact
    # transact() stays guarded transitively (the r10 behavior preserved)
    with pytest.raises(ValueError, match="read-time ALTER defaults"):
        t.transact(lambda df: df)


# -- 2. narrowed retryable-staleness detection ---------------------------


def test_transact_reraises_caller_file_not_found(spark, tmp_path):
    """A FileNotFoundError raised by the CALLER's rewrite — even one whose
    message mentions the table path — is a bug, not staleness: it must
    re-raise on the first attempt, not burn max_attempts recomputes."""
    t, _ = _make(spark, tmp_path)
    attempts = []

    def buggy(df):
        attempts.append(1)
        raise FileNotFoundError(f"sidecar {t.path}/lookup.csv missing")

    with pytest.raises(FileNotFoundError, match="lookup.csv"):
        t.transact(buggy, max_attempts=5)
    assert len(attempts) == 1  # no retries burnt


def test_transact_reraises_jvm_error_without_version_dir(spark, tmp_path):
    """A JVM-style FileNotFoundException message that contains the table
    path but names no retained-version dir is NOT retention aging."""
    t, _ = _make(spark, tmp_path)
    attempts = []

    def buggy(df):
        attempts.append(1)
        raise RuntimeError(
            f"java.io.FileNotFoundException: {t.path}/sidecar/part-0.parquet"
        )

    with pytest.raises(RuntimeError, match="sidecar"):
        t.transact(buggy, max_attempts=5)
    assert len(attempts) == 1


def test_transact_retries_retention_aging_signals(spark, tmp_path):
    """Both genuine staleness shapes still retry: our own typed
    read_version error, and a JVM message naming a retained-version dir
    of THIS table."""
    t, schema = _make(spark, tmp_path)

    for exc in (
        FileNotFoundError(
            f"snapshot v-00000001 of table {t.name} is not retained (replay)"
        ),
        RuntimeError(
            f"java.io.FileNotFoundException: File {t.path}/v-00000001/"
            "part-0.parquet does not exist"
        ),
    ):
        state = {"first": True}

        def flaky(df, exc=exc, state=state):
            if state["first"]:
                state["first"] = False
                raise exc
            return df.unionByName(
                df.sparkSession.createDataFrame([(type(exc).__name__, 1)], schema)
            )

        t.transact(flaky, max_attempts=3)
    assert ("FileNotFoundError", 1) in _rows(t)
    assert ("RuntimeError", 1) in _rows(t)


# -- 3. waiter-observed lock staleness -----------------------------------


def test_pointer_lock_future_mtime_still_stolen(spark, tmp_path):
    """Under the old mtime heuristic a lock whose mtime lands in the
    future (writer-side clock skew) NEVER went stale → TimeoutError after
    30 s.  Waiter-observed staleness ignores mtime entirely: an unchanged
    token is stolen after lock_steal_after seconds of the waiter's own
    monotonic clock."""
    t, _ = _make(spark, tmp_path)
    lock = t._pointer() + ".lock"
    with open(lock, "w") as fh:
        fh.write("deadholder")
    os.utime(lock, (time.time() + 86400, time.time() + 86400))
    t.lock_steal_after = 0.3
    try:
        start = time.monotonic()
        t._advance_pointer(t.current_version())  # must steal, not time out
        assert time.monotonic() - start < 10.0
    finally:
        del t.lock_steal_after  # restore the class default
    assert not os.path.exists(lock)  # released after the publish


def test_pointer_lock_token_change_resets_staleness_clock(spark, tmp_path):
    """A live holder is identified by its token: while tokens keep
    changing (fresh holders), no steal happens, and the waiter acquires
    only once the lock is actually released."""
    t, _ = _make(spark, tmp_path)
    lock = t._pointer() + ".lock"
    t.lock_steal_after = 0.5
    stop = threading.Event()

    def churner():
        # a sequence of short-lived legitimate holders
        for i in range(20):
            if stop.is_set():
                return
            with open(lock, "w") as fh:
                fh.write(f"holder-{i}")
            time.sleep(0.05)
        os.unlink(lock)  # final holder releases cleanly

    th = threading.Thread(target=churner)
    th.start()
    try:
        t._advance_pointer(t.current_version())
    finally:
        stop.set()
        th.join()
        del t.lock_steal_after
    assert t.current_version() is not None  # publish completed


# -- 4. dead-claim self-heal ----------------------------------------------


def test_transact_self_heals_aged_dead_claim(spark, tmp_path):
    """A dir-less marker-less claim the reclaimer OBSERVES persist
    unchanged for claim_ttl (its own monotonic clock — round-12
    observed-persistence model) is a crashed writer: transact()'s retry
    loop must reclaim it and commit WITHOUT a manual recover_stale()."""
    t, schema = _make(spark, tmp_path)
    base = t.current_version()
    nxt = f"v-{int(base[2:]) + 1:08d}"
    open(t._claim_marker(nxt), "w").close()
    t.claim_ttl = 0.05  # observed window fits inside transact()'s sleeps
    t.transact(
        lambda df: df.unionByName(
            df.sparkSession.createDataFrame([("healed", 1)], schema)
        )
    )
    assert ("healed", 1) in _rows(t)
    assert t.current_version() == nxt  # the burnt number was RECLAIMED


def test_fresh_dead_claim_still_conflicts(spark, tmp_path):
    """Below the TTL a dir-less marker-less claim may be a writer
    microseconds from its rename: it must still conflict (and fail fast,
    before staging)."""
    t, _ = _make(spark, tmp_path)
    base = t.current_version()
    nxt = f"v-{int(base[2:]) + 1:08d}"
    open(t._claim_marker(nxt), "w").close()  # mtime = now
    with pytest.raises(CommitConflictError):
        t.commit_rewrite(t.read_version(base), base)
    assert [d for d in os.listdir(t.path) if d.startswith("stage-")] == []


def test_reclaim_never_touches_committed_or_inflight_claims(spark, tmp_path):
    """Aged claims whose version HAS a dir or a commit marker are not
    reclaimable — one is a committed snapshot, the other an in-flight
    writer between rename and marker."""
    t, schema = _make(spark, tmp_path, retain=3)
    # committed: v-00000002 exists with dir + marker + claim
    t.transact(
        lambda df: df.unionByName(
            df.sparkSession.createDataFrame([("x", 1)], schema)
        )
    )
    v2 = t.current_version()
    t.claim_ttl = 0.0  # even a fully-observed claim must be spared
    assert t._reclaim_dead_claim(v2) is False
    time.sleep(0.01)
    assert t._reclaim_dead_claim(v2) is False
    assert os.path.exists(t._claim_marker(v2))
    # in-flight: dir exists, marker missing
    nxt = f"v-{int(v2[2:]) + 1:08d}"
    os.makedirs(os.path.join(t.path, nxt))
    open(t._claim_marker(nxt), "w").close()
    assert t._reclaim_dead_claim(nxt) is False
    time.sleep(0.01)
    assert t._reclaim_dead_claim(nxt) is False


# -- 5. ensure() fail-fast ------------------------------------------------


def test_ensure_loser_never_stages(spark, tmp_path, monkeypatch):
    """With the creation claim already taken, a racing ensure() must wait
    for the winner's publish WITHOUT creating a stage dir of its own.  The
    winner publishes the one-empty-parquet-file first version older tables
    hold, which must stay readable."""
    schema = _schema()
    t = ParquetTable(spark, str(tmp_path), "race11", schema)
    os.makedirs(t.path, exist_ok=True)
    open(t._claim_marker("v-00000001"), "w").close()  # foreign fresh claim
    stages = []
    real_makedirs = os.makedirs

    def makedirs(path, *args, **kwargs):
        if os.path.basename(path).startswith("stage-"):
            stages.append(path)
        return real_makedirs(path, *args, **kwargs)

    monkeypatch.setattr(os, "makedirs", makedirs)

    def winner_publishes():
        time.sleep(0.3)
        w = ParquetTable(spark, str(tmp_path), "race11", schema)
        stage = os.path.join(w.path, "stage-winner")
        spark.createDataFrame([], schema).write.parquet(stage)
        os.rename(stage, os.path.join(w.path, "v-00000001"))
        w._write_atomic(w._commit_marker("v-00000001"), "")
        w._advance_pointer("v-00000001")

    th = threading.Thread(target=winner_publishes)
    th.start()
    try:
        t.ensure()
    finally:
        th.join()
    assert stages == []  # the loser staged NOTHING
    assert t.current_version() == "v-00000001"
    assert t.read().count() == 0


def test_ensure_self_heals_dead_creation_claim(spark, tmp_path):
    """A creation claim whose writer died (observed unchanged past
    claim_ttl, no dir, no marker) must not wedge ensure(): its wait loop
    observes, reclaims and creates."""
    schema = _schema()
    t = ParquetTable(spark, str(tmp_path), "heal11", schema)
    os.makedirs(t.path, exist_ok=True)
    open(t._claim_marker("v-00000001"), "w").close()
    t.claim_ttl = 0.1  # ensure()'s 10 ms poll loop supplies the observation
    t.ensure()
    assert t.current_version() == "v-00000001"
    assert t.read().count() == 0


# -- round-11 post-review hardening ----------------------------------------


def test_transact_retries_tombstone_retention_aging(spark, tmp_path):
    """Retention GC drops a version's merge-on-read tombstones together
    with its dir; a JVM error naming `v-XXXXXXXX/_tombstones/` is the
    same staleness and must retry, not re-raise (review #1)."""
    t, schema = _make(spark, tmp_path)
    state = {"first": True}

    def flaky(df):
        if state["first"]:
            state["first"] = False
            raise RuntimeError(
                f"java.io.FileNotFoundException: File {t.path}/"
                "v-00000001/_tombstones/part-0.parquet does not exist"
            )
        return df.unionByName(
            df.sparkSession.createDataFrame([("tombstoned", 1)], schema)
        )

    t.transact(flaky, max_attempts=3)
    assert ("tombstoned", 1) in _rows(t)


def test_reclaim_race_exactly_one_winner(spark, tmp_path):
    """N threads racing _reclaim_dead_claim on the same aged claim:
    exactly one may win (the destructive step is serialized on the
    pointer lock and re-verified under it — review #2)."""
    from concurrent.futures import ThreadPoolExecutor

    t, _ = _make(spark, tmp_path)
    nxt = f"v-{int(t.current_version()[2:]) + 1:08d}"
    open(t._claim_marker(nxt), "w").close()
    t.claim_ttl = 0.05
    assert t._reclaim_dead_claim(nxt) is False  # first sighting: observe
    time.sleep(0.12)
    with ThreadPoolExecutor(max_workers=8) as ex:
        wins = list(ex.map(lambda _: t._reclaim_dead_claim(nxt), range(8)))
    assert wins.count(True) == 1
    assert not os.path.exists(t._claim_marker(nxt))


def test_stalled_holder_release_spares_stealers_fresh_lock(spark, tmp_path):
    """A holder that stalls past the steal window must NOT unlink the
    lock on release once a stealer owns it (token mismatch) — the blind
    unlink would readmit a third writer mid-critical-section (review #3)."""
    t, _ = _make(spark, tmp_path)
    lock, token = t._acquire_pointer_lock()
    # simulate: waiter deemed us stale, stole, and re-acquired
    with open(lock, "w") as fh:
        fh.write("stealer-token")
    t._release_pointer_lock(lock, token)
    assert os.path.exists(lock)  # the stealer's lock survived our release
    with open(lock) as fh:
        assert fh.read() == "stealer-token"
    os.unlink(lock)
    # and the normal path still releases
    lock, token = t._acquire_pointer_lock()
    t._release_pointer_lock(lock, token)
    assert not os.path.exists(lock)


def test_unreadable_lock_times_out_instead_of_spinning(spark, tmp_path):
    """A lock path that persistently exists but cannot be read as a file
    (here: a directory) must end in TimeoutError after lock_timeout, not
    an unbounded 100%-CPU spin (review #4)."""
    t, _ = _make(spark, tmp_path)
    lock = t._pointer() + ".lock"
    os.makedirs(lock)  # O_EXCL -> FileExistsError; open() -> OSError forever
    t.lock_timeout = 0.5
    t.lock_steal_after = 10.0
    try:
        start = time.monotonic()
        with pytest.raises(TimeoutError, match="stuck"):
            t._acquire_pointer_lock()
        assert time.monotonic() - start < 5.0
    finally:
        del t.lock_timeout
        del t.lock_steal_after
        os.rmdir(lock)


def test_queries_surface_has_no_stdlib_leaks():
    """The wildcard re-export loop must not surface stdlib modules from
    any topical query module (review #5)."""
    import types

    from unstructured_data_pipeline_spark import queries as Q

    for name in ("time", "shutil", "tempfile"):
        leaked = getattr(Q, name, None)
        assert not isinstance(leaked, types.ModuleType) or not getattr(
            leaked, "__name__", ""
        ) == name, f"queries.{name} leaks the stdlib module"

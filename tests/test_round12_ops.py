"""Round-12: ADVICE r11 + round-12 review hardening of the OCC layer
(`operators/dml.py`).

ADVICE r11 findings, each regression-pinned here:
1. the pointer lock is born WITH its token (temp file + link(2), which
   fails EEXIST like O_EXCL) so it is never observable empty, and an
   empty/unreadable read counts as no-observation — distinct short-lived
   holders can no longer alias on '' and accrue false staleness;
2. dead-claim reclamation is OBSERVED, not clock-inferred: a persistent
   .obs sidecar records the claim's identity (inode + mtime_ns) at first
   sighting, and the claim is reclaimable only once that identity has
   persisted claim_ttl as measured between two SAME-FILESYSTEM mtimes
   (sidecar vs fresh probe file) — client-vs-server clock skew (NFS) can
   never reclaim a LIVE writer's fresh claim;
3. (retired) ensure() has no separate publish race left to clean up
   after: creation commits through the same claim path as every version;
4. occ_lifecycle's step 08 and these tests drive the heal through the
   observation protocol rather than mtime backdating.

Round-12 review findings (post-review hardening section below):
the on-disk sidecar replaces the first cut's in-memory first-seen map so
the heal converges across writer restarts; recover_stale() clears every
wedged-lock residue (empty lock, steal graves, age probes); a spurious
link(2) EEXIST (NFS lost reply) is disambiguated via st_nlink before the
waiter path.
"""

from __future__ import annotations

import os
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


def _make(spark, tmp_path, name="occ12", retain=1):
    schema = _schema()
    t = ParquetTable(spark, str(tmp_path), name, schema, retain=retain).ensure()
    t.append(spark.createDataFrame([("seed", 0)], schema))
    return t, schema


# -- 1. lock never observably empty ---------------------------------------


def test_pointer_lock_born_with_token(spark, tmp_path):
    """The lock file must contain the holder's token from the instant it
    exists (link-based creation): a waiter polling at any moment can
    never read it empty, so '' cannot alias distinct holders."""
    t, _ = _make(spark, tmp_path)
    lock, token = t._acquire_pointer_lock()
    try:
        with open(lock) as fh:
            assert fh.read() == token  # content present at birth
        # the temp token file was already cleaned up post-acquire
        residue = [d for d in os.listdir(t.path) if ".lock.tok-" in d]
        assert residue == []
    finally:
        t._release_pointer_lock(lock, token)
    assert not os.path.exists(lock)


def test_empty_lock_counts_as_no_observation(spark, tmp_path):
    """A (foreign/corrupt) EMPTY lock never starts the staleness clock —
    the waiter times out loudly instead of stealing what might be a
    holder it cannot identify."""
    t, _ = _make(spark, tmp_path)
    lock = t._pointer() + ".lock"
    open(lock, "w").close()  # empty: not a state this code can produce
    t.lock_steal_after = 0.2
    t.lock_timeout = 0.6
    try:
        with pytest.raises(TimeoutError, match="stuck"):
            t._acquire_pointer_lock()
        assert os.path.exists(lock)  # never stolen
    finally:
        del t.lock_steal_after
        del t.lock_timeout
        os.unlink(lock)


# -- 2. clock-skew-immune dead-claim reclamation ---------------------------


def test_backdated_fresh_claim_never_instantly_reclaimed(spark, tmp_path):
    """THE ADVICE r11 scenario: a LIVE writer's fresh claim whose mtime
    reads far in the past (client/filesystem clock skew, e.g. NFS) must
    NOT be reclaimed on sight — the reclaimer has observed it for ~0 s
    of its own clock.  Under the old mtime-age rule this reclaimed
    immediately and could orphan the live writer's commit."""
    t, _ = _make(spark, tmp_path)
    base = t.current_version()
    nxt = f"v-{int(base[2:]) + 1:08d}"
    open(t._claim_marker(nxt), "w").close()
    skewed = time.time() - 100 * ParquetTable.claim_ttl
    os.utime(t._claim_marker(nxt), (skewed, skewed))
    assert t._reclaim_dead_claim(nxt) is False  # first sighting only
    assert os.path.exists(t._claim_marker(nxt))
    # and the OCC commit path fail-fasts on it without staging
    with pytest.raises(CommitConflictError):
        t.commit_rewrite(t.read_version(base), base)
    assert [d for d in os.listdir(t.path) if d.startswith("stage-")] == []


def test_reclaim_observation_restarts_on_claim_replacement(spark, tmp_path):
    """If the observed claim is replaced by a DIFFERENT claim file at the
    same path (old one resolved, new writer claimed), the staleness clock
    restarts: the new instance must earn its own full window."""
    t, _ = _make(spark, tmp_path)
    base = t.current_version()
    nxt = f"v-{int(base[2:]) + 1:08d}"
    claim = t._claim_marker(nxt)
    open(claim, "w").close()
    t.claim_ttl = 0.05
    assert t._reclaim_dead_claim(nxt) is False  # observe instance A
    time.sleep(0.08)  # past the window for A...
    os.unlink(claim)
    with open(claim, "w") as fh:
        fh.write("B")  # ...but a FRESH instance B now holds the path
    assert t._reclaim_dead_claim(nxt) is False  # B: first sighting
    assert os.path.exists(claim)
    time.sleep(0.08)
    assert t._reclaim_dead_claim(nxt) is True  # B earned its own window


def test_transact_conflict_not_healed_within_default_ttl(spark, tmp_path):
    """With the production claim_ttl (60 s), one transact() call must NOT
    reclaim a just-created foreign claim — its retries span ~0.2 s of
    observation, far below the window — and must surface the conflict."""
    t, schema = _make(spark, tmp_path)
    base = t.current_version()
    open(t._claim_marker(f"v-{int(base[2:]) + 1:08d}"), "w").close()
    with pytest.raises(CommitConflictError):
        t.transact(
            lambda df: df.unionByName(
                df.sparkSession.createDataFrame([("late", 9)], schema)
            ),
            max_attempts=2,
        )


# -- 4. recover_stale sweeps crashed holders' token temp files -------------


def test_recover_stale_sweeps_lock_token_residue(spark, tmp_path):
    """A holder that dies between writing its .lock.tok- temp file and
    the cleanup in _acquire_pointer_lock's finally leaves a token file;
    recover_stale() (writers stopped) must remove it."""
    t, _ = _make(spark, tmp_path)
    residue = t._pointer() + ".lock.tok-deadbeef0000"
    with open(residue, "w") as fh:
        fh.write("orphaned-token")
    removed = t.recover_stale()
    assert os.path.basename(residue) in removed
    assert not os.path.exists(residue)


# -- round-12 post-review hardening ----------------------------------------


def test_dead_claim_heal_converges_across_instances(spark, tmp_path):
    """Review #1: the observation window lives ON DISK (the .obs sidecar,
    aged by same-filesystem mtimes), so a fleet of short-lived writers —
    one fresh ParquetTable instance per cron run — converges on the heal.
    The round-12 first cut kept first-seen state in instance memory, so a
    fresh instance could NEVER accumulate the window and transact() wedged
    forever on a crashed writer's claim."""
    schema = _schema()
    a = ParquetTable(spark, str(tmp_path), "conv12", schema).ensure()
    a.append(spark.createDataFrame([("seed", 0)], schema))
    nxt = f"v-{int(a.current_version()[2:]) + 1:08d}"
    open(a._claim_marker(nxt), "w").close()
    a.claim_ttl = 0.05
    assert a._reclaim_dead_claim(nxt) is False  # instance A sights+records
    claim = a._claim_marker(nxt)
    assert os.path.exists(claim + ".obs")  # the sighting is persistent
    del a  # A's "process" ends
    time.sleep(0.12)
    b = ParquetTable(spark, str(tmp_path), "conv12", schema)  # fresh run
    b.claim_ttl = 0.05
    assert b._reclaim_dead_claim(nxt) is True  # B inherits A's window
    assert not os.path.exists(claim)
    assert not os.path.exists(claim + ".obs")


def test_obs_sidecar_dropped_when_claim_resolves(spark, tmp_path):
    """A sighting sidecar must not outlive its claim's resolution: once
    the version commits, the next reclaim probe clears the stale .obs so
    a FUTURE claim at the same path starts a fresh window."""
    t, schema = _make(spark, tmp_path, name="obs12")
    base = t.current_version()
    nxt = f"v-{int(base[2:]) + 1:08d}"
    open(t._claim_marker(nxt), "w").close()
    t.claim_ttl = 0.05
    assert t._reclaim_dead_claim(nxt) is False  # sidecar written
    assert os.path.exists(t._claim_marker(nxt) + ".obs")
    # the claim's writer turns out alive: snapshot dir + marker land
    os.makedirs(os.path.join(t.path, nxt))
    t._write_atomic(t._commit_marker(nxt), base)
    assert t._reclaim_dead_claim(nxt) is False
    assert not os.path.exists(t._claim_marker(nxt) + ".obs")


def test_recover_stale_clears_wedged_lock_state(spark, tmp_path):
    """Review #2: recover_stale() (writers stopped) is the documented
    recovery path, so it must clear ALL pointer-lock crash residue — the
    lock itself (an empty/corrupt lock is unstealable by design), steal
    graves, and age probes."""
    t, _ = _make(spark, tmp_path, name="wedge12")
    lock = t._pointer() + ".lock"
    open(lock, "w").close()  # empty: permanently unstealable by waiters
    open(lock + ".stale-deadbeef", "w").close()  # crashed stealer's grave
    probe = os.path.join(t.path, ".now-probe-deadbeef0000")
    open(probe, "w").close()  # crashed reclaimer's age probe
    removed = t.recover_stale()
    for name in ("CURRENT.lock", "CURRENT.lock.stale-deadbeef",
                 ".now-probe-deadbeef0000"):
        assert name in removed
    assert not os.path.exists(lock)
    assert not os.path.exists(lock + ".stale-deadbeef")
    assert not os.path.exists(probe)
    # and the table still publishes normally afterwards
    t._advance_pointer(t.current_version())


def test_spurious_eexist_link_still_acquires(spark, tmp_path, monkeypatch):
    """Review #3: NFS can lose link(2)'s reply and the client retry then
    reports EEXIST even though the link LANDED.  The acquirer must detect
    st_nlink == 2 on its temp file and know it holds the lock, instead of
    watching its own token 'persist' and stealing its own lock 10 s
    later."""
    t, _ = _make(spark, tmp_path, name="nfs12")
    real_link = os.link

    def lost_reply_link(src, dst, **kw):
        real_link(src, dst, **kw)
        raise FileExistsError(17, "File exists (retransmitted)", dst)

    monkeypatch.setattr(os, "link", lost_reply_link)
    try:
        start = time.monotonic()
        lock, token = t._acquire_pointer_lock()
        assert time.monotonic() - start < 5.0  # no steal-window stall
    finally:
        monkeypatch.undo()
    with open(lock) as fh:
        assert fh.read() == token  # we hold OUR lock
    t._release_pointer_lock(lock, token)
    assert not os.path.exists(lock)

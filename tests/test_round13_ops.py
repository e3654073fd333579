"""Round-13: ADVICE r12 hardening of the OCC layer (`operators/dml.py`)
plus the recover_stale() executed-lifecycle surface (VERDICT r12 #6).

ADVICE r12 findings, each regression-pinned here:
1. the pointer-lock token temp file is fsynced BEFORE os.link publishes
   it, so a kernel crash can never resurrect a published lock with empty
   (unstealable) content;
2. a claim's reclamation identity includes its size and a digest of the
   unique creation cookie every claim now carries — same-inode
   same-mtime-quantum reuse (coarse-mtime NFS) can no longer let a FRESH
   claim inherit a previously-observed dead claim's reclamation window;
3. the OCC lifecycle driver rows (occ_lifecycle / occ_partitioned) wrap
   their scratch-table body in try/finally — an exception mid-lifecycle
   no longer leaks the mkdtemp directory;
4. recover_stale() sweeps crashed `_write_atomic` temp files
   (`*.tmp-*`: CURRENT / commit-marker / .obs / schema.json publishes
   that died between write and rename), which previously matched none of
   its patterns and persisted forever.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import types as T

from unstructured_data_pipeline_spark.operators.dml import ParquetTable


def _schema():
    return T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
        ]
    )


def _make(spark, tmp_path, name="occ13", retain=1):
    schema = _schema()
    t = ParquetTable(spark, str(tmp_path), name, schema, retain=retain).ensure()
    t.append(spark.createDataFrame([("seed", 0)], schema))
    return t, schema


# -- 1. lock token durable before publish ----------------------------------


def test_lock_token_fsynced_before_link(spark, tmp_path, monkeypatch):
    """os.fsync must run on the token temp file BEFORE os.link publishes
    it (crash durability: a link whose data never hit disk would come
    back empty — deliberately unstealable — after a power loss)."""
    t, _ = _make(spark, tmp_path)
    events = []
    real_fsync, real_link = os.fsync, os.link

    def spy_fsync(fd):
        events.append("fsync")
        return real_fsync(fd)

    def spy_link(src, dst):
        if ".lock" in dst:
            events.append("link")
        return real_link(src, dst)

    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "link", spy_link)
    lock, token = t._acquire_pointer_lock()
    t._release_pointer_lock(lock, token)
    assert "link" in events
    assert "fsync" in events[: events.index("link")]


# -- 2. cookie-digested claim identity -------------------------------------


def test_claims_born_with_unique_cookie(spark, tmp_path):
    """Every claim (a rewrite's and ensure()'s creation claim) carries a
    unique cookie, so no two claim instances this code creates can ever
    share a reclamation identity."""
    t, schema = _make(spark, tmp_path, retain=3)
    base = t.current_version()
    v = t.commit_rewrite(t.read_version(base), base)
    # commit_rewrite's claim: "<base>:<32-hex cookie>"
    with open(t._claim_marker(v)) as fh:
        body = fh.read()
    assert body.startswith(base + ":") and len(body) == len(base) + 1 + 32
    # ensure()'s creation claim on a fresh table: "create:<32-hex cookie>"
    t2 = ParquetTable(spark, str(tmp_path), "occ13b", schema).ensure()
    with open(t2._claim_marker("v-00000001")) as fh:
        body2 = fh.read()
    assert body2.startswith("create:") and len(body2) == len("create:") + 32


def test_same_inode_mtime_content_swap_restarts_window(spark, tmp_path):
    """The ADVICE r12 aliasing scenario: a claim whose inode AND
    mtime_ns are unchanged but whose CONTENT differs is a different
    claim instance — the observation window must restart, not be
    inherited.  (In-place rewrite + utime restore is the worst case a
    coarse-mtime filesystem's inode reuse can produce.)"""
    t, _ = _make(spark, tmp_path)
    nxt = f"v-{int(t.current_version()[2:]) + 1:08d}"
    claim = t._claim_marker(nxt)
    with open(claim, "w") as fh:
        fh.write("v-00000001:" + "a" * 32)
    st = os.stat(claim)
    t.claim_ttl = 0.05
    try:
        assert t._reclaim_dead_claim(nxt) is False  # first sighting
        import time

        time.sleep(0.15)  # aged well past claim_ttl
        # swap the content in place, then restore the exact mtime_ns —
        # identity (ino, mtime_ns) is now identical to the observed one
        with open(claim, "r+") as fh:
            fh.write("v-00000001:" + "b" * 32)
        os.utime(claim, ns=(st.st_atime_ns, st.st_mtime_ns))
        st2 = os.stat(claim)
        assert (st2.st_ino, st2.st_mtime_ns) == (st.st_ino, st.st_mtime_ns)
        assert t._reclaim_dead_claim(nxt) is False  # NEW instance: no reclaim
        time.sleep(0.15)
        assert t._reclaim_dead_claim(nxt) is True  # earned its own window
    finally:
        del t.claim_ttl


def test_scalar_obs_sidecar_reads_as_no_observation(spark, tmp_path):
    """A corrupt .obs sidecar holding a bare JSON scalar ('3') must read
    as no-observation (window restarts), not crash _reclaim_dead_claim
    with TypeError (round-13 review)."""
    t, _ = _make(spark, tmp_path)
    nxt = f"v-{int(t.current_version()[2:]) + 1:08d}"
    claim = t._claim_marker(nxt)
    with open(claim, "w") as fh:
        fh.write("v-00000001:" + "c" * 32)
    with open(claim + ".obs", "w") as fh:
        fh.write("3")
    assert t._reclaim_dead_claim(nxt) is False  # re-records, no crash
    import json

    with open(claim + ".obs") as fh:
        recorded = json.loads(fh.read())
    assert isinstance(recorded, list) and len(recorded) == 4
    os.unlink(claim)
    os.unlink(claim + ".obs")


# -- 3. lifecycle scratch dirs never leak ----------------------------------


@pytest.mark.parametrize(
    "fn_name, prefix",
    [
        ("occ_transact_lifecycle", "udp_occ_"),
        ("occ_partitioned_lifecycle", "udp_occp_"),
        ("occ_recover_stale_lifecycle", "udp_occr_"),
    ],
)
def test_lifecycle_cleans_scratch_on_error(
    spark, sf_dir, monkeypatch, fn_name, prefix
):
    """An exception mid-lifecycle (here: ensure() dying on step 01) must
    not leak the mkdtemp scratch directory (ADVICE r12)."""
    from unstructured_data_pipeline_spark import queries as Q
    from unstructured_data_pipeline_spark.operators import dml

    def boom(self):
        raise RuntimeError("wedged for test")

    monkeypatch.setattr(dml.ParquetTable, "ensure", boom)
    pattern = os.path.join(tempfile.gettempdir(), prefix + "*")
    before = set(glob.glob(pattern))
    with pytest.raises(RuntimeError, match="wedged"):
        getattr(Q, fn_name)(spark, sf_dir)
    assert set(glob.glob(pattern)) == before


# -- 4. recover_stale sweeps _write_atomic temp residues --------------------


def test_recover_stale_sweeps_write_atomic_temps(spark, tmp_path):
    """Crashed publishes leave `<target>.tmp-<pid>-<tag>` files that
    matched no pre-r13 pattern; recover_stale() (writers stopped) must
    remove every one and leave the table readable."""
    t, _ = _make(spark, tmp_path)
    residues = [
        "CURRENT.tmp-12345-ab",
        "v-00000002.claim.obs.tmp-12345-cd",
        "v-00000001.commit.tmp-12345-ef",
        "schema.json.tmp-12345-01",
    ]
    for r in residues:
        open(os.path.join(t.path, r), "w").close()
    removed = t.recover_stale()
    assert sorted(removed) == sorted(residues)
    for r in residues:
        assert not os.path.exists(os.path.join(t.path, r))
    # live files untouched, table intact
    assert os.path.exists(os.path.join(t.path, "CURRENT"))
    assert t.read().count() == 1
    assert t.recover_stale() == []

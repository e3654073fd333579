"""round 13: recover_stale() executed-lifecycle driver row (VERDICT r12
next-round #6 — "the one OCC surface whose evidence is still unit-only").

``ParquetTable.recover_stale()`` (`operators/dml.py`, symbol citation per
the round-12 convention) is the manual crash-recovery path: with writers
stopped it removes every entry of the table root that is not a ``v-*``
version dir, and hands the table back intact and writable.
This query deliberately plants one residue of every kind on a scratch
table —

* a ``stage-`` dir (a writer or a retention GC died partway);
* foreign residue shaped like the files of a claim-file commit protocol:
  a ``CURRENT`` pointer, a claim on the next number and a dir-less claim
  beyond it with its ``.obs`` observation sidecar, an EMPTY
  ``CURRENT.lock``, a ``.lock.tok-`` token temp, a ``.lock.stale-``
  steal grave and a ``.now-probe-`` age probe;
* two crashed ``_write_atomic`` temps (``CURRENT.tmp-*``,
  ``*.obs.tmp-*``) —

then runs the recovery and hash-gates, step by step: reads keep working
THROUGH the wedge (no residue is a version dir, so none changes the
published snapshot), the sweep removes exactly the 11 planted residues
and nothing else, the post-recovery read-back is bitwise-identical, and
the next ``transact()`` commits cleanly on the next version number.

Reference parity: the app delegates exactly this crash hygiene to
Snowflake's transactional engine (`app/Auto-Magic Document AI.py:185-195`
relies on MERGE atomicity; failed statements leave no partial state) —
the Spark-first form is this explicit residue sweep beside the
rename-committed version dirs.  Scale shape: every step is one snapshot
write plus one directory rename; recovery itself is a single O(dir-entry)
listing, and only per-step scalar aggregates reach the driver.
"""

from __future__ import annotations

from ._common import F, _c, _cents, _t


def occ_recover_stale_lifecycle(spark, sf_dir):
    """Seven-step crash-recovery lifecycle on a scratch table seeded from
    ``customer`` (every 10th key): create -> OCC seed -> OCC rewrite ->
    wedge (plant all 11 crash-residue classes; reads must still work) ->
    recover_stale() (exactly 11 removals; read-back intact) -> a clean
    post-recovery transact on the next version number -> final
    read-back.  Cites ``recover_stale()`` / ``transact()`` in
    `operators/dml.py`."""
    import os
    import shutil
    import tempfile

    from unstructured_data_pipeline_spark.operators.dml import ParquetTable

    seed = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", "c_acctbal")
    )
    root = tempfile.mkdtemp(prefix="udp_occr_")
    try:
        t = ParquetTable(spark, root, "occ_rec_scratch", seed.schema, retain=3)

        def stats():
            """(n_rows, sum_bal) of the CURRENT published snapshot."""
            row = (
                t.read()
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    (
                        F.coalesce(F.sum(_cents(F.col("c_acctbal"))), F.lit(0))
                        / 100.0
                    ).alias("s"),
                )
                .collect()[0]
            )
            return int(row.n), float(row.s)

        steps = []

        def record(step, version, n_items=0):
            n, s = stats()
            steps.append((step, version, n, n_items, len(t.versions()), s))

        # 01: CREATE commits v-00000001 by rename
        t.ensure()
        record("01_create", t.current_version())

        # 02: seed rows land via an OCC transact
        v = t.transact(lambda df: df.unionByName(seed))
        record("02_seed", v)

        # 03: serializable rewrite (+10 on every balance)
        v = t.transact(
            lambda df: df.withColumn("c_acctbal", F.col("c_acctbal") + 10.0)
        )
        record("03_bump", v)

        # 04: the wedge — one planted instance of every residue kind
        # recover_stale() sweeps.  n_items reports the plant count; the
        # read in record() proves residues never change the published
        # snapshot (none of them is a version dir).
        cur_n = int(t.current_version()[2:])
        nxt, deadclaim = f"v-{cur_n + 1:08d}", f"v-{cur_n + 2:08d}"
        residues = []

        def plant_file(name):
            open(os.path.join(t.path, name), "w").close()
            residues.append(name)

        os.makedirs(os.path.join(t.path, "stage-deadc0dedead"))
        residues.append("stage-deadc0dedead")
        plant_file("CURRENT")  # the older protocol's pointer
        plant_file(f"{nxt}.claim")  # died between claim and rename
        plant_file(f"{deadclaim}.claim")
        plant_file(f"{deadclaim}.claim.obs")  # its observation sidecar
        plant_file("CURRENT.lock")  # empty = unstealable corrupt lock
        plant_file("CURRENT.lock.tok-deadbeef0000")
        plant_file("CURRENT.lock.stale-dead")
        plant_file(".now-probe-deadbeef0000")
        plant_file("CURRENT.tmp-99999-aa")  # crashed _write_atomic pair
        plant_file(f"{deadclaim}.claim.obs.tmp-99999-bb")
        record("04_wedge", t.current_version(), n_items=len(residues))

        # 05: recovery with writers stopped — exactly the 11 planted
        # residues are removed (set-compared, so a sweep that touches
        # live state OR misses a class both fail the gate), and the
        # read-back is unchanged
        removed = t.recover_stale()
        n_removed = len(removed) if set(removed) == set(residues) else -1
        record("05_recover", t.current_version(), n_items=n_removed)

        # 06: the table is writable after the sweep: the transact
        # commits the next version number
        v = t.transact(
            lambda df: df.withColumn("c_acctbal", F.col("c_acctbal") + 5.0)
        )
        record("06_commit_after", v)

        # 07: final read-back from the published snapshot
        record("07_final", t.current_version())

    finally:
        # always runs — an exception mid-lifecycle must not leak the
        # scratch dir (ADVICE r12); `steps` is a driver-local list, so
        # the DataFrame built below never reads these files
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        steps,
        "step string, version string, n_rows long, n_items long, "
        "n_versions long, sum_bal double",
    ).orderBy("step")


OCC_RECOVERY_SQL = f"""
WITH seed AS (
  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 10 = 0
),
v3 AS (SELECT c_acctbal + 10.0 AS c_acctbal FROM seed),
v4 AS (SELECT c_acctbal + 5.0 AS c_acctbal FROM v3),
s AS (
  SELECT (SELECT COUNT(*) FROM seed) AS n,
         (SELECT COALESCE(SUM({_c('c_acctbal')}), 0) / 100.0 FROM seed) AS s2,
         (SELECT COALESCE(SUM({_c('c_acctbal')}), 0) / 100.0 FROM v3) AS s3,
         (SELECT COALESCE(SUM({_c('c_acctbal')}), 0) / 100.0 FROM v4) AS s4
)
SELECT step, version, n_rows, n_items, n_versions, sum_bal FROM (
  SELECT '01_create' AS step, 'v-00000001' AS version,
         CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_items,
         CAST(1 AS BIGINT) AS n_versions, CAST(0.0 AS DOUBLE) AS sum_bal
  UNION ALL SELECT '02_seed', 'v-00000002', n, 0, 2, s2 FROM s
  UNION ALL SELECT '03_bump', 'v-00000003', n, 0, 3, s3 FROM s
  UNION ALL SELECT '04_wedge', 'v-00000003', n, 11, 3, s3 FROM s
  UNION ALL SELECT '05_recover', 'v-00000003', n, 11, 3, s3 FROM s
  UNION ALL SELECT '06_commit_after', 'v-00000004', n, 0, 3, s4 FROM s
  UNION ALL SELECT '07_final', 'v-00000004', n, 0, 3, s4 FROM s
)
ORDER BY step
"""

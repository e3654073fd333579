"""round 11: optimistic-concurrency lifecycle driver row (VERDICT r10 #3).

The OCC layer (``operators/dml.py`` — ``commit_rewrite()``,
``transact()``, the committing rename of a staged version dir, retention
GC) had unit/race/probe evidence but no hash-gated driver row.
This query executes the whole protocol on a scratch ``ParquetTable`` and
reports one row per lifecycle step — committed version name, row count,
retained-snapshot count, and a cents-exact balance sum read back FROM THE
PUBLISHED SNAPSHOT after every commit — so the oracle falsifies any of:
a skipped/duplicated commit, a version number that didn't advance
monotonically, a lost update in the raced pair, retention GC keeping the
wrong window, or a leftover claim file of the older claim protocol
blocking or renumbering the next commit.

The race is deterministic by construction: both writers compute from the
same base and their rewrites commute (+2 and +1 on every balance), so the
conflict only reorders recomputes — the final table content and the full
version sequence are fixed.  Reference parity: the app's writers rely on
Snowflake's transactional MERGE/INSERT for exactly this lost-update
safety (`app/Auto-Magic Document AI.py:185-195,920-926`); the Spark-first
form is the rename-commit protocol exercised here.

Scale shape: every step is one snapshot write (the Delta/Iceberg commit
cost) plus one directory rename; only per-step scalar aggregates reach
the driver.
"""

from __future__ import annotations

from ._common import F, _c, _cents, _t

OCC_SEGMENT = "BUILDING"


def occ_transact_lifecycle(spark, sf_dir):
    """Nine-step OCC lifecycle on a scratch table seeded from ``customer``
    (every 10th key): create -> seed -> two sequential transacts -> a
    raced pair (winner commits, loser fail-fasts on the stale base
    WITHOUT staging, then retries optimistically on top of the winner)
    -> a commit past a leftover claim file -> final read-back.
    Cites ``transact()`` in `operators/dml.py` (symbol, not line — the
    line drifted between rounds; ADVICE r11) per VERDICT r10 #3."""
    # function-local stdlib imports: the package __init__ re-exports every
    # module-level name, so module-level imports would leak onto the
    # pinned flat surface (sibling-module convention)
    import os
    import shutil
    import tempfile

    from unstructured_data_pipeline_spark.operators.dml import (
        CommitConflictError,
        ParquetTable,
    )

    seed = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
    )
    root = tempfile.mkdtemp(prefix="udp_occ_")
    try:
        t = ParquetTable(spark, root, "occ_scratch", seed.schema, retain=3)

        def stats():
            """(n_rows, sum_bal) of the CURRENT published snapshot — one
            bounded-scalar aggregate per lifecycle step."""
            row = t.read().agg(
                F.count(F.lit(1)).alias("n"),
                (F.coalesce(F.sum(_cents(F.col("c_acctbal"))), F.lit(0)) / 100.0).alias(
                    "s"
                ),
            ).collect()[0]
            return int(row.n), float(row.s)

        steps = []

        def record(step, version):
            n, s = stats()
            steps.append((step, version, n, len(t.versions()), s))

        # 01: CREATE TABLE IF NOT EXISTS commits v-00000001 by rename
        t.ensure()
        record("01_create", t.current_version())

        # 02: seed rows land via an OCC transact
        v = t.transact(lambda df: df.unionByName(seed))
        record("02_seed", v)

        # 03/04: sequential serializable rewrites
        v = t.transact(
            lambda df: df.withColumn(
                "c_acctbal",
                F.when(
                    F.col("c_mktsegment") == OCC_SEGMENT, F.col("c_acctbal") + 100.0
                ).otherwise(F.col("c_acctbal")),
            )
        )
        record("03_inc_building", v)
        v = t.transact(lambda df: df.withColumn("c_acctbal", F.col("c_acctbal") + 10.0))
        record("04_inc_all", v)

        # 05/06/07: the raced pair — both writers compute from the same base;
        # the +2 writer commits first, the +1 writer's direct commit_rewrite
        # fail-fasts on its stale base (no stage- dir is ever created), then
        # lands via transact() ON TOP of the winner (lost update impossible)
        base = t.current_version()
        winner = t.read_version(base).withColumn(
            "c_acctbal", F.col("c_acctbal") + 2.0
        )
        loser = t.read_version(base).withColumn("c_acctbal", F.col("c_acctbal") + 1.0)
        v = t.commit_rewrite(winner, base)
        record("05_race_winner", v)
        try:
            t.commit_rewrite(loser, base)
            conflict = "MISSED"  # would be a lost-update bug — oracle catches it
        except CommitConflictError:
            staged = [d for d in os.listdir(t.path) if d.startswith("stage-")]
            conflict = f"conflict@{t.current_version()}" if not staged else "STAGED"
        record("06_race_loser_conflict", conflict)
        v = t.transact(lambda df: df.withColumn("c_acctbal", F.col("c_acctbal") + 1.0))
        record("07_race_loser_retry", v)

        # 08: a claim file on the next number, as a writer of the older
        # claim protocol left it when it died before its rename, does not
        # block the next commit: the rename is the only commit point, so
        # transact() commits that number on its first attempt
        dead = f"v-{int(t.current_version()[2:]) + 1:08d}"
        open(os.path.join(t.path, f"{dead}.claim"), "w").close()
        v = t.transact(lambda df: df)
        record("08_dead_claim_selfheal", v)

        # 09: final read-back from the published snapshot
        record("09_final", t.current_version())

    finally:
        # always runs — an exception mid-lifecycle must not leak the
        # scratch dir (ADVICE r12); `steps` is a driver-local list, so
        # the DataFrame built below never reads these files
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        steps, "step string, version string, n_rows long, n_versions long, sum_bal double"
    ).orderBy("step")


OCC_LIFECYCLE_SQL = f"""
WITH seed AS (
  SELECT c_custkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
),
v3 AS (
  SELECT CASE WHEN c_mktsegment = '{OCC_SEGMENT}'
              THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
  FROM seed
),
v4 AS (SELECT c_acctbal + 10.0 AS c_acctbal FROM v3),
v5 AS (SELECT c_acctbal + 2.0 AS c_acctbal FROM v4),
v6 AS (SELECT c_acctbal + 1.0 AS c_acctbal FROM v5),
s AS (
  SELECT (SELECT COUNT(*) FROM seed) AS n,
         (SELECT COALESCE(SUM({_c('c_acctbal')}), 0) / 100.0 FROM seed) AS s2,
         (SELECT COALESCE(SUM({_c('c_acctbal')}), 0) / 100.0 FROM v3) AS s3,
         (SELECT COALESCE(SUM({_c('c_acctbal')}), 0) / 100.0 FROM v4) AS s4,
         (SELECT COALESCE(SUM({_c('c_acctbal')}), 0) / 100.0 FROM v5) AS s5,
         (SELECT COALESCE(SUM({_c('c_acctbal')}), 0) / 100.0 FROM v6) AS s6
)
SELECT step, version, n_rows, n_versions, sum_bal FROM (
  SELECT '01_create' AS step, 'v-00000001' AS version,
         CAST(0 AS BIGINT) AS n_rows, CAST(1 AS BIGINT) AS n_versions,
         CAST(0.0 AS DOUBLE) AS sum_bal
  UNION ALL SELECT '02_seed', 'v-00000002', n, 2, s2 FROM s
  UNION ALL SELECT '03_inc_building', 'v-00000003', n, 3, s3 FROM s
  UNION ALL SELECT '04_inc_all', 'v-00000004', n, 3, s4 FROM s
  UNION ALL SELECT '05_race_winner', 'v-00000005', n, 3, s5 FROM s
  UNION ALL SELECT '06_race_loser_conflict', 'conflict@v-00000005', n, 3, s5 FROM s
  UNION ALL SELECT '07_race_loser_retry', 'v-00000006', n, 3, s6 FROM s
  UNION ALL SELECT '08_dead_claim_selfheal', 'v-00000007', n, 3, s6 FROM s
  UNION ALL SELECT '09_final', 'v-00000007', n, 3, s6 FROM s
)
ORDER BY step
"""

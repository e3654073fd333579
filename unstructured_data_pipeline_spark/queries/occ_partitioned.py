"""round 12: OCC × hive-partitioned-table lifecycle driver row (VERDICT
r11 next-round #6).

The hive-layout-preserving OCC commit path on
:class:`~unstructured_data_pipeline_spark.operators.dml.PartitionedParquetTable`
(``_write_snapshot`` override: ``commit_rewrite`` stages with
``partitionBy`` so an OCC snapshot keeps its ``pcol=value/`` dirs) had
unit evidence only.  This query executes the full protocol on a scratch
partitioned table and hash-gates every step against a DuckDB oracle,
falsifying any of:

* an OCC commit flattening the hive layout (step 03 counts the
  ``seg=`` dirs ON DISK inside the OCC-committed version dir);
* a lost update in the raced commit pair, or a loser that stages;
* a partition-PRUNED merge landing wrong rows when its base
  snapshot was OCC-committed — the exact regression the
  ``_write_snapshot`` override exists to prevent (a flat snapshot would
  make the pruned merge find no partitions and silently degrade);
* the metadata-only carry being lost: step 08 counts the partition
  dirs of the merged version whose parquet files are all HARDLINKS
  (st_nlink >= 2) — exactly the untouched partitions.

Partitioning uses a derived segment ``seg = 's' || ((c_custkey DIV 10)
% 4)`` so all four partitions are populated at every fixture scale
(``c_mktsegment`` coverage is not guaranteed in the sf0.001 every-10th
sample).  Scale shape: each OCC step is one partitioned snapshot write;
the pruned merge reads/writes ONLY the touched partition and hardlinks
the other three (O(touched + batch), not O(table)); per-step scalar
aggregates only reach the driver.

Reference parity: the app relies on Snowflake transactional MERGE for
multi-writer safety and micro-partition pruning for merge cost
(`app/Auto-Magic Document AI.py:185-195,920-926`); the Spark-first form
is this Delta-style claim protocol over hive copy-on-write.
"""

from __future__ import annotations

from ._common import F, _c, _cents, _t

OCC_PART_SEGMENT = "s1"


def occ_partitioned_lifecycle(spark, sf_dir):
    """Nine-step OCC lifecycle on a hive-partitioned scratch table:
    create -> OCC seed -> on-disk layout check -> OCC partition-targeted
    rewrite -> raced commit pair (loser fail-fasts without staging) ->
    partition-pruned merge ON TOP of the OCC-committed snapshot ->
    hardlink-carry check -> final read-back.  Cites ``transact()`` /
    ``commit_rewrite()`` / ``PartitionedParquetTable._write_snapshot``
    in `operators/dml.py` (symbols, per the round-12 citation
    convention)."""
    import os
    import shutil
    import tempfile

    from unstructured_data_pipeline_spark.operators.dml import (
        CommitConflictError,
        PartitionedParquetTable,
    )

    seed = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            "c_acctbal",
            F.concat(
                F.lit("s"),
                (F.expr("c_custkey DIV 10") % 4).cast("string"),
            ).alias("seg"),
        )
    )
    root = tempfile.mkdtemp(prefix="udp_occp_")
    try:
        t = PartitionedParquetTable(
            spark, root, "occ_part_scratch", seed.schema, ["seg"], retain=3
        )

        def stats():
            """(n_rows, n_parts, sum_bal) of the CURRENT published snapshot."""
            row = (
                t.read()
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.countDistinct("seg").alias("p"),
                    (
                        F.coalesce(F.sum(_cents(F.col("c_acctbal"))), F.lit(0))
                        / 100.0
                    ).alias("s"),
                )
                .collect()[0]
            )
            return int(row.n), int(row.p), float(row.s)

        steps = []

        def record(step, version, n_parts=None):
            n, p, s = stats()
            steps.append(
                (step, version, n, p if n_parts is None else n_parts,
                 len(t.versions()), s)
            )

        # 01: claim-protocol CREATE (inherited ensure(); empty hive snapshot)
        t.ensure()
        record("01_create", t.current_version())

        # 02: seed rows land via an OCC transact — commit_rewrite stages
        # through the partitioned _write_snapshot override
        v = t.transact(lambda df: df.unionByName(seed))
        record("02_seed_occ", v)

        # 03: THE cad5e38 layout check, on disk: the OCC-committed version
        # dir must hold one hive dir per populated segment (a flat snapshot
        # here would silently degrade every later pruned merge)
        vdir = os.path.join(t.path, t.current_version())
        disk_parts = sum(
            1
            for d in os.listdir(vdir)
            if d.startswith("seg=") and os.path.isdir(os.path.join(vdir, d))
        )
        record("03_layout_disk", t.current_version(), n_parts=disk_parts)

        # 04: OCC rewrite targeting one partition's rows
        v = t.transact(
            lambda df: df.withColumn(
                "c_acctbal",
                F.when(
                    F.col("seg") == OCC_PART_SEGMENT, F.col("c_acctbal") + 100.0
                ).otherwise(F.col("c_acctbal")),
            )
        )
        record("04_occ_bump_s1", v)

        # 05/06: raced pair from the same base — winner commits +2 on all,
        # loser fail-fasts on the burnt claim WITHOUT staging
        base = t.current_version()
        winner = t.read_version(base).withColumn(
            "c_acctbal", F.col("c_acctbal") + 2.0
        )
        loser = t.read_version(base).withColumn(
            "c_acctbal", F.col("c_acctbal") + 1.0
        )
        v = t.commit_rewrite(winner, base)
        record("05_race_winner", v)
        try:
            t.commit_rewrite(loser, base)
            conflict = "MISSED"  # lost-update bug — the oracle catches it
        except CommitConflictError:
            staged = [d for d in os.listdir(t.path) if d.startswith("stage-")]
            conflict = f"conflict@{t.current_version()}" if not staged else "STAGED"
        record("06_race_loser_conflict", conflict)

        # 07: partition-pruned merge on top of the OCC-committed
        # snapshot — keys include the partition column, so the merge is
        # statically partition-local (no complement scan); only seg=s1 is
        # read and rewritten, the other three partitions are hardlink-carried
        batch = (
            t.read()
            .filter(F.col("seg") == OCC_PART_SEGMENT)
            .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
        )
        t.upsert(batch, keys=["c_custkey", "seg"])
        record("07_pruned_merge_after_occ", t.current_version())

        # 08: the metadata-only carry, on disk: partition dirs of the merged
        # version whose parquet files are ALL hardlinks (st_nlink >= 2) are
        # exactly the untouched partitions
        vdir = os.path.join(t.path, t.current_version())
        carried = 0
        for d in os.listdir(vdir):
            full = os.path.join(vdir, d)
            if not (d.startswith("seg=") and os.path.isdir(full)):
                continue
            pq = [
                os.path.join(b, f)
                for b, _dirs, fs in os.walk(full)
                for f in fs
                if f.endswith(".parquet")
            ]
            if pq and all(os.stat(f).st_nlink >= 2 for f in pq):
                carried += 1
        record("08_carried_hardlinks", t.current_version(), n_parts=carried)

        # 09: final read-back from the published snapshot
        record("09_final", t.current_version())

    finally:
        # always runs — an exception mid-lifecycle must not leak the
        # scratch dir (ADVICE r12); `steps` is a driver-local list, so
        # the DataFrame built below never reads these files
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        steps,
        "step string, version string, n_rows long, n_parts long, "
        "n_versions long, sum_bal double",
    ).orderBy("step")


OCC_PARTITIONED_SQL = f"""
WITH seed AS (
  SELECT c_custkey, c_acctbal,
         's' || CAST((c_custkey // 10) % 4 AS VARCHAR) AS seg
  FROM customer WHERE c_custkey % 10 = 0
),
v3 AS (
  SELECT seg, CASE WHEN seg = '{OCC_PART_SEGMENT}'
              THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
  FROM seed
),
v4 AS (SELECT seg, c_acctbal + 2.0 AS c_acctbal FROM v3),
v5 AS (
  SELECT seg, CASE WHEN seg = '{OCC_PART_SEGMENT}'
              THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal
  FROM v4
),
s AS (
  SELECT (SELECT COUNT(*) FROM seed) AS n,
         (SELECT COUNT(DISTINCT seg) FROM seed) AS p,
         (SELECT COALESCE(SUM({_c('c_acctbal')}), 0) / 100.0 FROM seed) AS s2,
         (SELECT COALESCE(SUM({_c('c_acctbal')}), 0) / 100.0 FROM v3) AS s3,
         (SELECT COALESCE(SUM({_c('c_acctbal')}), 0) / 100.0 FROM v4) AS s4,
         (SELECT COALESCE(SUM({_c('c_acctbal')}), 0) / 100.0 FROM v5) AS s5
)
SELECT step, version, n_rows, n_parts, n_versions, sum_bal FROM (
  SELECT '01_create' AS step, 'v-00000001' AS version,
         CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_parts,
         CAST(1 AS BIGINT) AS n_versions, CAST(0.0 AS DOUBLE) AS sum_bal
  UNION ALL SELECT '02_seed_occ', 'v-00000002', n, p, 2, s2 FROM s
  UNION ALL SELECT '03_layout_disk', 'v-00000002', n, p, 2, s2 FROM s
  UNION ALL SELECT '04_occ_bump_s1', 'v-00000003', n, p, 3, s3 FROM s
  UNION ALL SELECT '05_race_winner', 'v-00000004', n, p, 3, s4 FROM s
  UNION ALL SELECT '06_race_loser_conflict', 'conflict@v-00000004', n, p, 3, s4 FROM s
  UNION ALL SELECT '07_pruned_merge_after_occ', 'v-00000005', n, p, 3, s5 FROM s
  UNION ALL SELECT '08_carried_hardlinks', 'v-00000005', n, p - 1, 3, s5 FROM s
  UNION ALL SELECT '09_final', 'v-00000005', n, p, 3, s5 FROM s
)
ORDER BY step
"""

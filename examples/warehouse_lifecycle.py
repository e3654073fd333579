#!/usr/bin/env python
"""End-to-end warehouse-table lifecycle on the versioned parquet layer:

    create -> append -> partitioned MERGE -> schema evolution
           -> merge-on-read DELETE -> fold -> zero-copy CLONE
           -> time travel -> CDC diff -> incremental view maintenance

Run:  python examples/warehouse_lifecycle.py [sf_dir]
Every step is the same operator a registry query hash-gates (see the
`merge_partitioned_lifecycle`, `mor_delete_lifecycle_report`,
`table_clone_report`, `table_time_travel_report`,
`table_changes_stream_report`, and `ivm_rollup_maintenance` entries);
this script strings them into the one story a warehouse user lives.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from unstructured_data_pipeline_spark import get_spark
from unstructured_data_pipeline_spark.operators.dml import (
    ParquetTable,
    snapshot_diff,
)
from unstructured_data_pipeline_spark.operators.ivm import maintain_grouped_agg


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="udp-warehouse-demo")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="udp_demo_")

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("bal_cents"),
    )
    t = ParquetTable(spark, root, "customers", cust.schema, retain=3)
    t.append(cust)
    n0 = t.read().count()
    print(f"created + appended: {n0} rows, version {t.current_version()}")

    # MERGE: bump one segment's balances (copy-on-write snapshot publish)
    batch = cust.filter(F.col("c_mktsegment") == "BUILDING").withColumn(
        "bal_cents", F.col("bal_cents") + 100
    )
    before = t.read()
    t.upsert(batch, ["c_custkey"])
    print(f"merged {batch.count()} rows -> version {t.current_version()}")

    # CDC: what changed between the snapshots?
    diff = snapshot_diff(before, t.read(), ["c_custkey"])
    print("cdc actions:", {r["action"]: r["n"] for r in
                           diff.groupBy("action").agg(F.count(F.lit(1)).alias("n")).collect()})

    # IVM: maintain a per-segment rollup from the deltas, never the base
    base_view = before.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("bal_cents").alias("sum_measure")
    )
    maintained = maintain_grouped_agg(
        base_view,
        snapshot_diff(before, t.read(), ["c_custkey"], before=True),
        "c_mktsegment",
        "bal_cents",
    )
    recomputed = t.read().groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("bal_cents").alias("sum_measure")
    )
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, recomputed.collect())
    )
    print("ivm rollup == recompute: ok")

    # schema evolution: metadata-only ADD COLUMN with a default
    from pyspark.sql import types as T

    t.add_column("tier", T.StringType(), default="standard")
    print("added column 'tier' (no data files rewritten)")

    # merge-on-read DELETE: O(keys) tombstones, folded by the next rewrite
    victims = t.read().filter(F.col("bal_cents") < 0).select("c_custkey")
    nv = victims.count()
    t.delete_keys_mor(victims, ["c_custkey"])
    print(f"mor-deleted {nv} keys; visible rows: {t.read().count()}")
    t.compact()
    print(f"folded tombstones -> version {t.current_version()}; "
          f"rows: {t.read().count()}")

    # zero-copy clone + divergence
    c = t.clone("customers_dev")
    c.delete_where(F.col("c_mktsegment") == "MACHINERY")
    print(f"clone diverged: source {t.read().count()} rows, "
          f"clone {c.read().count()} rows")

    # time travel across retained snapshots
    vs = t.versions()
    print(f"retained snapshots: {vs}; AS-OF first retained: "
          f"{t.read_version(vs[0]).count()} rows")

    # optimistic multi-writer commits (r10): two writers race from the
    # same snapshot; the loser conflicts and transact() retries from the
    # winner's — both updates land, lost-update impossible
    from unstructured_data_pipeline_spark.operators.dml import (
        CommitConflictError,
    )

    base = t.current_version()
    stamp = lambda seg, v: t.read_version(base).withColumn(
        "tier", F.when(F.col("c_mktsegment") == seg, F.lit(v)).otherwise(
            F.col("tier")
        )
    )
    t.commit_rewrite(stamp("BUILDING", "gold"), base)  # writer B wins
    try:
        t.commit_rewrite(stamp("MACHINERY", "silver"), base)  # stale base
    except CommitConflictError as e:
        print(f"occ conflict detected: {e}")
    t.transact(  # writer A retries on the winner's snapshot
        lambda df: df.withColumn(
            "tier",
            F.when(F.col("c_mktsegment") == "MACHINERY", F.lit("silver"))
            .otherwise(F.col("tier")),
        )
    )
    tiers = {r["tier"] for r in t.read().select("tier").distinct().collect()}
    assert {"gold", "silver"} <= tiers  # both writers' effects persisted
    print(f"occ multi-writer: both updates landed, version "
          f"{t.current_version()}")

    shutil.rmtree(root, ignore_errors=True)
    print("warehouse lifecycle: complete")
    spark.stop()


if __name__ == "__main__":
    main()

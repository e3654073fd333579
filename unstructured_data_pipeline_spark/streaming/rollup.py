"""Continuous (hypertable-style) rollup: a time-bucketed aggregate table
maintained incrementally by a stream — the Structured Streaming answer to
TimescaleDB continuous aggregates / materialized rollups.

Each micro-batch contributes a PARTIAL aggregate (map-side combinable),
which is additively merged into the rollup table keyed by
(bucket, dimension).  Only ADDITIVE metrics participate (counts, sums —
the hypertable restriction); mergeable-distinct needs a sketch column
(see `queries.kmv_distinct_sketch` for the deterministic KMV shape).

Exactly-once: foreachBatch delivery is at-least-once, and an additive
merge double-counts on replay — so each table version carries the
batch-id high-watermark it was built from (the `_last_batch` ledger
inside the version dir, committed with the rows in one commit — the
Structured Streaming rule that a sink's output and its progress commit
together; `operators/dml.py` owns it, and every later rewrite of the
table, `compact()` included, carries it) and `merge_rollup_batch` skips
batches at-or-below it.  Replays of the same epoch therefore no-op, even
after a crash at any point of the merge, and the final table equals the
one-shot batch aggregate regardless of how arrivals were micro-batched
(tested, and oracle-checked via `queries.continuous_rollup_events`).  The
merge goes through the table's one write loop (`ParquetTable._write`): a
merge that loses a commit race to another writer is rebuilt on the
winner's version instead of raising out of `foreachBatch` and stopping
the stream.

At scale: the per-batch partial agg shuffles only the batch's rows; the
merge joins the (small) partial against the rollup table on the bucket
key.  The table rewrite is O(rollup size) per batch via the versioned
snapshot layer — bounded because rollups are aggregates, not raw data;
a production deployment swaps in a merge-on-read table format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unstructured_data_pipeline_spark.operators.dml import ParquetTable


def merge_rollup_batch(
    table: ParquetTable,
    partial: DataFrame,
    keys: list[str],
    metrics: list[str],
    batch_id: int,
) -> bool:
    """Additively merge one micro-batch's partial aggregate; returns False
    (no-op) for an already-applied ``batch_id`` (replay)."""
    p = partial.select(*keys, *[F.col(m).alias(f"{m}_p") for m in metrics])

    def fill_for(base: str):
        # suffix the metric columns per side; USING full-outer join
        # coalesces the key columns natively
        cur = table.read_version(base).select(
            *keys, *[F.col(m).alias(f"{m}_c") for m in metrics]
        )
        merged = cur.join(p, keys, "full_outer").select(
            *keys,
            *[
                (
                    F.coalesce(F.col(f"{m}_c"), F.lit(0).cast("long"))
                    + F.coalesce(F.col(f"{m}_p"), F.lit(0).cast("long"))
                ).alias(m)
                for m in metrics
            ],
        )
        return lambda stage: table._write_snapshot(merged, stage)

    return table._write(fill_for, batch_id) is not None

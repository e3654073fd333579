"""Incremental view maintenance (IVM) for grouped aggregates.

`streaming/rollup.py` maintains a rollup under APPEND-only arrivals; this
module maintains one under arbitrary CDC — inserts, deletes, and updates
including group moves — without touching the base table.  That is the
100 TB shape: the materialized aggregate of a huge base table is refreshed
from the (small) change set alone; a full recompute would re-scan
everything for a handful of changed rows.

The algebra is the classic delta-processing form (self-maintainable
SUM/COUNT views): every change row becomes at most two signed delta rows —

    INSERT  ->  (+1, +measure)           at the new group
    DELETE  ->  (-1, -measure_before)    at the old group
    UPDATE  ->  (-1, -measure_before) at the old group
                (+1, +measure)        at the new group
                (collapses to a pure measure delta when the group is
                unchanged; handles group moves exactly)

and the maintained view is ``base ∪ deltas`` re-aggregated, dropping
groups whose maintained count reaches zero (matching a recompute, which
never emits empty groups).  MIN/MAX are NOT self-maintainable under
deletes (a retracted extremum needs the base data) — out of scope here by
design.

Scale: the only distributed work is one groupBy over |view| + |changes|
rows (the view is small by definition; changes are the delta, not the
base).  All delta derivation is row-local.  Change rows come from
`dml.snapshot_diff(..., before=True)` or any CDC feed with before-images.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["maintain_grouped_agg"]


def maintain_grouped_agg(
    base: DataFrame,
    changes: DataFrame,
    group_col: str,
    measure_col: str,
) -> DataFrame:
    """Maintain a ``(group, count, sum)`` view under a CDC change set.

    ``base`` has columns ``(group_col, "n_rows", "sum_measure")``; ``changes``
    is a `snapshot_diff(..., before=True)` output carrying ``action``,
    the after-image ``group_col``/``measure_col`` and before-images
    ``before_<group_col>``/``before_<measure_col>``.  NOOP rows are
    ignored.  Returns the maintained view with the same three columns.

    CONTRACT: the measure column must be an INTEGRAL type (validated
    below).  Retraction-based maintenance is only exact when addition is —
    a float measure could not be retracted bit-exactly (FP addition is
    non-associative, so ``x + (-x)`` inside a re-aggregated group need not
    restore the recompute value), and silently casting would truncate.
    Scale measures to integers first (the `_cents` fixed-point trick).
    """
    mtype = changes.schema[measure_col].dataType.simpleString()
    if mtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"maintain_grouped_agg requires an integral measure column; "
            f"{measure_col!r} is {mtype}. Quantize floats/decimals to an "
            "integer fixed-point column first (exact retraction needs "
            "exact addition)."
        )
    count_col, sum_col = "n_rows", "sum_measure"
    bg, bm = f"before_{group_col}", f"before_{measure_col}"
    ch = changes.filter(F.col("action") != "NOOP")
    retract = ch.filter(F.col("action").isin("DELETE", "UPDATE")).select(
        F.col(bg).alias(group_col),
        F.lit(-1).cast("long").alias(count_col),
        (-F.col(bm)).cast("long").alias(sum_col),
    )
    assert_ = ch.filter(F.col("action").isin("INSERT", "UPDATE")).select(
        F.col(group_col),
        F.lit(1).cast("long").alias(count_col),
        F.col(measure_col).cast("long").alias(sum_col),
    )
    deltas = retract.unionByName(assert_)
    merged = (
        base.select(group_col, count_col, sum_col)
        .unionByName(deltas)
        .groupBy(group_col)
        .agg(
            F.sum(count_col).alias(count_col),
            F.sum(sum_col).alias(sum_col),
        )
        .filter(F.col(count_col) > 0)
    )
    return merged

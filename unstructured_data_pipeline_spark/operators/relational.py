"""Relational operators beyond the reference's surface: as-of join,
latest-per-key.

These extend the engine toward general event analytics (the `events` fixture
table) while staying pure DataFrame — single window shuffle each, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """One row per key: the first row under ``order_by`` (descending orders
    give you "latest").  W1 generalized."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """As-of join: for each left row, the single right row with the same key
    and the greatest right_ts <= left_ts.  Right columns come out suffixed
    ``_r``.

    Implementation: union-and-window — tag both sides, sort within key by
    time, carry the last-seen right row forward with ``last(ignorenulls)``.
    The left payload rides along in the union (nulled on right-side rows),
    so every left row maps to exactly one output row: genuinely duplicate
    left rows each survive, and tied right rows at the same (key, ts) can
    never fan the output out.  Among tied right rows the one with the
    largest ``xxhash64`` of its payload wins — arbitrary but deterministic.
    One shuffle on the key, no range-explosion join; robust to skewed keys
    at 100 TB scale (a direct ``join + filter + row_number`` materializes
    |left_key| x |right_key| pairs; this never does).
    """
    suffix = "_r"
    rcols = [c for c in right.columns if c not in (on, right_ts)]
    lcols = [c for c in left.columns if c != on]  # includes left_ts
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.xxhash64(*[F.col(c) for c in right.columns]).alias("_rtie"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(c + suffix) for c in rcols],
        F.col(right_ts).alias(right_ts + suffix),
    )
    l = left.select(
        F.col(on),
        F.col(left_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast("long").alias("_rtie"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c + suffix) for c in rcols],
        F.lit(None).cast(right.schema[right_ts].dataType).alias(right_ts + suffix),
    )
    both = l.unionByName(r)

    # right rows sort before left rows at equal ts (<=), then carry forward
    order = [F.col("_ts").asc(), F.col("_side").desc(), F.col("_rtie").asc()]
    w = Window.partitionBy(on).orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    carried = [
        F.last(F.col(c + suffix), ignorenulls=True).over(w).alias(c + suffix)
        for c in rcols + [right_ts]
    ]
    return (
        both.select(on, "_side", *lcols, *carried)
        .filter(F.col("_side") == 0)
        .drop("_side")
    )


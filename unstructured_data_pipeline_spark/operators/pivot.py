"""Dynamic pivot, long EAV -> wide matrix (C5 in SURVEY.md section 2.10).

The reference builds a dynamically-widening result matrix client-side as new
extraction keys appear (`app/Auto-Magic Document AI.py:890-899`, single-SQL
variant `:956-964`).  In Spark that's ``groupBy(key).pivot(field).agg(first)``.

Scale note: pass ``values`` whenever the field domain is known (it is — the
prompt schema defines it): Spark then skips the extra distinct-collect job,
and the plan is a single shuffle.  Unknown domains fall back to
``.pivot(field)`` which runs a distinct first (bounded by
spark.sql.pivotMaxValues).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dynamic_pivot(
    eav: DataFrame,
    key_cols: list[str],
    field_col: str = "field_name",
    value_col: str = "field_value",
    values: list[str] | None = None,
) -> DataFrame:
    """One row per ``key_cols``, one column per field, holding the first
    value seen for that field (the EAV table has one value per key and
    field)."""
    g = eav.groupBy(*key_cols)
    p = g.pivot(field_col, values) if values else g.pivot(field_col)
    return p.agg(F.first(F.col(value_col)))

"""Fixture-table loading (driver-generated parquet, TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from unstructured_data_pipeline_spark.schemas import FIXTURE_TABLES


def load_fixture_tables(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load the parquet fixture tables under ``sf_dir`` as DataFrames.

    Plain ``spark.read.parquet`` so Catalyst keeps full pushdown/pruning:
    filters and projections written against these frames reach the scan
    (check with ``df.explain`` -> PushedFilters / ReadSchema).
    """
    out: dict[str, DataFrame] = {}
    for name in tables or FIXTURE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            if name == "events":
                # events.parquet carries nanosecond timestamps; normalize
                # ts to BIGINT epoch-micros across Spark versions
                from unstructured_data_pipeline_spark.queries import _events

                out[name] = _events(spark, sf_dir)
            else:
                out[name] = spark.read.parquet(path)
    return out

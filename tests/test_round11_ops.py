"""Round-11: ADVICE r10 hardening of the OCC layer (`operators/dml.py`).

Finding regression-pinned here: transact()'s retryable-staleness
detection is narrowed to (a) our own typed+format-stable read_version
error and (b) JVM messages naming a retained-VERSION dir — caller bugs
mentioning the table path re-raise.
"""

from __future__ import annotations

import os

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


def _make(spark, tmp_path, name="occ11", retain=1):
    schema = _schema()
    t = ParquetTable(spark, str(tmp_path), name, schema, retain=retain).ensure()
    t.append(spark.createDataFrame([("seed", 0)], schema))
    return t, schema


def _rows(t):
    return sorted((r.k, r.v) for r in t.read().collect())


# -- narrowed retryable-staleness detection ---------------------------


def test_transact_reraises_caller_file_not_found(spark, tmp_path):
    """A FileNotFoundError raised by the CALLER's rewrite — even one whose
    message mentions the table path — is a bug, not staleness: it must
    re-raise on the first attempt, not burn max_attempts recomputes."""
    t, _ = _make(spark, tmp_path)
    attempts = []

    def buggy(df):
        attempts.append(1)
        raise FileNotFoundError(f"sidecar {t.path}/lookup.csv missing")

    with pytest.raises(FileNotFoundError, match="lookup.csv"):
        t.transact(buggy, max_attempts=5)
    assert len(attempts) == 1  # no retries burnt


def test_transact_reraises_jvm_error_without_version_dir(spark, tmp_path):
    """A JVM-style FileNotFoundException message that contains the table
    path but names no retained-version dir is NOT retention aging."""
    t, _ = _make(spark, tmp_path)
    attempts = []

    def buggy(df):
        attempts.append(1)
        raise RuntimeError(
            f"java.io.FileNotFoundException: {t.path}/sidecar/part-0.parquet"
        )

    with pytest.raises(RuntimeError, match="sidecar"):
        t.transact(buggy, max_attempts=5)
    assert len(attempts) == 1


def test_transact_retries_retention_aging_signals(spark, tmp_path):
    """Both genuine staleness shapes still retry: our own typed
    read_version error, and a JVM message naming a retained-version dir
    of THIS table."""
    t, schema = _make(spark, tmp_path)

    for exc in (
        FileNotFoundError(
            f"snapshot v-00000001 of table {t.name} is not retained (replay)"
        ),
        RuntimeError(
            f"java.io.FileNotFoundException: File {t.path}/v-00000001/"
            "part-0.parquet does not exist"
        ),
    ):
        state = {"first": True}

        def flaky(df, exc=exc, state=state):
            if state["first"]:
                state["first"] = False
                raise exc
            return df.unionByName(
                df.sparkSession.createDataFrame([(type(exc).__name__, 1)], schema)
            )

        t.transact(flaky, max_attempts=3)
    assert ("FileNotFoundError", 1) in _rows(t)
    assert ("RuntimeError", 1) in _rows(t)


# -- round-11 post-review hardening ----------------------------------------


def test_transact_retries_tombstone_retention_aging(spark, tmp_path):
    """Retention GC drops a version's merge-on-read tombstones together
    with its dir; a JVM error naming `v-XXXXXXXX/_tombstones/` is the
    same staleness and must retry, not re-raise (review #1)."""
    t, schema = _make(spark, tmp_path)
    state = {"first": True}

    def flaky(df):
        if state["first"]:
            state["first"] = False
            raise RuntimeError(
                f"java.io.FileNotFoundException: File {t.path}/"
                "v-00000001/_tombstones/part-0.parquet does not exist"
            )
        return df.unionByName(
            df.sparkSession.createDataFrame([("tombstoned", 1)], schema)
        )

    t.transact(flaky, max_attempts=3)
    assert ("tombstoned", 1) in _rows(t)


def test_transact_self_heals_aged_dead_claim(spark, tmp_path):
    """A claim file that a writer of the older claim protocol left on the
    next number when it died: transact() commits that number on its first
    attempt, without a manual recover_stale()."""
    t, schema = _make(spark, tmp_path)
    base = t.current_version()
    nxt = f"v-{int(base[2:]) + 1:08d}"
    open(os.path.join(t.path, f"{nxt}.claim"), "w").close()
    v = t.transact(
        lambda df: df.unionByName(
            df.sparkSession.createDataFrame([("healed", 1)], schema)
        ),
        max_attempts=1,
    )
    assert v == nxt
    assert t.current_version() == nxt
    assert ("healed", 1) in _rows(t)


def test_ensure_self_heals_dead_creation_claim(spark, tmp_path):
    """A creation claim whose older-protocol writer died must not wedge
    ensure(): it commits v-00000001 at once."""
    schema = _schema()
    t = ParquetTable(spark, str(tmp_path), "heal11", schema)
    os.makedirs(t.path, exist_ok=True)
    open(os.path.join(t.path, "v-00000001.claim"), "w").close()
    t.ensure()
    assert t.current_version() == "v-00000001"
    assert t.read().count() == 0


def test_queries_surface_has_no_stdlib_leaks():
    """The wildcard re-export loop must not surface stdlib modules from
    any topical query module (review #5)."""
    import types

    from unstructured_data_pipeline_spark import queries as Q

    for name in ("time", "shutil", "tempfile"):
        leaked = getattr(Q, name, None)
        assert not isinstance(leaked, types.ModuleType) or not getattr(
            leaked, "__name__", ""
        ) == name, f"queries.{name} leaks the stdlib module"

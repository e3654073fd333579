"""recover_stale() clears the lock residue that tables written by the
older claim protocol can hold (`operators/dml.py`
``ParquetTable.recover_stale``): the ``CURRENT`` pointer's lock, its
token temp files, steal graves and age probes.  Under the rename protocol
none of these files takes part in a commit, so a table carrying them still
commits; recover_stale(), run with writers stopped, removes them.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T

from unstructured_data_pipeline_spark.operators.dml import ParquetTable


def _schema():
    return T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.IntegerType()),
        ]
    )


def _make(spark, tmp_path, name="occ12", retain=1):
    schema = _schema()
    t = ParquetTable(spark, str(tmp_path), name, schema, retain=retain).ensure()
    t.append(spark.createDataFrame([("seed", 0)], schema))
    return t, schema


def test_recover_stale_sweeps_lock_token_residue(spark, tmp_path):
    """A pointer-lock holder of the older protocol that died between
    writing its `.lock.tok-` temp file and removing it leaves a token
    file; recover_stale() (writers stopped) must remove it."""
    t, _ = _make(spark, tmp_path)
    residue = os.path.join(t.path, "CURRENT.lock.tok-deadbeef0000")
    with open(residue, "w") as fh:
        fh.write("orphaned-token")
    removed = t.recover_stale()
    assert os.path.basename(residue) in removed
    assert not os.path.exists(residue)


def test_recover_stale_clears_wedged_lock_state(spark, tmp_path):
    """recover_stale() (writers stopped) clears all pointer-lock crash
    residue of the older protocol — the lock itself, steal graves and age
    probes — and the table commits normally afterwards."""
    t, schema = _make(spark, tmp_path, name="wedge12")
    lock = os.path.join(t.path, "CURRENT.lock")
    open(lock, "w").close()
    open(lock + ".stale-deadbeef", "w").close()
    probe = os.path.join(t.path, ".now-probe-deadbeef0000")
    open(probe, "w").close()
    removed = t.recover_stale()
    for name in ("CURRENT.lock", "CURRENT.lock.stale-deadbeef",
                 ".now-probe-deadbeef0000"):
        assert name in removed
    assert not os.path.exists(lock)
    assert not os.path.exists(lock + ".stale-deadbeef")
    assert not os.path.exists(probe)
    t.append(spark.createDataFrame([("after", 1)], schema))
    assert sorted((r.k, r.v) for r in t.read().collect()) == [
        ("after", 1),
        ("seed", 0),
    ]

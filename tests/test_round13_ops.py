"""Round-13: the OCC lifecycle driver rows (occ_lifecycle / occ_partitioned
/ occ_recovery) wrap their scratch-table body in try/finally, so an
exception mid-lifecycle never leaks the mkdtemp directory (ADVICE r12),
and recover_stale() sweeps the temp files of crashed atomic publishes.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import types as T

from unstructured_data_pipeline_spark.operators.dml import ParquetTable


@pytest.mark.parametrize(
    "fn_name, prefix",
    [
        ("occ_transact_lifecycle", "udp_occ_"),
        ("occ_partitioned_lifecycle", "udp_occp_"),
        ("occ_recover_stale_lifecycle", "udp_occr_"),
    ],
)
def test_lifecycle_cleans_scratch_on_error(
    spark, sf_dir, monkeypatch, fn_name, prefix
):
    """An exception mid-lifecycle (here: ensure() dying on step 01) must
    not leak the mkdtemp scratch directory (ADVICE r12)."""
    from unstructured_data_pipeline_spark import queries as Q
    from unstructured_data_pipeline_spark.operators import dml

    def boom(self):
        raise RuntimeError("wedged for test")

    monkeypatch.setattr(dml.ParquetTable, "ensure", boom)
    pattern = os.path.join(tempfile.gettempdir(), prefix + "*")
    before = set(glob.glob(pattern))
    with pytest.raises(RuntimeError, match="wedged"):
        getattr(Q, fn_name)(spark, sf_dir)
    assert set(glob.glob(pattern)) == before


def test_recover_stale_sweeps_write_atomic_temps(spark, tmp_path):
    """Crashed publishes leave `<target>.tmp-<pid>-<tag>` files (from
    schema.json, and from the older protocol's pointer, marker and
    sidecar files); recover_stale() (writers stopped) must remove every
    one and leave the table readable."""
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.IntegerType())]
    )
    t = ParquetTable(spark, str(tmp_path), "occ13", schema).ensure()
    t.append(spark.createDataFrame([("seed", 0)], schema))
    residues = [
        "CURRENT.tmp-12345-ab",
        "v-00000002.claim.obs.tmp-12345-cd",
        "v-00000001.commit.tmp-12345-ef",
        "schema.json.tmp-12345-01",
    ]
    for r in residues:
        open(os.path.join(t.path, r), "w").close()
    removed = t.recover_stale()
    assert sorted(removed) == sorted(residues)
    for r in residues:
        assert not os.path.exists(os.path.join(t.path, r))
    assert sorted(os.listdir(t.path)) == t.versions()
    assert t.read().count() == 1
    assert t.recover_stale() == []

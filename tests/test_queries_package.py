"""Round-10: queries/ package split invariants (VERDICT r9 #6).

The flat 13k-line queries.py became a package of topical modules with the
registry + freshness rotation in __init__.py.  The split is mechanical —
these tests pin the two ways it could silently break:

* a cross-module name the splitter missed would only surface as a
  NameError when the affected query is CALLED — test_all_registry_globals_resolve
  walks every registry function's code object (plus nested lambdas /
  comprehensions / local defs) and asserts every LOAD_GLOBAL target exists
  in the function's module globals or builtins, so the hazard is caught at
  test time, statically, for all 219 entries;
* external consumers import both public query functions and private
  helpers (_t, _events, _BPE_MERGES, ...) from the package root —
  test_flat_surface_reexported pins that surface.
"""

from __future__ import annotations

import builtins
import dis
import glob
import os
import tempfile
import types

import pytest

from unstructured_data_pipeline_spark import queries as Q


def _global_loads(code: types.CodeType) -> set[str]:
    names = {
        ins.argval
        for ins in dis.get_instructions(code)
        if ins.opname == "LOAD_GLOBAL"
    }
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _global_loads(const)
    return names


def test_all_registry_globals_resolve():
    builtin_names = set(dir(builtins))
    bad: dict[str, list[str]] = {}
    for name, (fn, _sql) in Q.REGISTRY.items():
        missing = sorted(
            g
            for g in _global_loads(fn.__code__)
            if g not in fn.__globals__ and g not in builtin_names
        )
        if missing:
            bad[name] = missing
    assert not bad, bad


def test_flat_surface_reexported():
    # the exact names external code (tests/tools/bench/examples) imports
    # from the package root beyond plain registry functions
    for name in [
        "REGISTRY",
        "DEMOS",
        "queries",
        "oracle_sql",
        "QueryFn",
        "_t",
        "_heavy",
        "_events",
        "_cents",
        "_BPE_MERGES",
        "_RAKE_STOPWORDS",
        "history_documents_current",
        "streaming_interval_join_attribution",
        "theta_sketch_setops",
        "pdf_ocr_pipeline_demo",
        "join_cardinality_estimate",
        "window_rank_functions_suite",
        "domain_quota_cap",
        "range_join_views_before_purchase",
    ]:
        assert hasattr(Q, name), name
    # re-exports are the same objects the defining modules hold
    assert Q._t is Q._common._t
    assert Q.q1_pricing_summary is Q.tpch_headline.q1_pricing_summary


def test_registry_is_complete_and_oracle_backed():
    assert len(Q.REGISTRY) == 223
    assert set(Q.queries()) == set(Q.REGISTRY)
    # every entry is oracle-backed (None SQL entries are rows-only checks,
    # allowed but currently zero — update this pin if one is ever added)
    assert len(Q.oracle_sql()) == 223


def test_queries_surface_has_no_stdlib_leaks():
    """The wildcard re-export loop must not surface stdlib modules from
    any topical query module."""
    for name in ("time", "shutil", "tempfile"):
        leaked = getattr(Q, name, None)
        assert not isinstance(leaked, types.ModuleType) or not getattr(
            leaked, "__name__", ""
        ) == name, f"queries.{name} leaks the stdlib module"


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
    not leak the mkdtemp scratch directory (ADVICE r12): the OCC lifecycle
    entries wrap their scratch-table body in try/finally."""
    from unstructured_data_pipeline_spark.operators import dml

    def boom(self):
        raise RuntimeError("wedged for test")

    monkeypatch.setattr(dml.ParquetTable, "ensure", boom)
    pattern = os.path.join(tempfile.gettempdir(), prefix + "*")
    before = set(glob.glob(pattern))
    with pytest.raises(RuntimeError, match="wedged"):
        getattr(Q, fn_name)(spark, sf_dir)
    assert set(glob.glob(pattern)) == before

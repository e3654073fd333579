"""dist.py: shipping the package to executor workers, and the stat-checked
``zipimporter.invalidate_caches`` that spares workers a re-read of every
zip on their path before each task."""

from __future__ import annotations

import importlib
import os
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
import pytest

from unstructured_data_pipeline_spark import dist

eager_zipimporter = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="zipimporter re-reads lazily on this interpreter; nothing is installed",
)


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in files.items():
            z.writestr(name, source)


@pytest.fixture()
def zip_on_path(monkeypatch):
    """Put a zip on ``sys.path``; drop its modules and importers afterwards."""
    added: list[tuple[str, str]] = []

    def add(archive: str, top: str) -> None:
        monkeypatch.syspath_prepend(archive)
        added.append((archive, top))

    yield add
    for archive, top in added:
        for name in [m for m in sys.modules if m == top or m.startswith(top + ".")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]


@eager_zipimporter
def test_unchanged_zip_is_read_once_for_all_its_importers(tmp_path, monkeypatch, zip_on_path):
    dist.install_zip_cache_check()
    dist.install_zip_cache_check()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is dist._stat_checked_invalidate
    archive = str(tmp_path / "zipdep_a.zip")
    _write_zip(
        archive,
        {
            "zipdep_a/__init__.py": "",
            "zipdep_a/sub/__init__.py": "",
            "zipdep_a/sub/leaf.py": "X = 1\n",
        },
    )
    zip_on_path(archive, "zipdep_a")
    assert importlib.import_module("zipdep_a.sub.leaf").X == 1
    importers = [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) == 3  # the archive, zipdep_a/ and zipdep_a/sub/

    real = zipimport._read_directory
    reads = []

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert len(reads) == 1  # one read, shared by the three importers
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert len({id(f._files) for f in importers}) == 1


def test_zip_rewritten_in_place_imports_the_new_source(tmp_path, zip_on_path):
    archive = str(tmp_path / "zipdep_b.zip")
    _write_zip(archive, {"zipdep_b.py": "VALUE = 1\n"})
    zip_on_path(archive, "zipdep_b")
    assert importlib.import_module("zipdep_b").VALUE == 1
    importlib.invalidate_caches()
    del sys.modules["zipdep_b"]
    inode = os.stat(archive).st_ino
    _write_zip(archive, {"zipdep_b.py": "VALUE = 'second version'\n"})
    assert os.stat(archive).st_ino == inode  # rewritten in place
    importlib.invalidate_caches()
    assert importlib.import_module("zipdep_b").VALUE == "second version"


@eager_zipimporter
def test_python_worker_runs_the_stat_checked_method(spark):
    """A worker installs the check when it unpickles a UDF that refers to
    the package (here through the ``dist`` global)."""
    from pyspark.sql.functions import pandas_udf

    dist.ensure_shipped(spark)

    @pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        f = zipimport.zipimporter.invalidate_caches
        same = f is dist._stat_checked_invalidate
        return s.map(lambda _: f"{f.__module__}.{f.__qualname__}:{same}")

    got = {r[0] for r in spark.range(0, 4, 1, 2).select(probe("id")).collect()}
    assert got == {"unstructured_data_pipeline_spark.dist._stat_checked_invalidate:True"}


def test_install_leaves_a_lazy_zipimporter_alone(monkeypatch):
    class LazyZipImporter:
        def _get_files(self):
            return {}

        def invalidate_caches(self):
            pass

    own = LazyZipImporter.__dict__["invalidate_caches"]
    monkeypatch.setattr(zipimport, "zipimporter", LazyZipImporter)
    dist.install_zip_cache_check()
    assert LazyZipImporter.__dict__["invalidate_caches"] is own


def test_shipped_zip_holds_the_current_sources(tmp_path, monkeypatch):
    """The shipped zip sits in a directory of its own, fresh in this
    process, and holds the current sources: a zip another process left in
    the temp dir is neither shipped nor touched."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(dist, "_SHIPPED", set())
    stale = tmp_path / "udp_spark_pkg.zip"
    _write_zip(
        stale,
        {"unstructured_data_pipeline_spark/__init__.py": "raise ImportError('stale')\n"},
    )
    shipped: list[str] = []
    dist.ensure_shipped(SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append)))
    [path] = shipped
    assert Path(path).parent.parent == tmp_path
    assert Path(path) != stale and stale.exists()
    pkg = Path(dist.__file__).resolve().parent
    want = {
        f"{pkg.name}/{p.relative_to(pkg).as_posix()}": p.read_bytes()
        for p in pkg.rglob("*.py")
    }
    with zipfile.ZipFile(path) as z:
        assert {n: z.read(n) for n in z.namelist()} == want


def test_package_zip_is_removed_when_the_process_exits(tmp_path):
    """A child interpreter that built the zip leaves nothing in the temp
    dir once it exits."""
    import subprocess

    code = (
        "import os\n"
        "from unstructured_data_pipeline_spark import dist\n"
        "path = dist._package_zip()\n"
        "assert os.path.getsize(path) > 0\n"
        "print(path)\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    root = Path(dist.__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env, check=True,
        capture_output=True, text=True,
    )
    path = Path(out.stdout.strip().splitlines()[-1])
    assert path.parent.parent == tmp_path
    assert not path.parent.exists()
    assert list(tmp_path.iterdir()) == []

"""Self-distribution: make this package importable, and cheap to import
from, on executor Python workers.

The driver process imports us by file path, but pandas UDFs are cloudpickled
*by reference* to this package — executor workers must be able to
``import unstructured_data_pipeline_spark`` themselves.  On a real cluster
you'd ``--py-files`` the wheel; here we do the equivalent at runtime:
zip the package and ``addPyFile`` it once per SparkContext.  The zip is
written into a directory this process creates (``tempfile.mkdtemp``) and
removes at interpreter exit, so no other process's zip is ever shipped in
its place or removed, and none outlives the process that shipped it.

Per-task import tax.  Before every task a PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``).  Up to CPython 3.12, ``zipimporter.invalidate_caches``
eagerly re-reads the whole central directory of its archive in pure Python,
once per importer instance — and a worker holds ~20 of them: one per
imported subpackage of ``pyspark.zip`` (1,328 entries), plus the py4j zip
and this package's zip.  Measured on CPython 3.11.7 (4 vCPU): one
``invalidate_caches()`` in a process that imported ``pyspark.worker`` from
the zip costs 0.15 CPU s, paid by every task; on the ``ingest`` benchmark
that was about half of an operation's CPU.  :func:`install_zip_cache_check`
makes the re-read conditional: an archive's directory is re-read only when
its ``os.stat`` (mtime_ns, size, inode) differs from the stat taken before
its last read, and all importers of one archive share that read.  CPython
3.13 made the method lazy itself (``zipimporter._get_files``); there the
install does nothing.
"""

from __future__ import annotations

import atexit
import os
import pathlib
import shutil
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()

_eager_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (stat stamp taken before the read, the directory read)
_zip_stamps: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_checked_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _eager_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    seen = _zip_stamps.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _eager_invalidate(self)
    # an unreadable archive left the cache (and the importer empty)
    if self.archive in zipimport._zip_directory_cache:
        _zip_stamps[self.archive] = (stamp, self._files)


def install_zip_cache_check() -> None:
    """Give ``zipimport.zipimporter`` the stat-checked ``invalidate_caches``.
    Idempotent; a no-op where the interpreter's zipimporter is already lazy
    (it has ``_get_files``, CPython 3.13+)."""
    cls = zipimport.zipimporter
    if not hasattr(cls, "_get_files"):
        cls.invalidate_caches = _stat_checked_invalidate


def _package_zip() -> str:
    """Path of a fresh zip of this package's sources, in a directory of its
    own that is removed when the interpreter exits."""
    pkg_dir = pathlib.Path(__file__).resolve().parent
    zip_dir = tempfile.mkdtemp(prefix="udp_spark_pkg_")
    atexit.register(shutil.rmtree, zip_dir, True)
    zip_path = os.path.join(zip_dir, "udp_spark_pkg.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        for p in sorted(pkg_dir.rglob("*.py")):
            z.write(p, pathlib.Path(pkg_dir.name) / p.relative_to(pkg_dir))
    return zip_path


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED.add(key)

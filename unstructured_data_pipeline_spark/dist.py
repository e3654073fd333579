"""Self-distribution: make this package importable, and cheap to import
from, on executor Python workers.

The driver process imports us by file path, but pandas UDFs are cloudpickled
*by reference* to this package — executor workers must be able to
``import unstructured_data_pipeline_spark`` themselves.  On a real cluster
you'd ``--py-files`` the wheel; here we do the equivalent at runtime:
zip the package and ``addPyFile`` it once per SparkContext.  The zip is
named by a hash of the package sources, so a zip left in the temp dir by
another process (or an older checkout) is never shipped in their place.

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

import hashlib
import os
import pathlib
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
    """Path of a zip of this package's sources, named by their content hash.
    Processes with the same sources share the name, so the zip is written
    through temp + rename: none of them ever ships a half-written one."""
    pkg_dir = pathlib.Path(__file__).resolve().parent
    sources = [
        (str(pathlib.Path(pkg_dir.name) / p.relative_to(pkg_dir)), p.read_bytes())
        for p in sorted(pkg_dir.rglob("*.py"))
    ]
    h = hashlib.sha256()
    for arcname, data in sources:
        h.update(arcname.encode() + b"\0" + len(data).to_bytes(8, "big") + data)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"udp_spark_pkg_{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        fd, tmp = tempfile.mkstemp(suffix=".zip.tmp", dir=os.path.dirname(zip_path))
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
                for arcname, data in sources:
                    z.writestr(arcname, data)
            os.chmod(tmp, 0o644)
            os.replace(tmp, zip_path)
        except BaseException:
            os.unlink(tmp)
            raise
    return zip_path


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED.add(key)

"""Pay a Python worker's import-cache invalidation once per worker, not
once per task.

PySpark starts every task with ``setup_spark_files``, which calls
``importlib.invalidate_caches()`` so that zips shipped with ``addPyFile``
become importable. Every cached ``zipimport.zipimporter`` then re-reads
its archive's central directory. A reused worker caches 16 of them, all
over Spark's own archives (PySpark 4.1.2, 4-vCPU host):

- 12 over ``pyspark.zip`` subpackages, about 11 ms each;
- 2 over the spark-core jar that Spark puts on the worker path
  (5,359 entries), about 38 ms each;
- 2 over the py4j zip.

That is 0.2-0.25 CPU-s per task before any user code runs. These
archives cannot change while a worker lives, so :func:`install` swaps
their cached importers for :class:`FrozenZipImporter`, whose
``invalidate_caches`` does nothing, and registers a ``sys.path_hooks``
entry that gives importers created later the same class. Archives the
job ships (``addPyFile``, ``spark.submit.pyFiles``, archives) live under
the SparkFiles root directory and keep PySpark's normal invalidation.

The package calls :func:`install` on import when ``pyspark.worker`` is
loaded, i.e. inside a Python worker; the driver's import state is left
alone. A worker's first task still pays the invalidation, because it
runs before the task's function is unpickled and imports this package.

:func:`freeze_heap` is the same idea for the garbage collector. PySpark's
daemon runs a full ``gc.collect()`` after every task of a reused worker
(``pyspark/daemon.py``), and each one traverses every tracked object
the worker has imported: pyspark, py4j, pyarrow, numpy, pandas and this
package, ~74k objects, about 52 ms per collection on a 4-vCPU host.
Those objects live as long as the worker, so the package moves them to
the permanent generation once, after its own import; later collections,
the daemon's and the kernels' own, skip them.
"""

from __future__ import annotations

import fnmatch
import gc
import os
import sys
import zipimport

# basenames of the archives Spark itself puts on a Python worker's path
SPARK_ARCHIVES = ("pyspark.zip", "py4j-*.zip", "spark-core_*.jar")


class FrozenZipImporter(zipimport.zipimporter):
    """A zipimporter over an archive that cannot change while the
    process lives: its directory is read once, never re-read."""

    def invalidate_caches(self):
        pass


def _spark_files_root() -> str | None:
    files = sys.modules.get("pyspark.core.files")
    root = getattr(getattr(files, "SparkFiles", None), "_root_directory", None)
    return os.path.realpath(root) if root else None


def is_spark_archive(archive: str) -> bool:
    """True for Spark's own archives; false for anything the job ships
    under the SparkFiles root directory, whatever its name."""
    name = os.path.basename(archive)
    if not any(fnmatch.fnmatchcase(name, p) for p in SPARK_ARCHIVES):
        return False
    root = _spark_files_root()
    return root is None or \
        os.path.commonpath([root, os.path.realpath(archive)]) != root


def _path_hook(path: str) -> FrozenZipImporter:
    if ".zip" not in path and ".jar" not in path:
        raise ImportError("not a Spark archive", path=path)
    importer = FrozenZipImporter(path)  # ZipImportError if not a zip
    if not is_spark_archive(importer.archive):
        raise ImportError("not a Spark archive", path=path)
    return importer


def install() -> None:
    """Freeze the cached and future importers of Spark's own archives in
    this process. Idempotent."""
    if _path_hook in sys.path_hooks:
        return
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter and is_spark_archive(finder.archive):
            sys.path_importer_cache[path] = FrozenZipImporter(path)
    sys.path_hooks.insert(0, _path_hook)


def freeze_heap() -> None:
    """Collect once, then exclude every object alive now from later
    collections (``gc.freeze``)."""
    gc.collect()
    gc.freeze()

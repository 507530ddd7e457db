"""Python workers pay the import-cache invalidation of Spark's own
archives once per worker, not once per task; zips the job ships keep
PySpark's per-task invalidation, and the driver's import state is left
alone."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from kml2geojson_spark import worker_imports

from .conftest import REPO_ROOT

SHIPPED_MOD = "k2g_shipped_probe_mod"


def _zip(path, files: dict[str, str]):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _reads_during_invalidate(monkeypatch) -> list[str]:
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    monkeypatch.setattr(zipimport, "_read_directory", read_directory)
    return reads


@pytest.fixture
def import_state():
    """Restore the interpreter's import state after the test."""
    saved = (sys.path[:], sys.path_hooks[:], dict(sys.path_importer_cache),
             set(sys.modules))
    yield
    sys.path[:], sys.path_hooks[:] = saved[0], saved[1]
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(saved[2])
    for name in set(sys.modules) - saved[3]:
        del sys.modules[name]


def test_install_freezes_only_spark_archives(tmp_path, monkeypatch, import_state):
    spark_zip = _zip(tmp_path / "spark" / "python" / "lib" / "pyspark.zip", {
        "k2g_fake_spark/__init__.py": "",
        "k2g_fake_spark/sub/__init__.py": "X = 1\n"})
    user_zip = _zip(tmp_path / "user.zip", {"k2g_fake_user.py": "Y = 2\n"})
    files_root = tmp_path / "userFiles"
    shipped_zip = _zip(files_root / "pyspark.zip", {"k2g_fake_shipped.py": ""})
    import pyspark.core.files
    monkeypatch.setattr(pyspark.core.files.SparkFiles, "_root_directory", str(files_root))
    sys.path[:0] = [spark_zip, user_zip, shipped_zip]
    importlib.import_module("k2g_fake_spark")
    importlib.import_module("k2g_fake_user")
    importlib.import_module("k2g_fake_shipped")

    worker_imports.install()
    worker_imports.install()  # idempotent
    assert sys.path_hooks.count(worker_imports._path_hook) == 1
    assert type(sys.path_importer_cache[spark_zip]) is worker_imports.FrozenZipImporter
    # an importer created after install gets the frozen class from the hook
    assert importlib.import_module("k2g_fake_spark.sub").X == 1
    sub = os.path.join(spark_zip, "k2g_fake_spark")
    assert type(sys.path_importer_cache[sub]) is worker_imports.FrozenZipImporter
    assert type(sys.path_importer_cache[user_zip]) is zipimport.zipimporter
    assert type(sys.path_importer_cache[shipped_zip]) is zipimport.zipimporter

    reads = _reads_during_invalidate(monkeypatch)
    assert spark_zip not in reads
    assert user_zip in reads and shipped_zip in reads


def test_importing_the_package_leaves_driver_import_state_alone():
    code = (
        "import sys, pyspark.sql\n"
        "hooks = list(sys.path_hooks)\n"
        "cache = dict(sys.path_importer_cache)\n"
        "import kml2geojson_spark.spatial\n"
        "assert sys.path_hooks == hooks, sys.path_hooks\n"
        "assert all(sys.path_importer_cache[k] is v for k, v in cache.items()\n"
        "           if k in sys.path_importer_cache)\n"
        "assert not any(type(f).__name__ == 'FrozenZipImporter'\n"
        "               for f in sys.path_importer_cache.values())\n")
    subprocess.run([sys.executable, "-c", code], cwd=REPO_ROOT, check=True,
                   env={**os.environ, "PYTHONPATH": str(REPO_ROOT)})


def _probe(spark, jobs: int = 3) -> list:
    """Run ``jobs`` 4-task jobs whose kernel counts the zip directories
    that ``importlib.invalidate_caches()`` re-reads in its worker and says
    whether that worker ran the kernel before. Nested, so that it is
    pickled by value and the workers need not import this test module."""

    def kernel(batches):
        import importlib
        import os
        import zipimport

        import pyarrow as pa

        import kml2geojson_spark  # installs the frozen importers

        for _ in batches:
            pass
        tasks = getattr(kml2geojson_spark, "_probe_tasks", 0)
        kml2geojson_spark._probe_tasks = tasks + 1
        try:
            importlib.import_module(SHIPPED_MOD)
        except ImportError:
            pass
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(os.path.basename(archive))
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pa.RecordBatch.from_pydict({
            "ran_before": [tasks > 0], "reads": [reads]})

    rows = []
    for _ in range(jobs):
        rows += spark.range(0, 8, numPartitions=4).mapInArrow(
            kernel, "ran_before boolean, reads array<string>").collect()
    return rows


def _is_spark_archive(name: str) -> bool:
    return name == "pyspark.zip" or name.startswith("py4j") or name.endswith(".jar")


def test_reused_worker_skips_spark_archive_reads(spark):
    rows = _probe(spark)
    warm = [r for r in rows if r["ran_before"]]
    assert warm, "no Python worker was reused"
    for r in warm:
        assert not [a for a in r["reads"] if _is_spark_archive(a)], r
    # the driver kept its own import machinery
    assert worker_imports._path_hook not in sys.path_hooks
    assert not any(isinstance(f, worker_imports.FrozenZipImporter)
                   for f in sys.path_importer_cache.values())


def test_shipped_zip_is_still_reread(spark, tmp_path):
    shipped = _zip(tmp_path / f"{SHIPPED_MOD}.zip", {f"{SHIPPED_MOD}.py": "Z = 3\n"})
    spark.sparkContext.addPyFile(shipped)
    rows = _probe(spark, jobs=2)
    warm = [r for r in rows if r["ran_before"]]
    assert warm, "no Python worker was reused"
    for r in warm:
        assert f"{SHIPPED_MOD}.zip" in r["reads"], r
        assert not [a for a in r["reads"] if _is_spark_archive(a)], r


def test_worker_heap_is_frozen_after_the_package_import(spark):
    """The daemon's full collection after each task then skips the
    worker's imported heap."""

    def kernel(batches):
        import gc

        import pyarrow as pa

        import kml2geojson_spark  # noqa: F401  (freezes the heap)

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"frozen": [gc.get_freeze_count()]})

    rows = spark.range(0, 8, numPartitions=4).mapInArrow(
        kernel, "frozen long").collect()
    # pyspark, py4j, pyarrow and numpy alone are tens of thousands
    assert rows and all(r["frozen"] > 10_000 for r in rows), rows


def test_importing_the_package_leaves_the_driver_heap_unfrozen():
    code = ("import gc, pyspark.sql, kml2geojson_spark.spatial\n"
            "assert gc.get_freeze_count() == 0, gc.get_freeze_count()\n")
    subprocess.run([sys.executable, "-c", code], cwd=REPO_ROOT, check=True,
                   env={**os.environ, "PYTHONPATH": str(REPO_ROOT)})

"""The package's Python worker daemon: stat-checked zip importer invalidation
and the modules it loads before forking."""

from __future__ import annotations

import importlib
import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from mysql_streamer_spark import pyworker, session

DAEMON = "mysql_streamer_spark.pyworker"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def directory_reads(monkeypatch):
    """Install the hook for one test (teardown restores the stock method)
    and record every central-directory read."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pyworker.install_stat_checked_zip_invalidation()
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_read_at_most_once(tmp_path, directory_reads):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    directory_reads.clear()  # the constructor's own read
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(directory_reads) <= 1
    assert importer.find_spec("mod_a") is not None


def test_rewritten_archive_is_reread_and_its_new_module_imports(tmp_path, directory_reads):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    before = len(directory_reads)

    _write_zip(archive, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    importer.invalidate_caches()
    assert len(directory_reads) == before + 1
    spec = importer.find_spec("mod_b")
    assert spec is not None
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.Y == 2


def test_deleted_archive_does_not_raise(tmp_path, directory_reads):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    archive.unlink()
    importer.invalidate_caches()
    assert importer.find_spec("mod_a") is None


def test_session_workers_run_under_the_package_daemon(spark):
    """Every Python task of a ``get_spark`` session forks from the package
    daemon, which has the hook installed."""
    import pyarrow as pa

    def hook_module(batches):
        import sys
        import zipimport

        hook = zipimport.zipimporter.invalidate_caches
        # the daemon runs as __main__: name the module by its import spec
        defined_in = sys.modules[hook.__module__].__spec__
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"module": [defined_in and defined_in.name]})

    got = {r.module for r in spark.range(4).mapInArrow(hook_module, "module string").collect()}
    assert got == {DAEMON}
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON
    # the daemon must start whatever the driver's working directory
    assert conf.get("spark.executorEnv.PYTHONPATH") == session._PACKAGE_ROOT


def test_daemon_stamps_its_importers_before_forking(tmp_path, directory_reads, monkeypatch):
    """What the daemon runs before forking stamps every importer it holds,
    so a forked worker's first ``invalidate_caches()`` (one per task) reads
    no unchanged archive."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    monkeypatch.setitem(sys.path_importer_cache, archive, zipimport.zipimporter(archive))
    pyworker.prepare_worker_imports()
    directory_reads.clear()
    importlib.invalidate_caches()  # a forked worker's first task
    assert directory_reads.count(archive) == 0


def test_daemon_loads_the_arrow_task_modules_before_forking():
    """The daemon's ``__main__`` imports ``PRELOADED`` before it starts
    forking workers (``daemon.manager()``), so no worker compiles them from
    ``pyspark.zip`` on its first Arrow task. Run in a fresh interpreter:
    this one has them all loaded already."""
    probe = (
        "import json, runpy, sys\n"
        "from pyspark import daemon\n"
        "wanted = json.loads(sys.argv[1])\n"
        "before = [m for m in wanted if m in sys.modules]\n"
        "def manager():\n"
        "    print(json.dumps([before, [m for m in wanted if m in sys.modules]]))\n"
        "daemon.manager = manager\n"
        f"runpy.run_module({DAEMON!r}, run_name='__main__')\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", probe, json.dumps(pyworker.PRELOADED)],
        capture_output=True,
        text=True,
        timeout=120,
        env={**os.environ, "PYTHONPATH": session._PACKAGE_ROOT},
    )
    assert done.returncode == 0, done.stderr
    before, at_fork = json.loads(done.stdout.splitlines()[-1])
    assert set(before) < set(pyworker.PRELOADED)  # importing pyspark alone does not
    assert at_fork == list(pyworker.PRELOADED)

"""The local-session Python worker daemon (``worker_daemon``): the stamped
``zipimporter.invalidate_caches`` on a temp archive, the session conf
decision, and the wiring seen from inside real worker tasks."""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

from gmall_flink_yb_spark import session, worker_daemon

DAEMON = "gmall_flink_yb_spark.worker_daemon"

needs_eager_zip_invalidate = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ zipimporter.invalidate_caches is already lazy",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pkg/__init__.py", "")
        for name, body in modules.items():
            zf.writestr(f"pkg/{name}.py", body)


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"a": "VALUE = 1\n"})
    yield path
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def read_calls(monkeypatch):
    calls = []
    stdlib_read = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return stdlib_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _importers(archive):
    # several importers over one archive, as sys.path_importer_cache holds
    # one per package directory imported from pyspark.zip
    return [
        zipimport.zipimporter(archive),
        zipimport.zipimporter(archive),
        zipimport.zipimporter(archive + "/pkg/"),
    ]


@needs_eager_zip_invalidate
def test_unchanged_archive_is_not_reread(archive, read_calls, monkeypatch):
    importers = _importers(archive)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon.stamped_invalidate_caches(),
    )
    read_calls.clear()
    for _ in range(3):
        for imp in importers:
            imp.invalidate_caches()
    assert read_calls == []
    assert importers[2].find_spec("pkg.a") is not None


@needs_eager_zip_invalidate
def test_rewritten_archive_is_read_once_and_imports(
    archive, read_calls, monkeypatch
):
    importers = _importers(archive)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon.stamped_invalidate_caches(),
    )
    _write_zip(archive, {"a": "VALUE = 1\n", "b": "VALUE = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    read_calls.clear()
    for _ in range(2):
        for imp in importers:
            imp.invalidate_caches()
    assert read_calls == [archive]
    assert all(imp._files is importers[0]._files for imp in importers)
    spec = importers[2].find_spec("pkg.b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.VALUE == 2


@needs_eager_zip_invalidate
def test_deleted_archive_keeps_stdlib_result(archive, monkeypatch):
    imp = zipimport.zipimporter(archive)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon.stamped_invalidate_caches(),
    )
    os.remove(archive)
    imp.invalidate_caches()
    assert imp._files == {}
    assert archive not in zipimport._zip_directory_cache


@needs_eager_zip_invalidate
def test_install_patches_invalidate_caches(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon.STDLIB_INVALIDATE_CACHES,
    )
    worker_daemon.install()
    assert (
        zipimport.zipimporter.invalidate_caches
        is not worker_daemon.STDLIB_INVALIDATE_CACHES
    )


def test_local_master_starts_the_engine_daemon():
    conf = session.worker_daemon_conf(
        session.resolve_master(None, {"SPARK_GRAFT_CPUS": "4"}),
        {"spark.ui.enabled": "false"},
    )
    parent = os.path.dirname(os.path.dirname(worker_daemon.__file__))
    assert conf == {
        "spark.ui.enabled": "false",
        "spark.python.daemon.module": DAEMON,
        session.EXECUTOR_PYTHONPATH: parent,
    }
    assert session.worker_daemon_conf("local")[
        "spark.python.daemon.module"
    ] == DAEMON


@pytest.mark.parametrize(
    "master, environ",
    [
        ("spark://host:7077", {}),
        ("yarn", {}),
        ("local-cluster[2,1,1024]", {}),
        (None, {"SPARK_MASTER": "yarn"}),
    ],
)
def test_cluster_master_keeps_sparks_daemon(master, environ):
    extra = {"spark.executorEnv.PYTHONPATH": "vendor/libs"}
    resolved = session.resolve_master(master, environ)
    assert session.worker_daemon_conf(resolved, extra) == extra


def test_caller_pythonpath_is_kept_after_the_package():
    extra = {session.EXECUTOR_PYTHONPATH: "vendor/libs"}
    conf = session.worker_daemon_conf("local[2]", extra)
    path = conf[session.EXECUTOR_PYTHONPATH].split(os.pathsep)
    assert path[1:] == ["vendor/libs"]
    assert os.path.isdir(os.path.join(path[0], "gmall_flink_yb_spark"))
    assert extra == {session.EXECUTOR_PYTHONPATH: "vendor/libs"}


def test_local_session_tasks_run_under_engine_daemon(spark):
    if not spark.sparkContext.master.startswith("local"):
        pytest.skip("the engine daemon is wired for local masters only")
    import pandas as pd
    from pyspark.sql import functions as F

    # defined here, not at module level: cloudpickle ships nested functions
    # by value, and workers cannot import this test module
    def report():
        """(daemon module, directory reads of one invalidate_caches call), as
        seen from inside a Python worker task."""
        import importlib
        import sys
        import zipimport

        reads = []
        stdlib_read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return stdlib_read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stdlib_read
        return sys.modules["__main__"].__spec__.name, len(reads)

    def per_partition(_rows):
        yield report()

    rdd_reports = (
        spark.sparkContext.parallelize(range(4), 2)
        .mapPartitions(per_partition)
        .collect()
    )

    def per_group(_pdf):
        daemon, reads = report()
        return pd.DataFrame({"daemon": [daemon], "reads": [reads]})

    pandas_reports = [
        (r["daemon"], r["reads"])
        for r in spark.range(4)
        .groupBy((F.col("id") % 2).alias("k"))
        .applyInPandas(per_group, "daemon string, reads long")
        .collect()
    ]
    assert rdd_reports == [(DAEMON, 0)] * 2
    assert pandas_reports == [(DAEMON, 0)] * 2

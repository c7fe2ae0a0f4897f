"""``pydaemon``, the Python worker daemon ``get_spark`` installs for local
masters.

- Policy: on a temp archive, an unchanged zip is not re-read by
  ``invalidate_caches()``, whatever the number of importers over it; a
  rewritten one is re-read once and its new module imports.
- Worker: a Python task of the test session reads no zip directory
  before its body runs (the stock daemon reads ``pyspark.zip`` once per
  importer, ~16 times).
- Wiring: when ``get_spark`` installs the daemon and when it keeps the
  stock one.
"""

from __future__ import annotations

import importlib.util
import logging
import os
import sys
import zipfile
import zipimport

import pytest

from kafka_stream_job_spark import pydaemon, session

LAZY_ZIPIMPORT = sys.version_info >= (3, 13)


@pytest.fixture
def reads(monkeypatch):
    """Install the daemon's ``invalidate_caches`` with fresh stamps (all
    restored afterwards) and record every zip directory read."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(pydaemon, "_read_stamps", {})
    pydaemon.install()
    seen: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)


def _load(importer, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, name
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.skipif(LAZY_ZIPIMPORT, reason="3.13+ keeps the stock, lazy method")
def test_unchanged_archive_is_read_once_across_importers(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pkg/__init__.py": "", "pkg/sub/__init__.py": "", "top.py": "X = 1\n"})
    importers = [
        zipimport.zipimporter(path)
        for path in (archive, f"{archive}/pkg", f"{archive}/pkg/sub")
    ]
    assert len(reads) == 1  # the constructor shares one directory
    for importer in importers:
        importer.invalidate_caches()
    assert len(reads) == 2  # no stamp yet: read once, then shared
    del reads[:]
    for _ in range(3):
        for importer in importers:
            importer.invalidate_caches()
    assert reads == []
    assert all(importer._files is zipimport._zip_directory_cache[archive] for importer in importers)
    assert _load(importers[0], "top").X == 1


@pytest.mark.skipif(LAZY_ZIPIMPORT, reason="3.13+ keeps the stock, lazy method")
def test_rewritten_archive_is_reread_once_and_imports(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pkg/__init__.py": "", "top.py": "X = 1\n"})
    importers = [zipimport.zipimporter(archive), zipimport.zipimporter(f"{archive}/pkg")]
    for importer in importers:
        importer.invalidate_caches()
    assert importers[1].find_spec("pkg.fresh") is None
    _write_zip(archive, {"pkg/__init__.py": "", "pkg/fresh.py": "Y = 2\n", "top.py": "X = 1\n"})
    del reads[:]
    for importer in importers:
        importer.invalidate_caches()
    assert reads == [archive]
    assert _load(importers[1], "pkg.fresh").Y == 2


def test_stock_method_kept_on_lazy_zipimport(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock


# --- worker ---------------------------------------------------------------


def test_python_task_reads_no_zip_directory(spark):
    """One job installs a read counter in a pooled worker; later 1-task
    jobs run until one lands on that worker and report the reads its task
    set-up (``importlib.invalidate_caches()``) made."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == session._PY_DAEMON
    assert sc.environment["PYTHONPATH"].split(os.pathsep)[-1] == session._PACKAGE_ROOT

    def install_counter(rows):
        import os
        import zipimport

        list(rows)  # a worker that leaves input unread is not reused
        if not hasattr(zipimport, "_probe_reads"):
            read = zipimport._read_directory

            def counting(path):
                zipimport._probe_reads += 1
                return read(path)

            zipimport._read_directory = counting
        zipimport._probe_reads = 0
        yield os.getpid()

    def reads_so_far(rows):
        import os
        import zipimport

        list(rows)
        yield os.getpid(), getattr(zipimport, "_probe_reads", None)

    one = sc.parallelize([0], 1)
    pid = one.mapPartitions(install_counter).collect()[0]
    for _ in range(2 * (os.cpu_count() or 4) + 2):  # the idle-worker queue is FIFO
        got_pid, count = one.mapPartitions(reads_so_far).collect()[0]
        if count is not None:
            break
    else:
        pytest.fail(f"no later task ran on worker {pid}")
    assert got_pid == pid
    assert count == 0


# --- wiring ---------------------------------------------------------------


@pytest.fixture
def daemon_log(caplog):
    caplog.set_level(logging.INFO, logger=session.__name__)
    return lambda: [r.getMessage() for r in caplog.records if r.name == session.__name__]


@pytest.mark.parametrize(
    "master,conf,reason",
    [
        ("spark://cluster:7077", {}, "non-local master spark://cluster:7077"),
        (
            "local[2]",
            {"spark.python.daemon.module": "my.daemon"},
            "user-set spark.python.daemon.module",
        ),
        ("local", {"spark.python.use.daemon": "false"}, "spark.python.use.daemon=false"),
    ],
)
def test_stock_daemon_kept_with_one_log_line(daemon_log, master, conf, reason):
    assert session._py_daemon_conf(master, conf) == {}
    assert daemon_log() == [f"python daemon: pyspark stock ({reason})"]


def test_user_python_path_is_kept(daemon_log):
    conf = session._py_daemon_conf("local[2]", {"spark.executorEnv.PYTHONPATH": "/srv/libs"})
    assert conf == {
        "spark.python.daemon.module": "kafka_stream_job_spark.pydaemon",
        "spark.executorEnv.PYTHONPATH": f"/srv/libs{os.pathsep}{session._PACKAGE_ROOT}",
    }
    assert os.path.isfile(os.path.join(session._PACKAGE_ROOT, *pydaemon.__name__.split(".")) + ".py")
    assert daemon_log() == []

"""``NioLocalFs``, the fork-free local Hadoop FileSystem ``get_spark``
installs for local masters.

- Semantics: each case runs the same calls on the shim and on stock
  ``RawLocalFileSystem`` / ``LocalFs`` in the same JVM and compares what
  lands on disk or comes back.
- No spawn: a stateful drain under the shim reaps no child process, and
  writes the same checkpoint files as under stock Hadoop.
- Wiring: when ``get_spark`` installs the shim and when it keeps stock
  Hadoop.
"""

from __future__ import annotations

import logging
import os
import re
import stat

import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from kafka_stream_job_spark import session
from kafka_stream_job_spark.session import get_spark, local_fs_mode
from kafka_stream_job_spark.streaming.pipeline import _file_stream, run_stream_to_memory

from .conftest import SF_SMOKE

SHIM = "kafka_stream_job_spark.jvm.NioLocalFs"


@pytest.fixture(scope="module")
def jvm(spark):
    mode = local_fs_mode(spark)
    if mode != "nio":
        pytest.skip(f"session runs {mode}")
    return spark._jvm


def _cls(jvm, name: str):
    package, _, inner = name.rpartition(".")
    view = jvm
    for part in package.split("."):
        view = getattr(view, part)
    return getattr(view, inner)


def _raw(jvm, shim: bool):
    cls = f"{SHIM}$Raw" if shim else "org.apache.hadoop.fs.RawLocalFileSystem"
    fs = _cls(jvm, cls)()
    fs.initialize(jvm.java.net.URI("file:///"), jvm.org.apache.hadoop.conf.Configuration())
    return fs


def _file_context(jvm, shim: bool):
    conf = jvm.org.apache.hadoop.conf.Configuration()
    if shim:
        conf.set("fs.AbstractFileSystem.file.impl", f"{SHIM}$LocalFs")
    return jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)


def _both(tmp_path, fn):
    """``fn(shim, directory)`` for stock and shim, each in its own dir."""
    out = []
    for shim in (False, True):
        d = tmp_path / ("shim" if shim else "stock")
        d.mkdir()
        out.append(fn(shim, d))
    return out


def _mode(path) -> int:
    return stat.S_IMODE(os.lstat(path).st_mode)


def _java_error(call) -> str:
    with pytest.raises(Py4JJavaError) as err:
        call()
    return err.value.java_exception.getClass().getName()


def test_created_file_and_directory_modes_match_stock(jvm, tmp_path):
    Path = jvm.org.apache.hadoop.fs.Path
    dir_default = jvm.org.apache.hadoop.fs.permission.FsPermission.getDirDefault()

    def create(shim, d):
        fs = _raw(jvm, shim)
        fs.create(Path(str(d / "f"))).close()
        assert fs.mkdirs(Path(str(d / "sub")), dir_default)
        return _mode(d / "f"), _mode(d / "sub")

    stock, shim = _both(tmp_path, create)
    assert shim == stock


@pytest.mark.parametrize(
    "mode,is_dir", [("600", False), ("755", False), ("1777", True)]
)
def test_set_permission_matches_stock(jvm, tmp_path, mode, is_dir):
    """Plain rwx modes go through nio; the sticky bit falls back to super."""
    Path = jvm.org.apache.hadoop.fs.Path
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)

    def chmod(shim, d):
        target = d / "t"
        target.mkdir() if is_dir else target.write_bytes(b"x")
        _raw(jvm, shim).setPermission(Path(str(target)), perm)
        return _mode(target)

    stock, shim = _both(tmp_path, chmod)
    assert shim == stock == int(mode, 8)


def _link_status(fs, path):
    st = fs.getFileLinkStatus(path)
    target = st.getSymlink().toString() if st.isSymlink() else None
    return (
        st.isSymlink(), st.isFile(), st.isDirectory(), st.getLen(),
        st.getPath().toString(), target,
    )


@pytest.mark.parametrize("kind", ["file", "dir", "symlink", "dangling"])
def test_file_link_status_matches_stock(jvm, tmp_path, kind):
    Path = jvm.org.apache.hadoop.fs.Path

    def status(shim, d):
        (d / "file").write_bytes(b"abc")
        (d / "dir").mkdir()
        os.symlink(d / "file", d / "symlink")
        os.symlink(d / "gone", d / "dangling")
        got = _link_status(_raw(jvm, shim), Path(str(d / kind)))
        # each side ran in its own directory
        return tuple(v.replace(str(d), "<d>") if isinstance(v, str) else v for v in got)

    stock, shim = _both(tmp_path, status)
    assert shim == stock
    assert stock[0] == (kind in ("symlink", "dangling"))


def test_file_link_status_of_missing_path_raises_on_both(jvm, tmp_path):
    Path = jvm.org.apache.hadoop.fs.Path
    missing = Path(str(tmp_path / "missing"))
    for shim in (False, True):
        fs = _raw(jvm, shim)
        name = _java_error(lambda: fs.getFileLinkStatus(missing))
        assert name == "java.io.FileNotFoundException"


def test_file_context_rename_without_overwrite_still_refuses(spark, jvm, tmp_path):
    """The checkpoint metadata logs rely on FileContext's atomic
    rename-without-overwrite: onto an existing file it must still raise."""
    Path = jvm.org.apache.hadoop.fs.Path
    no_options = spark.sparkContext._gateway.new_array(
        _cls(jvm, "org.apache.hadoop.fs.Options$Rename"), 0
    )

    def rename(shim, d):
        fc = _file_context(jvm, shim)
        (d / "src").write_bytes(b"new")
        (d / "dst").write_bytes(b"old")
        src, dst = Path(str(d / "src")), Path(str(d / "dst"))
        name = _java_error(lambda: fc.rename(src, dst, no_options))
        fc.rename(src, Path(str(d / "moved")), no_options)
        return name, (d / "dst").read_bytes(), (d / "moved").read_bytes()

    stock, shim = _both(tmp_path, rename)
    assert shim == stock
    assert stock == ("org.apache.hadoop.fs.FileAlreadyExistsException", b"old", b"new")


def test_crc_sidecars_are_still_written(spark, jvm, tmp_path):
    """Both checksummed layers keep writing ``.<name>.crc``: FileContext
    (checkpoint logs, state deltas) and the FileSystem API."""
    hadoop = jvm.org.apache.hadoop
    Path = hadoop.fs.Path
    create_flags = jvm.java.util.EnumSet.of(hadoop.fs.CreateFlag.CREATE)
    no_opts = spark.sparkContext._gateway.new_array(
        _cls(jvm, "org.apache.hadoop.fs.Options$CreateOpts"), 0
    )

    def write(shim, d):
        fc = _file_context(jvm, shim)
        out = fc.create(Path(str(d / "via_fc")), create_flags, no_opts)
        out.write(b"payload")
        out.close()
        fs = _cls(jvm, f"{SHIM}$Local" if shim else "org.apache.hadoop.fs.LocalFileSystem")()
        fs.initialize(jvm.java.net.URI("file:///"), hadoop.conf.Configuration())
        out = fs.create(Path(str(d / "via_fs")))
        out.write(b"payload")
        out.close()
        return sorted(os.listdir(d)), (d / ".via_fc.crc").read_bytes()

    stock, shim = _both(tmp_path, write)
    assert shim == stock
    assert stock[0] == [".via_fc.crc", ".via_fs.crc", "via_fc", "via_fs"]


def test_session_file_systems_are_the_shim(spark, jvm):
    """The session's Hadoop conf resolves both local APIs to the shim."""
    hadoop = jvm.org.apache.hadoop
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = hadoop.fs.FileSystem.get(uri, hconf)
    fc = hadoop.fs.FileContext.getFileContext(uri, hconf)
    assert fs.getClass().getName() == f"{SHIM}$Local"
    assert fc.getDefaultFileSystem().getClass().getName() == f"{SHIM}$LocalFs"


# --- no spawn -------------------------------------------------------------


def _reaped_children(spark) -> tuple[int, ...]:
    """proc(5) fields 11, 16 and 17 of the driver JVM: minor faults, user
    and system ticks of its waited-for children. Any child process the
    JVM starts and reaps moves them."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()  # fields 3.. after comm
    return int(fields[8]), int(fields[13]), int(fields[14])


def _checkpoint_files(root) -> list[str]:
    uuid = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
    return sorted(
        uuid.sub("<uuid>", os.path.relpath(os.path.join(d, f), root))
        for d, _, files in os.walk(root)
        for f in files
    )


@pytest.mark.skipif(not os.path.isdir("/proc"), reason="needs /proc")
def test_stateful_drain_starts_no_process(spark, tmp_path):
    """A two-micro-batch stateful drain writes offsets, commits, sources,
    state deltas and their .crc files. Under the shim it starts no child
    process; under stock Hadoop (switched on for one drain through the
    session conf) it starts one per chmod/readlink. Both leave the same
    checkpoint files."""
    if session._javac() is None:
        pytest.skip("no javac: the session runs stock Hadoop")
    assert local_fs_mode(spark) == "nio"
    events = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    half = events.num_rows // 2
    (tmp_path / "in").mkdir()
    pq.write_table(events.slice(0, half), tmp_path / "in" / "part0.parquet")
    pq.write_table(events.slice(half), tmp_path / "in" / "part1.parquet")

    def drain(name: str) -> tuple[int, ...]:
        stream = _file_stream(spark, str(tmp_path / "in"), files_per_trigger=1)
        counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        before = _reaped_children(spark)
        run_stream_to_memory(
            spark, counts, checkpoint_dir=str(tmp_path / name), output_mode="update"
        )
        return tuple(b - a for a, b in zip(before, _reaped_children(spark)))

    assert drain("shim") == (0, 0, 0)
    stock_keys = {
        "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
        "fs.file.impl.disable.cache": "true",
        "fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
    }
    for key, value in stock_keys.items():
        spark.conf.set(key, value)
    try:
        stock = drain("stock")
    finally:
        for key in stock_keys:
            spark.conf.unset(key)
    assert stock[0] > 0  # the counters do see stock Hadoop's chmod/readlink
    assert len(os.listdir(tmp_path / "shim" / "commits")) == 4  # 2 batches + .crc
    assert _checkpoint_files(tmp_path / "shim") == _checkpoint_files(tmp_path / "stock")


# --- wiring ---------------------------------------------------------------


@pytest.fixture
def fs_log(caplog, monkeypatch):
    """Log lines ``_local_fs_conf`` emits; the module's last-reason state
    is restored afterwards."""
    monkeypatch.setattr(session, "_stock_reason", session._stock_reason)
    caplog.set_level(logging.INFO, logger=session.__name__)
    return lambda: [r.getMessage() for r in caplog.records if r.name == session.__name__]


@pytest.mark.parametrize(
    "master,conf,reason",
    [
        ("spark://cluster:7077", {}, "non-local master spark://cluster:7077"),
        ("local-cluster[2,1,1024]", {}, "non-local master local-cluster[2,1,1024]"),
        ("local[2]", {"spark.hadoop.fs.file.impl": "x.Fs"}, "user-set fs.file.impl"),
    ],
)
def test_stock_hadoop_kept_with_one_log_line(fs_log, master, conf, reason):
    assert session._local_fs_conf(master, conf) == {}
    assert fs_log() == [f"local FileSystem: hadoop-stock ({reason})"]
    assert session._stock_reason == reason


def test_no_javac_keeps_stock_hadoop(fs_log, monkeypatch):
    monkeypatch.setattr(session, "_compiled", {})
    monkeypatch.setattr(session, "_javac", lambda: None)
    assert session._local_fs_conf("local[2]", {}) == {}
    assert fs_log() == ["local FileSystem: hadoop-stock (no javac)"]


def test_user_driver_class_path_is_kept(jvm, fs_log):
    conf = session._local_fs_conf("local", {"spark.driver.extraClassPath": "/opt/x.jar"})
    user, _, classes = conf["spark.driver.extraClassPath"].partition(os.pathsep)
    assert user == "/opt/x.jar"
    assert os.path.isfile(os.path.join(classes, *SHIM.split(".")) + "$Raw.class")
    assert conf["spark.hadoop.fs.file.impl"] == f"{SHIM}$Local"
    assert fs_log() == []


def test_second_get_spark_does_not_run_javac(spark, jvm, monkeypatch):
    def no_javac(*args, **kwargs):
        raise AssertionError(f"javac ran again: {args}")

    monkeypatch.setattr(session.subprocess, "run", no_javac)
    assert get_spark(app_name="kafka-stream-job-spark-tests") is spark
    assert local_fs_mode(spark) == "nio"

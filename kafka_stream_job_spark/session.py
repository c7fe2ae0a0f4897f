"""SparkSession construction + properties-file config loading.

Re-expresses the reference's ``SparkConfigLoader.scala:9-24`` (classpath
.properties filtered to ``spark.*`` keys) and the session builds at
``KafkaAvroToIceberg.scala:23-36`` / ``KafkaBatchJob.java:64-68`` in Python.

Scale posture: the defaults below are what we would ship to a 1000-executor
cluster modulo sizing knobs — AQE on (runtime re-plan, skew-join splitting,
partition coalescing), explicit broadcast threshold, shuffle partitions
sized by ``SPARK_GRAFT_CPUS`` locally and by cluster cores in production.

Local sessions get a fork-free local Hadoop FileSystem
(``jvm/NioLocalFs.java``). pip PySpark ships no ``libhadoop``, so stock
Hadoop starts a ``chmod`` child process for every local file or directory
it creates and a ``readlink`` for every ``FileContext.rename``: every
offsets/commits/sources log entry, state delta file and ``.crc`` sidecar a
micro-batch writes. That was most of the bounded-drain per-batch floor.
The shim does both calls in-process with ``java.nio`` and otherwise is
the stock ``LocalFileSystem`` / ``LocalFs`` stack, so checkpoint
checksums, ``.crc`` files and FileContext's atomic rename-without-overwrite
are unchanged. ``get_spark`` compiles the source once per checkout (a
content-hashed class directory, one ``javac`` per process at most) and
installs it only for ``local``/``local[N]`` masters, whose executors share
the driver JVM. It keeps stock Hadoop, and logs one line saying why, where
there is no ``javac``, the master is not local, the caller set
``fs.file.impl`` itself, or an already-running JVM cannot load the class.
Production clusters keep their own FileSystem (HDFS, S3A, or a native
``libhadoop``); ``local_fs_mode`` reports which path a session uses.

Local sessions also run their Python workers under ``pydaemon``
(``spark.python.daemon.module``). Every Python task calls
``importlib.invalidate_caches()``, and before CPython 3.13 that makes each
of a worker's ~16 ``zipimporter`` objects over ``pyspark.zip`` re-read the
archive's whole central directory: ~0.13 s of CPU per task before the UDF
body runs. ``pydaemon`` re-reads an archive only when its stat changed
(the mtime policy ``FileFinder`` applies to directories), primes the stamps
before forking workers, then runs the stock ``pyspark.daemon``.
``FileFinder`` caches are still cleared on every task, and a changed
archive (a new ``--py-files`` zip) is still re-read. ``get_spark`` appends
the package root to ``spark.executorEnv.PYTHONPATH`` so workers find the
module. It keeps the stock daemon, and logs one line saying why, where the
master is not local, the caller set ``spark.python.daemon.module``, or
``spark.python.use.daemon`` is false.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

#: Confs we always set. Mirrors the operational conf the reference pins in
#: its captured checkpoint (test/checkpoint-offset.json:12-15) where still
#: relevant, plus the 100-TB-posture knobs from SURVEY.md §7.1.
ENGINE_DEFAULTS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones. Free insurance at any scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/customer/supplier/part at our SFs)
    # must broadcast; 64 MB covers every dim at 100 TB fact scale while the
    # fact side stays shuffle-free on those joins.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Runtime bloom-filter join reduction: when one join side is selective,
    # inject a bloom filter on the other side's scan — at 100 TB this
    # prunes shuffle input for star-schema joins (e.g. filtered orders →
    # lineitem) before the exchange. Off by default in Spark; safe on.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Arrow transfer for the few Pandas-UDF ops (similarity/multimodal);
    # everything else stays JVM-side.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource filter pushdown (Spark 4.1): required for the
    # replay source's pushFilters partition pruning — Spark refuses to
    # plan a pushFilters-capable source while this is false.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Streaming-subplan filter-pruning guard the reference pins
    # (test/checkpoint-offset.json:15).
    "spark.sql.optimizer.pruneFiltersCanPruneStreamingSubplan": "false",
    # Bound per-task input so a 100-TB scan yields mem-fit partitions.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # The driver's events table stores TIMESTAMP(NANOS) parquet, which
    # Spark 4 rejects outright; read nanos as long and convert in the
    # loader (tables.load_table) — same µs truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The driver compares against DuckDB; ANSI stays on (Spark 4 default)
    # so overflow/casts fail loudly instead of silently diverging.
}


def load_properties(path: str) -> dict[str, str]:
    """Parse a java-style .properties file, keeping only ``spark.*`` keys.

    Same contract as the reference's ``SparkConfigLoader.scala:9-24``:
    ``#``/``!`` comments and blank lines skipped, first ``=`` splits
    key/value, non-spark keys dropped.
    """
    conf: dict[str, str] = {}
    with open(path, encoding="utf-8") as fh:
        for raw in fh:
            line = raw.strip()
            if not line or line.startswith(("#", "!")) or "=" not in line:
                continue
            key, _, value = line.partition("=")
            key, value = key.strip(), value.strip()
            if key.startswith("spark."):
                conf[key] = value
    return conf


def default_parallelism() -> int:
    """Local-mode core count; on a real cluster Spark supplies this."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_NIO_SOURCE = os.path.join(_JVM_DIR, "NioLocalFs.java")
_NIO_FS = "kafka_stream_job_spark.jvm.NioLocalFs$Local"
_NIO_AFS = "kafka_stream_job_spark.jvm.NioLocalFs$LocalFs"
_FS_KEYS = ("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl")
#: Masters whose executors run in the driver JVM (``local-cluster`` does not).
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")
#: The worker daemon local sessions run, and the directory it imports from.
_PY_DAEMON = "kafka_stream_job_spark.pydaemon"
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Spark home → (class directory or None, why not): javac runs once per process.
_compiled: dict[str, tuple[str | None, str]] = {}
#: Why the last ``get_spark`` left stock Hadoop in place (None: it did not).
_stock_reason: str | None = None


def _javac() -> str | None:
    java_home = os.environ.get("JAVA_HOME", "")
    javac = os.path.join(java_home, "bin", "javac")
    return javac if java_home and os.access(javac, os.X_OK) else shutil.which("javac")


def _nio_classes(spark_home: str) -> tuple[str | None, str]:
    """Compile ``NioLocalFs.java`` against the Spark home's Hadoop client
    API into a content-hashed class directory: next to the source, or
    under the temp dir when the package is read-only. Returns the
    directory, or None and the reason it could not be built."""
    if spark_home in _compiled:
        return _compiled[spark_home]
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "hadoop-client-api-*.jar")))
    javac = _javac()
    if javac is None:
        result: tuple[str | None, str] = (None, "no javac")
    elif not jars:
        result = (None, f"no hadoop-client-api jar in {spark_home}/jars")
    else:
        with open(_NIO_SOURCE, "rb") as fh:
            key = hashlib.sha256(fh.read() + os.path.basename(jars[-1]).encode())
        root = _JVM_DIR if os.access(_JVM_DIR, os.W_OK) else tempfile.gettempdir()
        out = os.path.join(root, f".classes-{key.hexdigest()[:16]}")
        result = (out, "")
        if not os.path.isdir(out):
            tmp = tempfile.mkdtemp(prefix=".classes-tmp-", dir=root)
            proc = subprocess.run(
                [javac, "--release", "17", "-nowarn", "-cp", jars[-1], "-d", tmp, _NIO_SOURCE],
                capture_output=True,
                text=True,
            )
            if proc.returncode:
                shutil.rmtree(tmp, ignore_errors=True)
                err = (proc.stderr.strip().splitlines() or ["?"])[0]
                result = (None, f"javac failed: {err}")
            else:
                try:
                    os.rename(tmp, out)
                except OSError:  # a concurrent compile got there first
                    shutil.rmtree(tmp, ignore_errors=True)
    _compiled[spark_home] = result
    return result


def _local_fs_conf(master: str, conf: dict[str, str]) -> dict[str, str]:
    """The confs that install ``NioLocalFs`` for a session with ``master``
    and user ``conf``, or {} (logging why) where stock Hadoop stays."""
    global _stock_reason
    classes, reason = None, ""
    if not _LOCAL_MASTER.fullmatch(master):
        reason = f"non-local master {master}"
    elif any(key in conf for key in _FS_KEYS):
        reason = "user-set fs.file.impl"
    else:
        classes, reason = _nio_classes(_find_spark_home())
        jvm = SparkContext._jvm  # noqa: SLF001 — set once a JVM is running
        if classes and jvm is not None:
            try:
                jvm.java.lang.Class.forName(_NIO_FS)
            except Exception:  # noqa: BLE001 — py4j wraps ClassNotFoundException
                reason = "the running JVM cannot load the shim"
    if reason:
        _stock_reason = reason
        _log.info("local FileSystem: hadoop-stock (%s)", reason)
        return {}
    _stock_reason = None
    user_cp = conf.get("spark.driver.extraClassPath")
    return {
        "spark.driver.extraClassPath": f"{user_cp}{os.pathsep}{classes}" if user_cp else classes,
        _FS_KEYS[0]: _NIO_FS,
        _FS_KEYS[1]: _NIO_AFS,
    }


def _py_daemon_conf(master: str, conf: dict[str, str]) -> dict[str, str]:
    """The confs that run Python workers under ``pydaemon`` for a session
    with ``master`` and user ``conf``, or {} (logging why) where the stock
    daemon stays."""
    reason = ""
    if not _LOCAL_MASTER.fullmatch(master):
        reason = f"non-local master {master}"
    elif "spark.python.daemon.module" in conf:
        reason = "user-set spark.python.daemon.module"
    elif conf.get("spark.python.use.daemon", "true").lower() == "false":
        reason = "spark.python.use.daemon=false"
    if reason:
        _log.info("python daemon: pyspark stock (%s)", reason)
        return {}
    user_path = conf.get("spark.executorEnv.PYTHONPATH")
    return {
        "spark.python.daemon.module": _PY_DAEMON,
        "spark.executorEnv.PYTHONPATH": (
            f"{user_path}{os.pathsep}{_PACKAGE_ROOT}" if user_path else _PACKAGE_ROOT
        ),
    }


def local_fs_mode(spark: SparkSession) -> str:
    """``"nio"`` when ``spark`` writes local files through ``NioLocalFs``,
    else ``"hadoop-stock: <reason>"``."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    if hconf.get("fs.file.impl") == _NIO_FS and hconf.get("fs.AbstractFileSystem.file.impl") == _NIO_AFS:
        return "nio"
    return f"hadoop-stock: {_stock_reason or 'session not built by get_spark'}"


def get_spark(
    app_name: str = "kafka-stream-job-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    properties_file: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``properties_file`` plays the role of the reference's
    ``spark-defaults.properties`` (SparkConfigLoader.scala:9-24); explicit
    ``extra_conf`` wins over it, which wins over ``ENGINE_DEFAULTS``. Local
    masters also get the ``NioLocalFs`` and ``pydaemon`` confs (module
    docstring).
    """
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)

    conf = dict(ENGINE_DEFAULTS)
    # Shuffle width: locally, match cores so every reduce slot is busy
    # without tiny-partition overhead; on a cluster this is overridden to
    # ~2-3x total cores (or left to AQE coalescing from a high initial).
    conf.setdefault("spark.sql.shuffle.partitions", str(cpus))
    conf.setdefault("spark.default.parallelism", str(cpus))
    if properties_file:
        conf.update(load_properties(properties_file))
    if extra_conf:
        conf.update(extra_conf)
    master = conf.get("spark.master", master)
    conf.update(_local_fs_conf(master, conf))
    conf.update(_py_daemon_conf(master, conf))
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def ensure_thread_active_session(spark: SparkSession) -> None:
    """Pin ``spark`` as the JVM-side *active* session for the calling thread.

    py4j pinned-thread mode (the PySpark 4 default) gives every Python
    thread its own dedicated JVM thread — and a freshly attached JVM
    thread has NO active SparkSession. Most DataFrame operations carry
    their session explicitly, but the ``DataFrameWriter`` resolves
    Python DataSources (``df.write.format("<python ds>")``) through
    ``SparkSession.getActiveSession``, so from any non-main Python
    thread the write path fails with ``DATA_SOURCE_NOT_FOUND`` even
    though the source is registered on the session. (The read path is
    unaffected — ``DataFrameReader`` resolves against its own session.)

    Call once per worker thread before writing through a custom Python
    sink. Idempotent and cheap (one py4j round-trip).
    """
    jspark = spark._jsparkSession  # noqa: SLF001 — py4j seam by design
    jvm = spark._jvm  # noqa: SLF001
    for cls in (
        "org.apache.spark.sql.classic.SparkSession",  # Spark 4.x
        "org.apache.spark.sql.SparkSession",  # Spark 3.x layout
    ):
        try:
            obj = jvm
            for part in cls.split("."):
                obj = getattr(obj, part)
            obj.setActiveSession(jspark)
            return
        except Exception:  # noqa: BLE001 — try the next class layout
            continue
    raise RuntimeError("could not locate JVM SparkSession companion object")

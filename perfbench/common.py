"""Shared machinery: run isolation, the Spark session, spans, Spark's own
counters (UI REST API and a ``StreamingQueryListener``), statistics and
output checks.

Nothing here imports PySpark or the engine at module import time, so the
entry point can fail fast, without a result, when the engine is absent.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def high_percentile(xs, min_beyond: int = 10):
    """(percentile, value) for the highest of p99/p95/p90/p75/p50 that has at
    least ``min_beyond`` samples above it, by nearest rank."""
    s = sorted(xs)
    for p in (99, 95, 90, 75, 50):
        if len(s) * (100 - p) / 100.0 >= min_beyond:
            return p, s[min(len(s) - 1, math.ceil(len(s) * p / 100.0) - 1)]
    return 50, median(s)


def percentile(xs, p: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(len(s) * p / 100.0) - 1))]


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, ignoring checksum files."""
    files = size = 0
    for base, _, names in os.walk(path):
        for name in names:
            if not name.endswith(".crc"):
                files += 1
                size += os.path.getsize(os.path.join(base, name))
    return files, size


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------
def _normalize(value):
    """Engine-neutral value form, the same rules as the repository's DuckDB
    oracle comparison: floats to 9 decimals, temporal values as ISO text."""
    if value is None:
        return None
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else round(value, 9)
    if isinstance(value, (list, tuple)):
        return tuple(_normalize(v) for v in value)
    if isinstance(value, (dt.datetime, dt.date)):
        return value.isoformat()
    if type(value).__name__ == "Decimal":
        return str(value)
    return value


def fingerprint(columns, rows) -> str:
    """Order-independent fingerprint: columns sorted by name, rows
    normalized and sorted on a type-tagged key, then hashed."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = [tuple(_normalize(r[i]) for i in order) for r in rows]
    norm.sort(key=lambda row: tuple((v is None, str(type(v)), str(v)) for v in row))
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for row in norm:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


class Checks:
    """Counts operations attempted and failed; ``failed_ratio`` is their
    quotient. An operation is a query execution, a micro-batch drain or a
    phase check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    @contextlib.contextmanager
    def guard(self, what: str):
        """Count one operation; an exception inside fails it, not the run."""
        try:
            yield
        except Exception as exc:  # noqa: BLE001 — counted and reported
            self.record(False, f"{what}: {type(exc).__name__}: {str(exc)[:200]}")
        else:
            self.record(True, what)

    @property
    def ratio(self) -> float:
        return self.failed / max(1, self.attempted)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent, run id) around the
    benchmark's calls into each engine layer. Disabled, it records nothing
    and costs one branch per call."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str, **match) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


#: The tracer of passes a traced run leaves untraced.
UNTRACED = Tracer(False, "")


# ---------------------------------------------------------------------------
# run isolation and the session
# ---------------------------------------------------------------------------
class RunDirs:
    """A private root per run: warehouse, checkpoints, staged inputs, Spark
    local dirs and temp files all live under it, inside the checkout."""

    def __init__(self, workload: str, seed: int) -> None:
        self.root = os.path.join(WORK_BASE, f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        for sub in ("data", "warehouse", "ckpt", "tmp", "local"):
            os.makedirs(os.path.join(self.root, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def cleanup(self) -> None:
        """Remove the run's root (and the work base once nothing is left
        in it; traced runs keep their spans there)."""
        shutil.rmtree(self.root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_BASE)


def prepare_environment(dirs: RunDirs, cpus: int) -> None:
    """Environment the JVM and the Python workers inherit. PYTHONPATH makes
    the engine package importable in workers launched outside the repo."""
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = dirs.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = dirs.path("local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def build_session(dirs: RunDirs, cpus: int, app: str):
    """``session.get_spark`` with this run's warehouse and scratch dirs."""
    from kafka_stream_job_spark.session import get_spark

    tmp = dirs.path("tmp")
    spark = get_spark(
        app_name=app,
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.warehouse.dir": dirs.path("warehouse"),
            "spark.local.dir": dirs.path("local"),
            # temp files in the run's root; no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedTasks": "200000",
            "spark.sql.ui.retainedExecutions": "20000",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )
    spark.sparkContext.setLogLevel("OFF")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext (Python workers end with it)."""
    with contextlib.suppress(Exception):
        spark.stop()


def shutdown_jvm() -> None:
    """End the driver JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001 — the launched JVM
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 — escalate
            proc.kill()
            proc.wait(timeout=20)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def jvm_pid(spark) -> int | None:
    try:
        return int(spark._jvm.ProcessHandle.current().pid())  # noqa: SLF001
    except Exception:  # noqa: BLE001
        return None


def peak_rss_mb(jvm: int | None) -> float:
    """VmHWM of the driver JVM plus ru_maxrss of this Python process, MB."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm is not None:
        try:
            with open(f"/proc/{jvm}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


# ---------------------------------------------------------------------------
# Spark's own counters
# ---------------------------------------------------------------------------
def _rest(spark, path: str):
    url = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{url}/api/v1/applications/{app}/{path}", timeout=30) as r:
        return json.loads(r.read().decode())


def epoch(stamp: str | None) -> float | None:
    """Seconds since the epoch of a Spark UTC stamp: REST API
    ('2026-01-01T00:00:00.000GMT') or streaming progress ('...000Z')."""
    if not stamp:
        return None
    utc = stamp.replace("GMT", "+0000").replace("Z", "+0000")
    return dt.datetime.strptime(utc, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


#: Units of Spark UI metric strings (Utils.bytesToString, msDurationToString).
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
         "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
#: Python SQL-node metrics (PythonSQLMetrics): UI label -> our name.
_PY_METRICS = {
    "time to run python workers": "python_total_s",  # pythonTotalTime
    "time to initialize python workers": "python_init_s",  # pythonInitTime
    "time to start python workers": "python_boot_s",  # pythonBootTime
    "data sent to python workers": "python_bytes_sent",  # pythonDataSent
    "data returned from python workers": "python_bytes_received",  # pythonDataReceived
}


def _metric_total(text: str) -> float:
    """First quantity of a UI metric string, e.g. 'total (min, med, max)\\n
    1.2 MiB (...)' → bytes, '3.4 s (...)' → seconds, '12' → 12."""
    for line in str(text).splitlines():
        parts = line.replace(",", "").split()
        if not parts:
            continue
        try:
            value = float(parts[0])
        except ValueError:
            continue
        unit = parts[1] if len(parts) > 1 else ""
        return value * _UNIT.get(unit, 1.0)
    return 0.0


class SparkCounters:
    """Stage metrics from ``/stages`` and Python SQL-node metrics from
    ``/sql?details=true``, attributed to span windows by submission time."""

    def __init__(self, spark) -> None:
        stages = _rest(spark, "stages?status=complete") + _rest(spark, "stages?status=failed")
        self.stages = [dict(s, _t=epoch(s.get("submissionTime"))) for s in stages]
        self.sql = []
        for ex in _rest(spark, "sql?details=true&planDescription=false&offset=0&length=100000"):
            t = epoch(ex.get("submissionTime"))
            py = dict.fromkeys(_PY_METRICS.values(), 0.0)
            seen = False
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = _PY_METRICS.get(m.get("name", "").lower())
                    if key:
                        py[key] += _metric_total(m.get("value", ""))
                        seen = True
            self.sql.append({"t": t, "python": py, "has_python": seen,
                             "id": ex.get("id")})

    def stage_totals(self, windows) -> dict:
        out = dict(executor_cpu_s=0.0, executor_run_s=0.0, gc_s=0.0, stages=0, tasks=0,
                   failed_tasks=0, shuffle_write_bytes=0, shuffle_read_bytes=0,
                   spill_bytes=0, input_bytes=0)
        for s in self.stages:
            if s["_t"] is None or not any(a <= s["_t"] <= b for a, b in windows):
                continue
            out["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            out["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
            out["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            out["stages"] += 1
            out["tasks"] += s.get("numTasks", 0)
            out["failed_tasks"] += s.get("numFailedTasks", 0)
            out["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
            out["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
            out["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            out["input_bytes"] += s.get("inputBytes", 0)
        out["executor_wait_s"] = max(0.0, out["executor_run_s"] - out["executor_cpu_s"])
        return out

    def python_totals(self, windows) -> tuple[dict, bool]:
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        seen = False
        for ex in self.sql:
            if ex["t"] is None or not any(a <= ex["t"] <= b for a, b in windows):
                continue
            seen = seen or ex["has_python"]
            for k, v in ex["python"].items():
                out[k] += v
        return out, seen


_STREAM_PHASES = ("queryPlanning", "addBatch", "walCommit", "commitOffsets", "latestOffset",
                  "getBatch")


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event as a
    dict. Defined lazily: the base class needs PySpark importable."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            try:
                self.events.append(json.loads(event.progress.json))
            except Exception:  # noqa: BLE001 — never break the listener bus
                pass

        def settle(self, timeout: float = 5.0) -> None:
            """Wait until the asynchronous listener bus stops delivering."""
            deadline = time.time() + timeout
            last = -1
            while time.time() < deadline and last != len(self.events):
                last = len(self.events)
                time.sleep(0.3)

    return ProgressLog()


def streaming_metrics(events: list[dict]) -> dict:
    """Per-batch p50 and sum of each trigger phase plus state-operator
    totals, over the progress events of batches that read input."""
    batches = [e for e in events if e.get("numInputRows", 0) > 0]
    out: dict[str, float] = {"streaming.batches": len(batches)}
    for phase in _STREAM_PHASES:
        vals = [float(e.get("durationMs", {}).get(phase, 0)) for e in batches]
        out[f"streaming.{phase}_ms.p50"] = median(vals) if vals else 0.0
        out[f"streaming.{phase}_ms.sum"] = sum(vals)
    commit, rows, mem, dropped = [], 0, 0, 0
    for e in batches:
        ops = e.get("stateOperators") or []
        commit.append(sum(float(o.get("commitTimeMs", 0)) for o in ops))
        dropped += sum(int(o.get("numRowsDroppedByWatermark", 0)) for o in ops)
    last_by_query: dict[str, dict] = {}
    for e in batches:
        last_by_query[e.get("runId")] = e
    for e in last_by_query.values():
        for o in e.get("stateOperators") or []:
            rows += int(o.get("numRowsTotal", 0))
            mem += int(o.get("memoryUsedBytes", 0))
    out["streaming.state_commit_ms.p50"] = median(commit) if commit else 0.0
    out["streaming.state_commit_ms.sum"] = sum(commit)
    out["streaming.state_rows_total"] = rows
    out["streaming.state_memory_bytes"] = mem
    out["streaming.state_rows_dropped_by_watermark"] = dropped
    return out

"""The engine's benchmark: one workload per run, end to end or layer by layer.

    python3 perfbench/run.py --workload curation_dup --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. The benchmark writes
its seeded inputs, the Spark warehouse, checkpoints and scratch files
under ``.perfbench_work/`` in the checkout and removes them at exit.

``--trace 0`` prints every end-to-end metric; ``--trace 1`` records spans
around the benchmark's calls into each engine module plus Spark's own
counters, and prints every per-layer metric. The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is a JSON report with sample counts,
percentiles and check failures. ``perfbench/README.md`` defines every
metric and says which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

#: Spark runs as local[N], N ≤ the host's cores.
CPUS = max(1, min(4, os.cpu_count() or 1))

#: Session restarts after the timed part of a workload without its own
#: restart phase; ``restart_s`` is their median.
RESTART_PROBES = 3

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("query_geomean_s", "s"),
    ("ingest_rows_per_s", "rows/s"),
    ("freshness_p50_s", "s"),
    ("freshness_p90_s", "s"),
    ("restart_s", "s"),
    ("peak_rss_mb", "MB"),
)

PER_LAYER = (
    ("session.start_s", "s"),
    ("registry.import_s", "s"),
    ("operators.build_s", "s"),
    ("operators.build_share", "ratio"),
    ("operators.exec_s", "s"),
    ("operators.executor_cpu_s", "s"),
    ("operators.executor_run_s", "s"),
    ("operators.executor_wait_s", "s"),
    ("operators.gc_s", "s"),
    ("operators.stages", "count"),
    ("operators.tasks", "count"),
    ("operators.failed_tasks", "count"),
    ("operators.shuffle_write_bytes", "bytes"),
    ("operators.shuffle_read_bytes", "bytes"),
    ("operators.spill_bytes", "bytes"),
    ("operators.input_bytes", "bytes"),
    ("operators.python_total_s", "s"),
    ("operators.python_init_s", "s"),
    ("operators.python_boot_s", "s"),
    ("operators.python_bytes_sent", "bytes"),
    ("operators.python_bytes_received", "bytes"),
    ("operators.python_unmetered_queries", "count"),
    ("streaming.batches", "count"),
    *(
        (f"streaming.{phase}_ms.{agg}", "ms")
        for phase in ("queryPlanning", "addBatch", "walCommit", "commitOffsets",
                      "latestOffset", "getBatch", "state_commit")
        for agg in ("p50", "sum")
    ),
    ("streaming.state_rows_total", "count"),
    ("streaming.state_memory_bytes", "bytes"),
    ("streaming.state_rows_dropped_by_watermark", "count"),
    ("bronze.rows_committed", "count"),
    ("bronze.batches", "count"),
    ("bronze.addBatch_ms_per_krow", "ms"),
    ("bronze.sink_files", "count"),
    ("bronze.sink_bytes", "bytes"),
    ("bronze.decode_null_rows", "count"),
    ("bronze.rows_per_s_1core", "rows/s"),
    ("checkpoint.offsets_files", "count"),
    ("checkpoint.bytes", "bytes"),
    ("monitors.preflight_s", "s"),
    ("monitors.loss_events", "count"),
    ("generator.lag_s", "s"),
    ("generator.backlog_files_max", "count"),
    ("trace.overhead_s", "s"),
    ("failed_ratio", "ratio"),
)


class Harness:
    """State one run shares with its workload: the session, the registry,
    the tracer, the output checks and the run's private directories."""

    def __init__(self, args) -> None:
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.dirs = common.RunDirs(args.workload, args.seed)
        self.tracer = common.Tracer(self.trace, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.checks = common.Checks()
        self.spark = None
        self.specs = None
        self.listener = None
        self.cpus = CPUS
        self.excluded_s = 0.0  # benchmark-owned work inside the first set-up window
        self.report: dict = {}

    def rng(self, stream: int):
        import numpy as np

        return np.random.default_rng([self.seed, stream])

    @contextlib.contextmanager
    def benchmark_owned(self):
        """Benchmark-owned work (input generation, expected values) that the
        set-up window must not count."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t

    def start_session(self, master_cpus: int | None = None) -> None:
        with self.tracer.span("session.get_spark"):
            self.spark = common.build_session(self.dirs, master_cpus or self.cpus,
                                              f"perfbench-{self.args.workload}")
        if self.trace:
            if self.listener is None:
                self.listener = common.progress_listener()
            self.spark.streams.addListener(self.listener)

    def load_registry(self) -> None:
        with self.tracer.span("registry.all_specs"):
            from kafka_stream_job_spark.registry import all_specs

            self.specs = all_specs()


def _workload(name: str):
    if name == "curation_dup":
        from perfbench.curation import CurationDup

        return CurationDup()
    if name == "stateful_replay":
        from perfbench.stateful import StatefulReplay

        return StatefulReplay()
    if name == "bronze_ingest":
        from perfbench.bronze_ingest import BronzeIngest

        return BronzeIngest()
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("bronze_ingest", "curation_dup", "stateful_replay")


def run(args) -> dict:
    h = Harness(args)
    wl = _workload(args.workload)
    common.prepare_environment(h.dirs, h.cpus)
    try:
        with h.benchmark_owned():
            wl.generate(h)
        h.start_session()
        h.load_registry()
        with h.benchmark_owned():
            wl.expectations(h)
        wl.stage(h)
        wl.warmup(h)
        setup_s = time.time() - PROCESS_START - h.excluded_s
        t_measure = time.time()
        metrics = wl.measure(h)
        t_verify = time.time()
        wl.verify(h)
        h.report["phase_wall_s"] = {
            "before_measure": t_measure - PROCESS_START,
            "benchmark_owned": h.excluded_s,
            "measure": t_verify - t_measure,
            "verify": time.time() - t_verify,
        }
        if h.trace:
            return finish(h, layer_metrics(h, wl))
        metrics["setup_s"] = setup_s
        if "restart_s" not in metrics:
            probes = [restart_probe(h, wl) for _ in range(RESTART_PROBES)]
            h.report["restart_samples"] = probes
            metrics["restart_s"] = common.median(probes)
        metrics["peak_rss_mb"] = common.peak_rss_mb(common.jvm_pid(h.spark))
        return finish(h, metrics)
    finally:
        if h.spark is not None:
            common.stop_session(h.spark)
        common.shutdown_jvm()
        h.dirs.cleanup()


def restart_probe(h: Harness, wl) -> float:
    """Time from stopping the session until a rebuilt one has the registry
    loaded and the workload's inputs staged, ready for work again."""
    t0 = time.time()
    common.stop_session(h.spark)
    h.start_session()
    h.load_registry()
    wl.stage(h)
    return time.time() - t0


def layer_metrics(h: Harness, wl) -> dict:
    """Per-layer metrics for a traced run: spans, Spark counters, and the
    workload's own layer readings; every name in PER_LAYER, 0 if unused."""
    out = {name: 0.0 for name, _ in PER_LAYER}
    spans = h.tracer.spans
    starts = [s["end"] - s["start"] for s in spans if s["name"] == "session.get_spark"]
    out["session.start_s"] = common.median(starts)
    first_registry = next(s for s in spans if s["name"] == "registry.all_specs")
    out["registry.import_s"] = first_registry["end"] - first_registry["start"]
    if h.listener is not None:
        h.listener.settle()
    out.update(wl.layers(h))
    out["failed_ratio"] = h.checks.ratio
    spans_file = os.path.join(common.WORK_BASE, "spans", f"{h.args.workload}-s{h.seed}.jsonl")
    h.tracer.write(spans_file)
    h.report["spans_file"] = os.path.relpath(spans_file, common.ROOT)
    return out


def finish(h: Harness, metrics: dict) -> dict:
    names = PER_LAYER if h.trace else END_TO_END
    missing = [n for n, _ in names if n not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    h.report.update(
        workload=h.args.workload,
        seed=h.seed,
        failed_ratio=h.checks.ratio,
        failures=h.checks.failures,
    )
    print(json.dumps({"report": h.report}, default=str))
    return {
        "correct": h.checks.failed == 0,
        "attempted": h.checks.attempted,
        "failed": h.checks.failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in names},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                   help="tiny: sf0.001-sized inputs for the self-test")
    p.add_argument("--corrupt-expectation", action="store_true",
                   help="self-test: perturb one expected fingerprint")
    args = p.parse_args(argv)
    try:
        import kafka_stream_job_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {common.ROOT}: {exc}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

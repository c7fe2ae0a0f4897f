"""``stateful_replay``: seeded ``events`` files replayed through the public
streaming builders, each drained by ``run_stream_to_memory``.

The events are cut by event time into files with a seeded share of rows
delivered one file late (out of order, inside the watermark) and a share
delivered twice. The file source reads ``maxFilesPerTrigger`` files per
micro-batch, so every drain runs several batches and commits state after
each. One operation is one drain of one builder; a pass drains all three,
and its time is the sum of the three drain times (the checks are not
timed). Each drain's result is reduced to its row count and an order-independent
hash of its rows. After the timed part these are compared with the same
builder (or, for the ``applyInPandasWithState`` operator, the equivalent
aggregation) run as a batch query over the same rows.

The registry twins ``streaming_ohlc_bars`` and ``streaming_ivf_assign`` are
not in the set: they stage their input under a fixed ``/tmp`` path, and
the benchmark reads and writes only inside its checkout. ``dedup_stream``
is left out to keep a run short.
"""

from __future__ import annotations

import math
import os
import time

from perfbench import common, gen

SCALE = {"bench": 0.01, "tiny": 0.001}
N_FILES = 6
FILES_PER_TRIGGER = 3
WARMUP_PASSES = 2
#: The generated events files' schema (gen.write_tables), so staging the
#: stream needs no Spark job.
EVENTS_SCHEMA = ("event_id long, ts timestamp_ntz, user_id long, event_type string, "
                 "value double, props string")


def _builders():
    from kafka_stream_job_spark.streaming import pipeline as sp

    return (
        ("hourly_rollup_stream", sp.hourly_rollup_stream, "complete"),
        ("session_window_stream", sp.session_window_stream, "complete"),
        ("stateful_user_totals_stream", sp.stateful_user_totals_stream, "append"),
    )


def _fingerprint(df) -> tuple[int, int]:
    """(rows, sum of row hashes): equal for equal row multisets, in any
    order, computed in Spark so no result crosses to Python."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


def _final_totals(df):
    """The last running total per user: what the append-mode stream has
    converged to once every file is drained."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return df.withColumn("_r", F.row_number().over(w)).where("_r = 1").drop("_r")


class StatefulReplay:
    def __init__(self) -> None:
        self.builders = None
        self.expected: dict[str, tuple[int, int]] = {}
        self.lat: dict[str, list[float]] = {}
        self.passes: list[tuple[bool, float]] = []
        self.unchecked: list[tuple[str, tuple[int, int]]] = []
        self.seq = 0

    def generate(self, h) -> None:
        base = h.dirs.path("data", "base")
        counts = gen.write_tables(base, SCALE[h.args.scale], h.rng(1))
        self.replay_dir = h.dirs.path("data", "replay")
        gen.split_events(os.path.join(base, "events.parquet"), self.replay_dir, h.rng(2), N_FILES)
        self.input_rows = counts["events"]
        h.report["input_rows"] = self.input_rows

    def _source(self, h, batch: bool):
        from pyspark.sql import functions as F

        if batch:
            df = h.spark.read.parquet(self.replay_dir)
        else:
            df = (h.spark.readStream.schema(EVENTS_SCHEMA)
                  .option("maxFilesPerTrigger", FILES_PER_TRIGGER).parquet(self.replay_dir))
        # TIMESTAMP_NTZ → TIMESTAMP: watermarks need a zoned timestamp; the
        # session zone is UTC, as in streaming.pipeline.stream_events.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))

    def expectations(self, h) -> None:
        """Computed in :meth:`verify`, after the timed part: run here, the
        batch queries would warm the JVM for the set-up window."""

    def _batch_expectations(self, h) -> None:
        from pyspark.sql import functions as F

        events = self._source(h, batch=True)
        for name, build, _ in self.builders:
            if name == "stateful_user_totals_stream":
                df = events.groupBy("user_id").agg(
                    F.count(F.lit(1)).alias("n_events"),
                    (F.sum(F.round(F.col("value") * 100.0).cast("long")) / 100.0).alias("total_value"),
                )
            else:
                df = build(events)
            self.expected[name] = _fingerprint(df)
        if h.args.corrupt_expectation:
            name = self.builders[0][0]
            self.expected[name] = (self.expected[name][0], -1)

    def stage(self, h) -> None:
        if self.builders is None:
            self.builders = _builders()
            self.lat = {name: [] for name, _, _ in self.builders}
        self.stream = self._source(h, batch=False)

    def _drain(self, h, name, build, mode, traced) -> float:
        """One operation: drain one builder, then check its result. Returns
        the drain's wall time, from the call until the result is in the
        memory sink."""
        from kafka_stream_job_spark.streaming.pipeline import run_stream_to_memory

        self.seq += 1
        qname = f"perfbench_{name}_{self.seq}"
        ckpt = h.dirs.path("ckpt", qname)
        tracer = h.tracer if traced else common.UNTRACED
        lat = float("nan")
        with h.checks.guard(f"drain {name}"):
            t0 = time.perf_counter()
            with tracer.span("streaming.drain", op=name):
                out = run_stream_to_memory(h.spark, build(self.stream), qname, ckpt, mode)
            lat = time.perf_counter() - t0
            if name == "stateful_user_totals_stream":
                out = _final_totals(out)
            self.unchecked.append((name, _fingerprint(out)))
            h.spark.catalog.dropTempView(qname)
        return lat

    def warmup(self, h) -> None:
        """Two passes: the drains' per-batch planning and state-store code
        is still compiling through the first."""
        for _ in range(WARMUP_PASSES):
            for name, build, mode in self.builders:
                self._drain(h, name, build, mode, traced=False)

    def measure(self, h) -> dict:
        rng = h.rng(3)
        deadline = time.perf_counter() + h.seconds
        k = 0
        while time.perf_counter() < deadline or k < 2:
            traced = h.trace and k % 2 == 1
            spent = 0.0
            for j in rng.permutation(len(self.builders)):
                name, build, mode = self.builders[j]
                lat = self._drain(h, name, build, mode, traced)
                spent += lat
                if not traced and math.isfinite(lat):
                    self.lat[name].append(lat)
            self.passes.append((traced, spent))
            k += 1
        plain = [s for t, s in self.passes if not t]
        p, tail = common.high_percentile(plain)
        h.report.update(
            pass_samples=len(plain), pass_p_high=[p, tail], op_samples=sum(map(len, self.lat.values())),
            drain_median_s={q: common.median(v) for q, v in self.lat.items()},
        )
        pass_s = common.median(plain)
        # percentiles over operations of each one's median latency: a pooled
        # percentile of mixed operations jumps between neighbouring queries
        medians = [common.median(v) for v in self.lat.values()]
        return {
            "pass_s": pass_s,
            "query_geomean_s": common.geomean(medians),
            "ingest_rows_per_s": self.input_rows * len(self.builders) / pass_s,
            "freshness_p50_s": common.median(medians),
            "freshness_p90_s": common.percentile(medians, 90),
        }

    def verify(self, h) -> None:
        """Compare every drained result so far with the batch result."""
        if not self.expected:
            self._batch_expectations(h)
        for name, got in self.unchecked:
            h.checks.record(got == self.expected[name],
                            f"{name}: (rows, hash) {got} != batch {self.expected[name]}")
        self.unchecked = []

    def layers(self, h) -> dict:
        spans = [s for s in h.tracer.spans if s["name"] == "streaming.drain"]
        windows = [(s["start"], s["end"]) for s in spans]
        n_traced = sum(1 for t, _ in self.passes if t)
        events = [e for e in h.listener.events
                  if any(a <= common.epoch(e["timestamp"]) <= b
                         for a, b in windows)]
        out = {k: (v if k.endswith(".p50") else v / n_traced)
               for k, v in common.streaming_metrics(events).items()}
        counters = common.SparkCounters(h.spark)
        stages = counters.stage_totals(windows)
        python, _ = counters.python_totals(windows)
        out.update({f"operators.{k}": v / n_traced for k, v in stages.items()})
        out.update({f"operators.{k}": v / n_traced for k, v in python.items()})
        out["operators.exec_s"] = sum(b - a for a, b in windows) / n_traced
        traced = [s for t, s in self.passes if t]
        plain = [s for t, s in self.passes if not t]
        out["trace.overhead_s"] = common.median(traced) - common.median(plain)
        return out

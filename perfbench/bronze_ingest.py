"""``bronze_ingest``: the reference job's life cycle on a file source of
binary ``value`` payloads, through ``bronze.decode_events`` and
``bronze.write_stream_append`` into a parquet bronze table.

Phases of the timed part, all on one checkpoint:

1. backlog: a pre-generated backlog is moved into the source directory,
   the query is started, and the wall time from ``start()`` to the commit
   of the batch holding the backlog's last file is one drain;
2. live: one generator thread writes payload files on a fixed schedule
   (open loop; it does not slow when Spark slows). A file's freshness is
   the time from when it was due to the mtime of the checkpoint's
   ``commits/<batch>`` entry of the batch that read it, the batch being
   found in the file source's log ``sources/0``;
3. restart, twice: stop the query, run ``monitors.preflight_detect`` and
   ``monitors.check_batch_transition`` on the checkpoint, move the next
   backlog in, start again. ``restart_s`` runs from the stop to the first
   new commit; the drain is timed as in phase 1.

After the timed part the bronze table must hold every generated row once
(exactly-once across the restarts), with the generator's ``amount`` sum
and no row the decoder turned to nulls.
"""

from __future__ import annotations

import json
import os
import threading
import time

from perfbench import common, gen

#: (files, rows per file) of one backlog.
BACKLOG = {"bench": (50, 2_000), "tiny": (6, 100)}
FILES_PER_TRIGGER = 25
CYCLES = 4  # one start plus three restarts
LIVE_RATE = 35.0  # files per second, open loop
LIVE_ROWS = {"bench": 130, "tiny": 10}
WAIT_S = 60.0


class _Log:
    """Incremental reader of a checkpoint: input file → batch (``sources/0``)
    and batch → commit time (``commits/<batch>`` mtime)."""

    def __init__(self, ckpt: str) -> None:
        self.ckpt = ckpt
        self.batch_of: dict[str, int] = {}
        self.commit_at: dict[int, float] = {}
        self._read: set[str] = set()

    def poll(self) -> None:
        src = os.path.join(self.ckpt, "sources", "0")
        if os.path.isdir(src):
            for name in sorted(os.listdir(src)):
                if name.startswith(".") or name in self._read:
                    continue
                try:
                    with open(os.path.join(src, name), encoding="utf-8") as fh:
                        lines = fh.read().splitlines()
                except FileNotFoundError:
                    continue
                for line in lines[1:]:
                    entry = json.loads(line)
                    self.batch_of[os.path.basename(entry["path"])] = entry["batchId"]
                self._read.add(name)
        com = os.path.join(self.ckpt, "commits")
        if os.path.isdir(com):
            for name in os.listdir(com):
                if name.isdigit() and int(name) not in self.commit_at:
                    self.commit_at[int(name)] = os.stat(os.path.join(com, name)).st_mtime

    def committed(self, name: str) -> float | None:
        b = self.batch_of.get(name)
        return None if b is None else self.commit_at.get(b)

    def wait(self, names, timeout: float = WAIT_S) -> list[float]:
        deadline = time.time() + timeout
        while True:
            self.poll()
            done = [self.committed(n) for n in names]
            if all(t is not None for t in done):
                return done
            if time.time() > deadline:
                raise TimeoutError(f"{sum(t is None for t in done)} files not committed")
            time.sleep(0.01)


class BronzeIngest:
    def __init__(self) -> None:
        self.rows = 0
        self.cents = 0
        self.drains: list[tuple[bool, float]] = []
        self.restarts: list[float] = []
        self.fresh: list[float] = []
        self.lag: list[float] = []
        self.backlog_max = 0
        self.preflight: list[float] = []
        self.loss_events = 0
        self.query = None
        self.next_id = 0
        self.file_seq = 0

    # -- generator (benchmark-owned) -----------------------------------------
    def _write(self, directory: str, n_rows: int, rng, label: str, count: bool = True) -> str:
        """One payload file; ``count`` adds its rows to the bronze table's
        expected totals."""
        name = f"{label}-{self.file_seq:06d}.parquet"
        self.file_seq += 1
        cents = gen.bronze_payload_file(os.path.join(directory, name), rng, self.next_id, n_rows)
        self.next_id += n_rows
        if count:
            self.rows += n_rows
            self.cents += cents
        return name

    def _stage_backlog(self, h, directory: str, rng, count: bool = True) -> list[str]:
        os.makedirs(directory, exist_ok=True)
        files, rows = BACKLOG[h.args.scale]
        return [self._write(directory, rows, rng, "backlog", count) for _ in range(files)]

    def generate(self, h) -> None:
        self.src = h.dirs.path("data", "src")
        os.makedirs(self.src)
        rng = h.rng(1)
        self.backlogs = [
            (h.dirs.path("data", f"backlog{c}"), self._stage_backlog(h, h.dirs.path("data", f"backlog{c}"), rng))
            for c in range(CYCLES)
        ]
        self.warm = [(h.dirs.path("data", f"warm{c}"),
                      self._stage_backlog(h, h.dirs.path("data", f"warm{c}"), rng, count=False))
                     for c in range(2)]
        self.live_rng = h.rng(2)
        h.report["backlog_rows"] = BACKLOG[h.args.scale][0] * BACKLOG[h.args.scale][1]

    def expectations(self, h) -> None:
        """Expected totals are the generator's own counts (see verify)."""

    # -- the program ----------------------------------------------------------
    def _start(self, h, src: str, table: str, ckpt: str, traced: bool):
        from kafka_stream_job_spark import bronze

        tracer = h.tracer if traced else common.UNTRACED
        raw = (h.spark.readStream.schema("value binary")
               .option("maxFilesPerTrigger", FILES_PER_TRIGGER).parquet(src))
        with tracer.span("bronze.decode_events"):
            decoded = bronze.decode_events(raw, source_tag="kafka-stream")
        with tracer.span("bronze.write_stream_append"):
            return bronze.write_stream_append(decoded, table, ckpt)

    def stage(self, h) -> None:
        from kafka_stream_job_spark import bronze

        self.table = "bronze_orders"
        bronze.create_bronze_table(h.spark, self.table)
        bronze.create_bronze_table(h.spark, "bronze_warmup")

    def warmup(self, h) -> None:
        """A full-size backlog drain, a stop and a restart with a second one,
        on a throwaway table and checkpoint."""
        src, ckpt = h.dirs.path("data", "warm_src"), h.dirs.path("ckpt", "warm")
        os.makedirs(src)
        for directory, names in self.warm:
            with h.checks.guard("warm-up drain"):
                for n in names:
                    os.replace(os.path.join(directory, n), os.path.join(src, n))
                q = self._start(h, src, "bronze_warmup", ckpt, traced=False)
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()

    def _drain(self, h, backlog, traced: bool) -> float:
        """Move one backlog in, start the query, wait for its last file."""
        directory, names = backlog
        for n in names:
            os.replace(os.path.join(directory, n), os.path.join(self.src, n))
        t0 = time.time()
        self.query = self._start(h, self.src, self.table, self.ckpt, traced)
        done = self.log.wait(names)
        self.drains.append((traced, max(done) - t0))
        self.windows.append((t0, max(done)))
        return min(done)

    def _live(self, h) -> None:
        """Open-loop phase: files due every 1/LIVE_RATE s for seconds/2 s."""
        n_files = max(int(LIVE_RATE * h.seconds / 2), 1)
        rows = LIVE_ROWS[h.args.scale]
        staged = h.dirs.path("data", "live")
        os.makedirs(staged)
        due: dict[str, float] = {}
        t0 = time.time() + 0.05
        lock = threading.Lock()

        def produce():
            for k in range(n_files):
                at = t0 + k / LIVE_RATE
                pause = at - time.time()
                if pause > 0:
                    time.sleep(pause)
                name = self._write(staged, rows, self.live_rng, "live")
                os.replace(os.path.join(staged, name), os.path.join(self.src, name))
                with lock:
                    due[name] = at
                    self.lag.append(time.time() - at)

        gen_thread = threading.Thread(target=produce, name="perfbench-live-generator")
        gen_thread.start()
        try:
            while gen_thread.is_alive():
                self.log.poll()
                with lock:
                    pending = sum(1 for n in due if self.log.committed(n) is None)
                self.backlog_max = max(self.backlog_max, pending)
                time.sleep(0.02)
        finally:
            gen_thread.join()
        done = self.log.wait(list(due))
        self.fresh = [c - due[n] for n, c in zip(due, done)]
        self.windows.append((t0, max(done)))

    def _restart(self, h, backlog, traced: bool) -> None:
        from kafka_stream_job_spark import monitors

        tracer = h.tracer if traced else common.UNTRACED
        t_stop = time.time()
        self.query.stop()

        def no_broker(tps):  # a file source has no broker; never called
            return {}

        t = time.perf_counter()
        with tracer.span("monitors.preflight_detect"):
            events = monitors.preflight_detect(self.ckpt, no_broker)
        with tracer.span("monitors.check_batch_transition"):
            suspects = monitors.check_batch_transition(self.ckpt, no_broker)
        self.preflight.append(time.perf_counter() - t)
        self.loss_events += len(events) + len(suspects)
        first = self._drain(h, backlog, traced)
        self.restarts.append(first - t_stop)

    def measure(self, h) -> dict:
        self.ckpt = h.dirs.path("ckpt", "bronze")
        self.log = _Log(self.ckpt)
        self.windows: list[tuple[float, float]] = []
        with h.checks.guard("backlog drain"):
            self._drain(h, self.backlogs[0], traced=False)
        with h.checks.guard("live phase"):
            self._live(h)
        for c in range(1, CYCLES):
            with h.checks.guard(f"restart {c}"):
                self._restart(h, self.backlogs[c], traced=h.trace and c % 2 == 1)
        self.query.stop()
        plain = [s for t, s in self.drains if not t]
        drain_s = common.median(plain)
        p, tail = common.high_percentile(self.fresh)
        h.report.update(
            drain_samples=plain, restart_samples=self.restarts, freshness_samples=len(self.fresh),
            freshness_p_high=[p, tail], generator_lag_max_s=max(self.lag),
            backlog_files_max=self.backlog_max,
        )
        fresh50, fresh90 = common.percentile(self.fresh, 50), common.percentile(self.fresh, 90)
        restart = common.median(self.restarts)
        return {
            "pass_s": drain_s,
            "query_geomean_s": common.geomean([drain_s, fresh50, restart]),
            "ingest_rows_per_s": h.report["backlog_rows"] / drain_s,
            "freshness_p50_s": fresh50,
            "freshness_p90_s": fresh90,
            "restart_s": restart,
        }

    def verify(self, h) -> None:
        from pyspark.sql import functions as F

        df = h.spark.table(self.table)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("orderId").alias("ids"),
            F.sum(F.round(F.col("amount") * 100.0).cast("long")).alias("cents"),
            F.sum(F.when(F.col("orderId").isNull() | F.col("amount").isNull(), 1).otherwise(0)).alias("nulls"),
        ).collect()[0]
        expected_rows = self.rows + (1 if h.args.corrupt_expectation else 0)
        self.committed_rows, self.null_rows = row["n"], row["nulls"] or 0
        h.checks.record(row["n"] == expected_rows, f"committed rows {row['n']} != generated {expected_rows}")
        h.checks.record(row["ids"] == row["n"], f"duplicate orderIds: {row['n'] - row['ids']}")
        h.checks.record(row["cents"] == self.cents, f"amount cents {row['cents']} != {self.cents}")
        h.checks.record(self.null_rows == 0, f"decode-null rows {self.null_rows}")
        h.checks.record(self.loss_events == 0, f"data-loss events {self.loss_events}")

    # -- traced run -------------------------------------------------------------
    def layers(self, h) -> dict:
        location = h.spark.sql(f"DESCRIBE TABLE EXTENDED {self.table}").where(
            "col_name = 'Location'").collect()[0]["data_type"]
        events = [e for e in h.listener.events
                  if location.replace("file:", "") in (e.get("sink") or {}).get("description", "")]
        out = common.streaming_metrics(events)
        rows = sum(e.get("numInputRows", 0) for e in events)
        counters = common.SparkCounters(h.spark)
        out.update({f"operators.{k}": v for k, v in counters.stage_totals(self.windows).items()})
        python, _ = counters.python_totals(self.windows)
        out.update({f"operators.{k}": v for k, v in python.items()})
        sink_files, sink_bytes = common.dir_stats(location.replace("file:", ""))
        meta_files, meta_bytes = common.dir_stats(os.path.join(location.replace("file:", ""), "_spark_metadata"))
        ckpt_files, ckpt_bytes = common.dir_stats(self.ckpt)
        traced = [s for t, s in self.drains if t]
        plain = [s for t, s in self.drains if not t]
        out.update({
            "bronze.rows_committed": self.committed_rows,
            "bronze.batches": len(self.log.commit_at),
            "bronze.addBatch_ms_per_krow": out["streaming.addBatch_ms.sum"] / max(rows / 1000.0, 1e-9),
            "bronze.sink_files": sink_files - meta_files,
            "bronze.sink_bytes": sink_bytes - meta_bytes,
            "bronze.decode_null_rows": self.null_rows,
            "checkpoint.offsets_files": len(os.listdir(os.path.join(self.ckpt, "offsets"))),
            "checkpoint.bytes": ckpt_bytes,
            "monitors.preflight_s": common.median(self.preflight),
            "monitors.loss_events": self.loss_events,
            "generator.lag_s": max(self.lag),
            "generator.backlog_files_max": self.backlog_max,
            "trace.overhead_s": common.median(traced) - common.median(plain),
            "bronze.rows_per_s_1core": self._one_core(h),
        })
        return out

    def _one_core(self, h) -> float:
        """The backlog drain again on ``local[1]``: the single-thread baseline."""
        from kafka_stream_job_spark import bronze

        common.stop_session(h.spark)
        h.start_session(master_cpus=1)
        src = h.dirs.path("data", "src1")
        names = self._stage_backlog(h, h.dirs.path("data", "backlog1core"), h.rng(20), count=False)
        os.makedirs(src)
        bronze.create_bronze_table(h.spark, "bronze_one_core")
        self.src, self.table, self.ckpt = src, "bronze_one_core", h.dirs.path("ckpt", "one_core")
        self.log = _Log(self.ckpt)
        self.drains = []
        self._drain(h, (h.dirs.path("data", "backlog1core"), names), traced=False)
        self.query.stop()
        return len(names) * BACKLOG[h.args.scale][1] / self.drains[0][1]

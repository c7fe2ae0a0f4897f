"""Streaming pipelines over the sandbox file source (the stand-in for the
reference's Kafka source — same DataFrame programs run on
``readStream.format("kafka")`` unchanged, cf. bronze.kafka_stream).

The reference's stream is a stateless decode→append
(KafkaAvroToIceberg.scala:55-100). Beyond re-expressing that (bronze.py),
this module adds the stateful operators a real streaming engine needs:
event-time tumbling/sliding/session windows behind watermarks, streaming
dedup, and stream-static joins. Each has a batch-equivalent query in the
registry so correctness is oracle-checked; tests additionally assert
stream-vs-batch equivalence by draining the file stream with
``processAllAvailable()`` (reference Q1, KafkaAvroToIceberg.scala:104).

Every parquet file stream goes through ``_file_stream``, which reads its
files where they are. A table streams straight from the table directory:
``pathGlobFilter`` narrows the listing to the table's one parquet file
(TESTDATA.md: one file per table), so no stage directory or symlink is
needed. Derived replays (late rows, a heartbeat, split halves) are
written once under a content-keyed ``tables._staged_dir`` and streamed
from there.

Scale notes: every stateful op is watermarked — unbounded state is the #1
streaming failure at scale; on a cluster you'd add the RocksDB state store
(`spark.sql.streaming.stateStore.providerClass`) which is config, not code.

Execution-model background (PAPERS.md): Structured Streaming's
micro-batch recovery model descends from Discretized Streams (SOSP'13) —
deterministic micro-batch re-execution is exactly why the drained
replays here can carry exact oracles — while the per-batch fixed cost
that the bounded-drain shuffle-partition setting below
(``DRAIN_SHUFFLE_PARTITIONS``, one state-store instance per executor slot
on a 4-core session) keeps down is the overhead Drizzle (SOSP'17)
measures and amortizes with group scheduling. On local sessions most of
that cost used to be process starts: without ``libhadoop`` stock Hadoop
forks a ``chmod`` for every checkpoint, state-delta and ``.crc`` file and
a ``readlink`` for every rename. ``session.get_spark`` installs a
fork-free local FileSystem that removes them (see ``session.py``).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

# The operator modules imported here also register their batch queries, so
# the REGISTRY[...].oracle lookups in this module's @register calls find
# them whether this module is imported by all_specs() or on its own (pytest
# collecting one test file, a user importing only the streaming surface).
# No cycle: no batch operator module imports this one at top level
# (formats.py does so lazily, inside functions).
from kafka_stream_job_spark.operators._portable import idiv, jvm_values_df, pround
from kafka_stream_job_spark.operators.dedup import (
    _BANDS_SQL,
    _FRONTIER_ORACLE_SQL,
    _SHINGLES_SQL,
    _SIGS_SQL,
    NUM_BANDS,
    NUM_HASHES,
    ROWS_PER_BAND,
    _minhash_sig_batches,
    lsh_index_report,
)
from kafka_stream_job_spark.operators.formats import (
    TXN_VERSIONS,
    _stage_gzip_jsonl,
    _stage_txn_log,
)
from kafka_stream_job_spark.operators.multimodal import (
    _WAV_HAAR_SCHEMA,
    _WAV_ZCR_SCHEMA,
    HAARW_FRAME,
    PNG_SIG,
    _bmp_encode_batches,
    _gif_encode_batches,
    _haarw_lang_oracle,
    _png_encode_batches,
    _wav_haar_batches,
    _wav_haar_encode_batches,
    _wav_zcr_batches,
    _zcr_lang_oracle,
    decode_bmp_real,
    decode_gif_real,
    decode_png_real,
    fused_encode_decode,
)
from kafka_stream_job_spark.operators.pipeline import (
    BOOT_B,
    RATER_DRIFT_ORACLE,
    boot_ci_assemble,
    boot_weight_col,
    curation_funnel_report,
    ess_assemble,
    leakage_counters,
    neyman_assemble,
    rater_ab_cols,
    rater_drift_assemble,
    split_leakage_assemble,
)
from kafka_stream_job_spark.operators.relational import (
    _BRIER_PER_USER_SQL,
    _COVWIN_US,
    _INTERVAL_COVERAGE_SQL,
    _MK_DAILY_SQL,
    _RL_CAP,
    _RL_ORACLE_SQL,
    _RL_REFILL,
    _RL_TOP_N,
    _SPRT_A,
    _SPRT_B,
    _SPRT_INC0,
    _SPRT_INC1,
    _SRM_USERS_SQL,
    CUPED_SPLIT,
    DID_SPLIT,
    HILL_K,
    SELF_EXCITE_SEC,
    _brier_oracle,
    _hill_oracle,
    _mann_kendall_oracle,
    _srm_oracle,
    brier_assemble,
    ccf_assemble,
    ccf_hourly_counts,
    cuped_arm_col,
    cuped_assemble,
    did_arm_col,
    did_assemble,
    mann_kendall_assemble,
    nbd_assemble,
    perm_per_user_counts,
    permutation_assemble,
    power_mde_assemble,
    runs_report,
    srm_assemble,
    ttfp_assemble,
    ttfp_per_user,
)
from kafka_stream_job_spark.operators.similarity import (
    _IVF_INCR_ORACLE_SQL,
    _SEMDEDUP_ORACLE_SQL,
    DIM,
    SEMDEDUP_MAX_CMP,
    SEMDEDUP_TAU,
    _dot,
    _ivf_incr_assign,
    _ivf_incr_sides,
    _l2sq,
    _norm,
    _semdedup_centroids,
)
from kafka_stream_job_spark.operators.sketches import (
    HLL_M,
    KMV_K,
    KMV_NUM,
    _kmv_hash_sql,
)
from kafka_stream_job_spark.operators.text import (
    _FERTILITY_ORACLE_SQL,
    _LOGREG_INFER_ORACLE_SQL,
    FH_BUCKETS,
    FH_TOP,
    UNI_BLOCK,
    UNI_MAX_TOK,
    _attach_iln,
    _logreg_feats,
    _logreg_fit,
    _uni_best2,
    _uni_spine_df,
)
from kafka_stream_job_spark.registry import REGISTRY, register
from kafka_stream_job_spark.streaming.heavy_hitters import StreamingHeavyHitters
from kafka_stream_job_spark.streaming.hll import StreamingHLL
from kafka_stream_job_spark.streaming.kmv import StreamingKMV
from kafka_stream_job_spark.tables import _session_dir, _staged_dir, load_table


def _file_stream(
    spark: SparkSession,
    directory: str,
    pattern: str | None = None,
    files_per_trigger: int | None = None,
) -> DataFrame:
    """The one parquet file-stream source: the files under ``directory``
    (only those matching ``pattern``, as ``pathGlobFilter``, when given),
    at most ``files_per_trigger`` of them per micro-batch when given.

    File sources need an explicit schema (no inference mid-stream); it is
    taken from a batch read of the same files. An event-time ``ts`` column
    is normalized to TIMESTAMP, the type watermarks demand, whichever way
    the data was generated: timestamp[us] reads as TIMESTAMP_NTZ and is
    cast (the session tz is pinned to UTC, session.py, so the cast is
    deterministic); the round-1 TIMESTAMP(NANOS) layout reads as LONG
    nanos under nanosAsLong and is truncated to µs as in
    tables.load_table.
    """
    batch, stream = spark.read, spark.readStream
    if pattern is not None:
        batch = batch.option("pathGlobFilter", pattern)
        stream = stream.option("pathGlobFilter", pattern)
    if files_per_trigger is not None:
        stream = stream.option("maxFilesPerTrigger", files_per_trigger)
    schema = batch.parquet(directory).schema
    df = stream.schema(schema).parquet(directory)
    ts = schema["ts"].dataType if "ts" in schema.fieldNames() else None
    if isinstance(ts, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source replay of one table as an unbounded stream, read in
    place. A file source lists a directory, and ``pathGlobFilter`` narrows
    the table directory to ``{table}.parquet``, the table's one file
    (TESTDATA.md). So there is no stage: the stream replays the immutable
    table file itself, deterministically, and leaves nothing under /tmp
    that a regenerated table could make stale."""
    return _file_stream(spark, sf_dir, f"{table}.parquet")


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling window counts/sums with late-data handling —
    the streaming twin of the registry's ``events_hourly_rollup``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").cast("string").alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding (1 h window / 30 min slide) event counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").cast("string").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


def session_window_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: sessions close after ``gap`` of
    inactivity. The only dynamic-state operator here — watermark bounds
    state growth (SURVEY.md §7.4)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("sess.start").cast("string").alias("sess_start"),
            F.col("sess.end").cast("string").alias("sess_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    ``dropDuplicatesWithinWatermark`` keeps state bounded (vs the
    unbounded plain ``dropDuplicates``)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_static_enrich(events: DataFrame, users_dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a static dimension
    (broadcast per micro-batch; no state)."""
    return events.join(F.broadcast(users_dim), on="user_id", how="left")


def purchase_attribution_stream(
    touches: DataFrame, purchases: DataFrame, horizon: str = "30 minutes"
) -> DataFrame:
    """Stream-stream inner join: every purchase matched to SAME-USER
    view/click touches in the preceding ``horizon``.

    Both inputs must be streaming DataFrames over the events schema.
    State discipline at scale: both sides are watermarked and the join
    condition time-bounds the match window, so Spark can evict state for
    touches older than (watermark - horizon) — without BOTH the watermark
    and the time bound, stream-stream join state grows forever.
    """
    t = (
        touches.filter(F.col("event_type").isin("view", "click"))
        .select(
            "user_id",
            F.col("ts").alias("touch_ts"),
            F.col("event_id").alias("touch_id"),
        )
        .withWatermark("touch_ts", "1 hour")
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return t.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("touch_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("touch_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select("purchase_id", "user_id", "touch_id", "touch_ts", "purchase_ts")


def unattributed_purchases_stream(
    touches: DataFrame, purchases: DataFrame, horizon: str = "30 minutes"
) -> DataFrame:
    """Stream-stream LEFT OUTER join (purchases side preserved): every
    purchase, attributed to a same-user touch in the preceding ``horizon``
    when one exists, emitted with NULL touch columns otherwise.

    Outer semantics in streaming: an unmatched purchase can only be
    emitted once the TOUCH side's watermark has passed the purchase's
    event time (no future touch can match it anymore — the join condition
    upper-bounds touch_ts by purchase_ts), so null-joined rows trail the
    watermark instead of appearing immediately. Same state-eviction
    discipline as the inner variant: both sides watermarked + the
    condition time-bounds the match window.
    """
    t = (
        touches.filter(F.col("event_type").isin("view", "click"))
        .select(
            F.col("user_id").alias("t_user"),
            F.col("ts").alias("touch_ts"),
            F.col("event_id").alias("touch_id"),
        )
        .withWatermark("touch_ts", "1 hour")
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("touch_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("touch_ts") + F.expr(f"INTERVAL {horizon}")),
        "left_outer",
    ).select("purchase_id", "user_id", "purchase_ts", "touch_id", "touch_ts")


def stateful_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    cumulative event count and value total, maintained in managed group
    state across micro-batches (the escape hatch for stateful logic the
    built-in windowed aggs can't express).

    Each micro-batch, every user with new rows emits one row with the
    updated running totals. State is a fixed-width (long, double) tuple —
    the state store holds one entry per user, so state size is bounded by
    key cardinality, not event volume; at 100 TB you'd pair this with the
    RocksDB state store provider and a timeout policy for retiring idle
    keys (here: NoTimeout, the totals are meant to live forever).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        # State accumulates integer CENTS, not floats: micro-batch
        # boundaries (and therefore summation order) vary run to run, so
        # a float accumulator would drift; integer addition is exact and
        # order-free, which is what makes the drained stream's totals
        # hash-comparable against a batch SQL oracle.
        n, tot_cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            tot_cents += int(pdf["value"].mul(100.0).round().sum())
        state.update((n, tot_cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [tot_cents / 100.0],
            }
        )

    # update reads only value: narrowing here keeps the other event
    # columns (the ts timezone conversion, the props strings) out of the
    # per-key pandas conversion.
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, tot_cents long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def transform_with_state_type_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator on Spark 4's ``transformWithStateInPandas``
    (the successor to applyInPandasWithState): per-user running counts BY
    EVENT TYPE held in a keyed ``MapState``.

    Why this API at scale: typed state primitives (Value/List/Map) live in
    the RocksDB state store per key — a MapState entry per (user, type) —
    so state is incremental and spillable instead of one opaque blob per
    key; timers/TTL (unused here) retire idle keys. Each micro-batch,
    every user with new rows emits one row per touched-or-known type with
    the updated total.

    Runtime requirements: the RocksDB state store provider and the
    ``protobuf`` package (Spark's Python state-server protocol). The
    sandbox lacks protobuf, so the equivalence test skips there;
    applyInPandasWithState (stateful_user_totals_stream) is the
    sandbox-runnable custom-stateful path.
    """
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeCountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "type_counts", "event_type string", "n bigint"
            )

        def handleInputRows(self, key, rows, timer_values):
            for pdf in rows:
                for etype, grp in pdf.groupby("event_type"):
                    prev = (
                        self._counts.getValue((etype,))[0]
                        if self._counts.containsKey((etype,))
                        else 0
                    )
                    self._counts.updateValue((etype,), (prev + len(grp),))
            yield pd.DataFrame(
                [
                    {"user_id": key[0], "event_type": k[0], "n_events": v[0]}
                    for k, v in self._counts.iterator()
                ]
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        TypeCountProcessor(),
        outputStructType="user_id long, event_type string, n_events long",
        outputMode="append",
        timeMode="none",
    )


def foreach_batch_idempotent_append(output_dir: str):
    """``foreachBatch`` sink body: append each micro-batch to a parquet
    table partitioned by ``batch_id``, skipping batch ids already present.

    This is the pattern for exactly-once delivery to sinks without native
    streaming support (JDBC, arbitrary REST, pre-Iceberg object stores):
    Spark replays a failed micro-batch with the SAME batch_id, so
    "skip if the batch_id partition COMMITTED" makes the append
    idempotent — the same contract the reference gets from Iceberg's
    atomic snapshot commit (KafkaAvroToIceberg.scala:92-100), built
    manually. Commit is detected by the ``_SUCCESS`` marker, not mere
    directory existence: Spark creates the directory before data lands,
    so a crash mid-write leaves a partial directory that a replay must
    REWRITE, not skip. The write itself goes to a dot-prefixed staging
    dir (invisible to Spark's file listing) and is atomically renamed
    into place, so readers never observe a half-written partition.

    Returns the function to pass to ``writeStream.foreachBatch``.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        part_dir = os.path.join(output_dir, f"batch_id={batch_id}")
        if os.path.exists(os.path.join(part_dir, "_SUCCESS")):
            return  # replay of a committed batch → no-op
        import shutil

        tmp_dir = os.path.join(output_dir, f".inflight-batch_id={batch_id}")
        for stale in (tmp_dir, part_dir):  # partial write from a crash
            if os.path.exists(stale):
                shutil.rmtree(stale)
        batch_df.write.mode("overwrite").parquet(tmp_dir)
        os.rename(tmp_dir, part_dir)

    return write_batch


DRAIN_SHUFFLE_PARTITIONS = 4


class _drain_partitions:
    """Set ``spark.sql.shuffle.partitions`` to ``DRAIN_SHUFFLE_PARTITIONS``
    while a BOUNDED local drain runs, restoring it afterward. This sets
    the value, so it can raise it as well as lower it: the engine session
    sizes the conf to the core count, and on a 4-core session the old
    value of 8 raised 4 → 8. Shuffle partitions fix the number of
    state-store instances per stateful operator, and every instance pays
    per-micro-batch create/commit overhead — at test-data scale that fixed
    cost dominates. It was ~100 ms per commit, most of it process starts
    (stock Hadoop's forked ``chmod`` per delta/``.crc`` file and
    ``readlink`` per rename); with ``session.get_spark``'s fork-free local
    FileSystem it is ~9 ms (traced stateful_replay, seed 5, 4 instances:
    state commit p50 390 → 35 ms per micro-batch). Evidence for the
    partition count, measured before that change:

    - 32-core host, 32 → 8 partitions: a stream-stream join drain drops
      ~11 s → ~2 s.
    - 4-core ``local[4]`` session, one pass of the three stateful_replay
      benchmark queries (watermarked hourly rollup, session windows,
      applyInPandasWithState totals), interleaved rounds: P=1 4.00 s,
      P=2 3.55 s, P=3 3.52 s, P=4 3.73 s, P=8 5.37 s. P=2/3 are within
      noise of P=4; 4 is one task wave on the 4 slots and keeps the
      Python stateful operator 4-way parallel (at P=2 the totals query
      slowed 2.28 s → 2.70 s).

    Results are partition-count-independent (identical fingerprints at
    every P above). On bigger hosts this still clamps hard. On a real
    cluster the conf stays at its production value: this wrapper is
    only on the bounded drain helpers, not on ``start()`` paths.

    The conf is SESSION-GLOBAL, so concurrent drains (or a drain racing
    any other query on the same SparkSession) would tear each other's
    value. A process-wide lock serializes enters/exits and a depth
    counter makes nesting safe: the original value is captured once at
    depth 0 and restored only when the outermost drain exits. Queries
    outside this wrapper are still exposed to the clamped value while a
    drain runs — acceptable under the one-query-at-a-time driver, and the
    clamp only changes performance, never results."""

    _lock = __import__("threading").RLock()
    _depth = 0
    _saved: str | None = None

    def __init__(self, spark: SparkSession):
        self._spark = spark

    def __enter__(self):
        cls = _drain_partitions
        cls._lock.acquire()
        # If conf access raises (e.g. a py4j hiccup), __exit__ never runs
        # (with-statement semantics) — release before re-raising so the
        # process-wide lock can't be orphaned and deadlock later drains.
        try:
            if cls._depth == 0:
                cls._saved = self._spark.conf.get(
                    "spark.sql.shuffle.partitions"
                )
                self._spark.conf.set(
                    "spark.sql.shuffle.partitions", str(DRAIN_SHUFFLE_PARTITIONS)
                )
            cls._depth += 1
        except BaseException:
            cls._lock.release()
            raise

    def __exit__(self, *exc):
        cls = _drain_partitions
        cls._depth -= 1
        if cls._depth == 0:
            self._spark.conf.set("spark.sql.shuffle.partitions", cls._saved)
        cls._lock.release()
        return False


def _drain(
    spark: SparkSession, writer: DataStreamWriter, checkpoint_dir: str | None = None
) -> None:
    """The one bounded drain: start ``writer``, block until all available
    input is committed (reference Q1 barrier, KafkaAvroToIceberg.scala:104),
    stop. Without ``checkpoint_dir`` Spark checkpoints to its own
    ``temporary-<uuid>`` directory and deletes it on the clean ``stop()``;
    callers pass one only when they read the checkpoint afterwards or
    restart from it."""
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    with _drain_partitions(spark):
        query = writer.start()
        try:
            query.processAllAvailable()
        finally:
            query.stop()  # bounded drain; production uses awaitTermination (Q4)


def run_stream_foreach_batch(
    spark: SparkSession,
    df: DataFrame,
    output_dir: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain a bounded stream through the idempotent foreachBatch sink and
    return the materialized parquet output."""
    writer = df.writeStream.foreachBatch(foreach_batch_idempotent_append(output_dir))
    _drain(spark, writer, checkpoint_dir)
    return spark.read.parquet(output_dir)


def run_stream_to_memory(
    spark: SparkSession,
    df: DataFrame,
    name: str | None = None,
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Drain-all helper: drain ``df`` into a memory sink (a unique table
    name unless ``name`` is given) and return the materialized table.

    ``output_mode="complete"`` is how a caller reads converged keyed
    state: the memory sink truncates on every complete-mode trigger, so
    after the drain the table holds exactly one row per key, the state
    the aggregation ended with, whatever the values did batch to batch.
    Update mode appends each batch's changed rows, so keys repeat with
    stale values. On a BOUNDED source, append-mode windowed aggs never
    emit their final windows (the watermark can't advance past them
    without more data); append stays the default for stateless/dedup
    pipelines.

    The returned frame keeps the sink's rows alive; its temp view is
    dropped, so the session catalog does not hold every drain's rows for
    the life of the session. The sink's plan is not re-instanced, so a
    self-join of the result fails with conflicting references: a caller
    that self-joins it pins it first with a lazy ``localCheckpoint``.
    """
    name = name or f"drain_{uuid.uuid4().hex[:8]}"
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    _drain(spark, writer, checkpoint_dir)
    return _detached_table(spark, name)


def _detached_table(spark: SparkSession, name: str) -> DataFrame:
    """The memory-sink table ``name`` as a frame, with its temp view
    dropped from the session catalog (the frame still reads the rows)."""
    df = spark.table(name)
    spark.catalog.dropTempView(name)
    return df


@contextlib.contextmanager
def _scratch_checkpoint(prefix: str):
    """A checkpoint directory for a drain the caller reads back, removed on
    exit: whatever the caller returns must be collected inside the block."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _collected(df: DataFrame) -> DataFrame:
    """``df``'s rows as a local relation: a metadata-sized result read from
    a checkpoint that is about to be removed."""
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


# ---------------------------------------------------------------------------
# Registry entry: the hourly rollup executed THROUGH Structured Streaming
# (file-source replay → watermarked windowed agg → drained memory sink),
# returned as a batch DataFrame. Its oracle is the SAME SQL as the batch
# twin events_hourly_rollup — so the driver's correctness gate checks
# actual streaming execution (micro-batch planning, state store, window
# emission) against DuckDB, not just the batch plan. Complete output mode
# because a bounded replay's watermark never passes the final windows.
# ---------------------------------------------------------------------------
@register(
    "streaming_hourly_rollup",
    oracle=REGISTRY["events_hourly_rollup"].oracle,
    tags=("streaming", "window-time", "events"),
)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_memory(
        spark,
        hourly_rollup_stream(stream_table(spark, sf_dir, "events")),
        output_mode="complete",
    )


# ---------------------------------------------------------------------------
# Registry entry: WINDOWED TOP-K over a drained streaming aggregate —
# per-hour top-2 event types by count. The streaming half is the
# complete-mode hourly×type rollup (state = one row per (window, type));
# the RANKING half runs as a batch window over the drained emissions,
# because ranking inside a streaming agg would need complete-mode
# re-sorts per batch — the split mirrors production (aggregate in the
# stream, rank in the serving query). The rank window partitions per
# hour (bounded by the type vocabulary); ties break by event_type so the
# result is deterministic and hash-checkable against the batch oracle.
# ---------------------------------------------------------------------------
@register(
    "streaming_topk_types_hourly",
    oracle="""
            WITH hourly AS (
                SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_ts,
                       event_type,
                       CAST(COUNT(*) AS BIGINT) AS n_events
                FROM events
                GROUP BY 1, 2
            ),
            ranked AS (
                SELECT *,
                       ROW_NUMBER() OVER (
                           PARTITION BY hour_ts
                           ORDER BY n_events DESC, event_type ASC
                       ) AS rnk
                FROM hourly
            )
            SELECT hour_ts, event_type, n_events, CAST(rnk AS BIGINT) AS rnk
            FROM ranked WHERE rnk <= 2
        """,
    tags=("streaming", "topk", "window-time", "events"),
)
def streaming_topk_types_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    drained = run_stream_to_memory(
        spark,
        hourly_rollup_stream(stream_table(spark, sf_dir, "events")),
        output_mode="complete",
    )
    w = Window.partitionBy("hour_ts").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        drained.select("hour_ts", "event_type", "n_events")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
    )


# ---------------------------------------------------------------------------
# Registry entry: stateful streaming DEDUP executed through Structured
# Streaming — dropDuplicates over (user_id, event_type) with the dedup
# state store doing the work across micro-batches, drained to a memory
# sink in append mode (each key emits exactly once, on first sight). The
# oracle is batch DISTINCT, so the driver's gate verifies the state-store
# path itself. Only the key columns are emitted: WHICH physical row wins
# a streaming dedup race is order-dependent, the key set is not.
# Scale note: this bounded replay needs exact global dedup (state =
# distinct keys, hash-partitioned across executors by Spark's stateful
# operator). Unbounded production pipelines cap state with
# dropDuplicatesWithinWatermark — semantics then weaken to
# dedup-within-horizon, which is why the exact variant is the registered,
# oracle-checked one.
# ---------------------------------------------------------------------------
@register(
    "streaming_dedup_events",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup", "stateful", "events"),
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = (
        stream_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return run_stream_to_memory(spark, deduped)


# ---------------------------------------------------------------------------
# Registry entry: SESSION WINDOWS executed through Structured Streaming —
# the dynamic-gap stateful operator (session merge state, not fixed
# windows) drained through a bounded replay and checked against the same
# gaps-and-islands DuckDB SQL as the batch twin session_window_rollup.
# Complete output mode for the same reason as streaming_hourly_rollup: a
# bounded replay's watermark never advances past the final sessions, so
# append mode would emit nothing.
# ---------------------------------------------------------------------------
@register(
    "streaming_session_rollup",
    oracle=REGISTRY["session_window_rollup"].oracle,
    tags=("streaming", "window-time", "session", "stateful", "events"),
)
def streaming_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = (
        stream_table(spark, sf_dir, "events")
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "sess_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "sess_end"
            ),
            "n_events",
            "sum_value",
        )
    )
    return run_stream_to_memory(spark, sess, output_mode="complete")


# ---------------------------------------------------------------------------
# Registry entry: the CUSTOM stateful operator (applyInPandasWithState
# running totals — managed group state, Arrow-batched Python) under the
# driver's oracle gate. A user emits one row per micro-batch with new
# data; the running count is strictly monotone per user, so the final
# totals are max(n_events) / max_by(total_value, n_events) over the
# drained emissions. State holds integer cents (see
# stateful_user_totals_stream), so the emitted totals match the batch
# SQL bit-for-bit regardless of micro-batch partitioning.
# ---------------------------------------------------------------------------
@register(
    "streaming_stateful_totals",
    oracle="""
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
                       / 100.0 AS total_value
            FROM events
            GROUP BY user_id
        """,
    tags=("streaming", "stateful", "pandas-udf", "events"),
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    emitted = run_stream_to_memory(
        spark,
        stateful_user_totals_stream(stream_table(spark, sf_dir, "events")),
    )
    return emitted.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Registry entry: MAP-VALUED managed state under the driver's oracle
# gate — the same per-user BY-EVENT-TYPE running counts the
# transformWithStateInPandas demo (transform_with_state_type_counts)
# keeps in a keyed MapState, re-expressed on applyInPandasWithState so
# the semantics earn a correctness row in environments without the
# protobuf state-server runtime. State is the map flattened to parallel
# fixed-type arrays (types array<string>, counts array<long>) — one
# state entry per user whose width is the user's distinct-type count
# (bounded by the type vocabulary, not event volume). Each micro-batch a
# user with new rows emits one row per KNOWN type with the updated
# running count; counts are strictly monotone per (user, type), so the
# drained stream reduces to max() per key — bit-identical to the batch
# GROUP BY regardless of micro-batch partitioning.
# ---------------------------------------------------------------------------
@register(
    "streaming_stateful_type_counts",
    oracle="""
            SELECT user_id, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events
            GROUP BY user_id, event_type
        """,
    tags=("streaming", "stateful", "mapstate", "pandas-udf", "events"),
)
def streaming_stateful_type_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        types, counts = state.get if state.exists else ([], [])
        m = dict(zip(list(types), list(counts)))
        for pdf in pdfs:
            for etype, grp in pdf.groupby("event_type"):
                m[etype] = m.get(etype, 0) + len(grp)
        items = sorted(m.items())
        state.update(([t for t, _ in items], [c for _, c in items]))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(items),
                "event_type": [t for t, _ in items],
                "n_events": [c for _, c in items],
            }
        )

    emitted_stream = (
        stream_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, event_type string, n_events long",
            stateStructType="types array<string>, counts array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = run_stream_to_memory(spark, emitted_stream)
    return emitted.groupBy("user_id", "event_type").agg(
        F.max("n_events").alias("n_events")
    )


# ---------------------------------------------------------------------------
# Registry entry: STREAM-STREAM JOIN under the driver's oracle gate —
# purchases matched to same-user view/click touches within a 30-minute
# horizon, both sides unbounded streams with watermarks + a time-bounded
# join condition (the state-eviction contract). The oracle is the plain
# time-bounded self-join SQL. Inner joins emit on match arrival, so a
# bounded drain produces the complete match set regardless of watermark
# progress. Timestamps are emitted as formatted strings so both engines
# hash the same value type.
# ---------------------------------------------------------------------------
@register(
    "streaming_purchase_attribution",
    oracle="""
            WITH t AS (
                SELECT user_id, ts AS touch_ts, event_id AS touch_id
                FROM events WHERE event_type IN ('view', 'click')
            ),
            p AS (
                SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
                FROM events WHERE event_type = 'purchase'
            )
            SELECT p.purchase_id,
                   p.user_id,
                   t.touch_id,
                   strftime(t.touch_ts, '%Y-%m-%d %H:%M:%S.%f')    AS touch_ts,
                   strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
            FROM p JOIN t
              ON t.user_id = p.user_id
             AND t.touch_ts <= p.purchase_ts
             AND p.purchase_ts <= t.touch_ts + INTERVAL 30 MINUTE
        """,
    tags=("streaming", "join", "stream-stream", "events"),
)
def streaming_purchase_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    joined = purchase_attribution_stream(
        stream_table(spark, sf_dir, "events"),
        stream_table(spark, sf_dir, "events"),
    )
    out = run_stream_to_memory(spark, joined)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "purchase_id",
        "user_id",
        "touch_id",
        F.date_format("touch_ts", fmt).alias("touch_ts"),
        F.date_format("purchase_ts", fmt).alias("purchase_ts"),
    )


# ---------------------------------------------------------------------------
# LATE-DATA DROP, deterministically, through a real watermark. The bounded
# replays above never exercise the drop path (every row arrives "on
# time"), so this query stages the events table into THREE files processed
# as separate micro-batches (maxFilesPerTrigger=1, mtime-ordered):
#
#   batch 0  — every row EXCEPT a chosen late subset; contains the global
#              max event time, so after it commits the watermark advances
#              to max(ts) - 1 hour.
#   batch 1  — one synthetic heartbeat row AT max(ts) (its window ends
#              after the final watermark, so it is never emitted and stays
#              invisible to the output). It exists because Spark's
#              late-record filter uses the PREVIOUS batch's watermark
#              (watermarkForLateEvents lags eviction by one batch —
#              verified empirically: with only two batches the late rows
#              land with watermarkForLateEvents still at epoch and are
#              absorbed). The heartbeat batch burns that propagation lag;
#              eviction also fires here, emitting every closed window.
#   batch 2  — the late subset: rows with ts < max(ts) - 3 hours (and
#              event_id % 8 = 0). All of them sit strictly below the
#              now-propagated watermark, so the stateful agg DROPS every
#              one (no re-emission of already-closed windows either).
#
# Append mode then emits exactly the hourly windows whose end <= final
# watermark, aggregating only batch-0 rows. Both effects — the drop and
# the append-mode emission frontier — are reproduced by the oracle SQL,
# so the driver's gate verifies Spark's actual watermark semantics, not a
# drained approximation. Timestamps are mid-hour (23:5x), hours from any
# window boundary, so ms-truncation of the watermark can't flip a window.
# ---------------------------------------------------------------------------
_LATE_HOURS = 3  # rows older than max(ts) - this are the late subset
_LATE_MOD = 8  # ... restricted to event_id % _LATE_MOD == 0
_WM_DELAY = "1 hour"


def _copy_heartbeat(con, path: str) -> None:
    """Write the heartbeat file: one events row at max(ts) (``con`` has
    the events as view ``ev``). Staged as its own file, it is a micro-batch
    of its own, whose job is to run one more watermark advance and
    eviction pass after the data; its own windows end past the final
    watermark, so append-mode aggregates never emit them."""
    con.execute(
        "COPY (SELECT CAST(-1 AS BIGINT) AS event_id,"
        " (SELECT MAX(ts) FROM ev) AS ts,"
        " CAST(-1 AS BIGINT) AS user_id,"
        " CAST('heartbeat' AS VARCHAR) AS event_type,"
        " CAST(0.0 AS DOUBLE) AS value,"
        " CAST(NULL AS VARCHAR) AS props)"
        f" TO '{path}' (FORMAT PARQUET)"
    )


def _order_batches(stage: str, names: list[str]) -> None:
    """A file source takes new files oldest modification time first: set
    the staged files' mtimes a minute apart, in ``names`` order, so that
    with one file per trigger each file is one micro-batch in that order."""
    import time

    now = time.time()
    for i, name in enumerate(reversed(names)):
        t = now - 60 * i
        os.utime(os.path.join(stage, name), (t, t))


def _stage_late_replay(sf_dir: str) -> str:
    """Split events.parquet into on-time (batch 0) / heartbeat (batch 1) /
    late (batch 2) files under a content-keyed /tmp stage dir."""
    import duckdb

    src = os.path.join(sf_dir, "events.parquet")

    def build(stage: str) -> None:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{src}')")
        pred = (
            f"(ts < (SELECT MAX(ts) FROM ev) - INTERVAL {_LATE_HOURS} HOUR"
            f" AND event_id % {_LATE_MOD} = 0)"
        )
        con.execute(
            f"COPY (SELECT * FROM ev WHERE NOT {pred}) TO '{stage}/batch0.parquet'"
            " (FORMAT PARQUET)"
        )
        # the heartbeat batch advances watermarkForLateEvents past batch
        # 0's data before the late rows arrive (see module comment above)
        _copy_heartbeat(con, f"{stage}/batch1.parquet")
        con.execute(
            f"COPY (SELECT * FROM ev WHERE {pred}) TO '{stage}/batch2.parquet'"
            " (FORMAT PARQUET)"
        )
        con.close()
        _order_batches(
            stage, ["batch0.parquet", "batch1.parquet", "batch2.parquet"]
        )

    return _staged_dir("/tmp/ksj_late_stage", src, "v3", build)


def late_drop_rollup_stream(spark: SparkSession, stage: str) -> DataFrame:
    """Hourly rollup over the staged three-batch replay, one file per
    micro-batch, 1-hour watermark — batch 2's rows are all late."""
    stream = _file_stream(spark, stage, files_per_trigger=1)
    return (
        stream.withWatermark("ts", _WM_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").cast("string").alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "streaming_late_data_drop",
    oracle=f"""
            WITH m AS (SELECT MAX(ts) AS maxts FROM events),
            kept AS (
                SELECT e.* FROM events e, m
                WHERE NOT (e.ts < m.maxts - INTERVAL {_LATE_HOURS} HOUR
                           AND e.event_id % {_LATE_MOD} = 0)
            ),
            agg AS (
                SELECT
                    date_trunc('hour', ts) AS win_start,
                    event_type,
                    COUNT(*)                             AS n_events,
                    ROUND((SUM(value)) * 100.0) / 100.0 + 0.0 AS sum_value
                FROM kept
                GROUP BY 1, 2
            )
            SELECT
                CAST(win_start AS VARCHAR) AS hour_ts,
                event_type, n_events, sum_value
            FROM agg, m
            WHERE win_start + INTERVAL 1 HOUR <= m.maxts - INTERVAL 1 HOUR
        """,
    tags=("streaming", "watermark", "late-data", "events"),
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_late_replay(sf_dir)
    return run_stream_to_memory(
        spark,
        late_drop_rollup_stream(spark, stage),
        output_mode="append",
    )


# ---------------------------------------------------------------------------
# dropDuplicatesWithinWatermark — the STATE-CAPPED dedup production
# pipelines actually run (exact dropDuplicates state grows without bound
# on an unbounded stream; the within-watermark variant retires key state
# once the watermark passes it). On this bounded replay the whole table
# arrives inside one watermark horizon (30-day span < 31-day delay), so
# the within-horizon guarantee degenerates to exact first-occurrence
# dedup and the DISTINCT oracle pins it — while the physical plan runs
# the dedupWithinWatermark state operator, eviction timers and all.
# ---------------------------------------------------------------------------
def dedup_within_watermark_stream(
    events: DataFrame, delay: str = "744 hours"
) -> DataFrame:
    return (
        events.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


@register(
    "streaming_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup", "stateful", "watermark", "events"),
)
def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return run_stream_to_memory(
        spark,
        dedup_within_watermark_stream(stream_table(spark, sf_dir, "events")),
    )


# ---------------------------------------------------------------------------
# LEFT-OUTER stream-stream join with DETERMINISTIC null-side emission.
# The inner attribution query above emits only matches; the outer
# variant's distinctive behavior — emitting an unmatched purchase with
# NULL touch columns once no future touch can possibly match it — only
# fires when the watermark passes the purchase and an eviction pass runs
# afterwards. Staging: batch 0 = the whole events table (watermark
# advances to min(max touch_ts, max purchase_ts) - 1 hour, the MIN of the
# two sides' watermark nodes); batch 1 = one heartbeat row (filtered out
# of both sides — its only job is to trigger the micro-batch whose
# eviction emits the null-joined rows under the now-committed watermark).
#
# Emission predicate (verified empirically, boundary purchases checked on
# both sides of the cut): an unmatched purchase emits iff
# purchase_ts < final watermark. The oracle reproduces exactly that:
# matched pairs (same SQL as the inner query) UNION ALL unmatched
# purchases below the watermark with NULL touch columns.
# ---------------------------------------------------------------------------
def _stage_with_heartbeat(sf_dir: str) -> str:
    """events.parquet as batch 0 + a single heartbeat row as batch 1."""
    import duckdb

    src = os.path.join(sf_dir, "events.parquet")

    def build(stage: str) -> None:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{src}')")
        con.execute(
            f"COPY (SELECT * FROM ev) TO '{stage}/batch0.parquet' (FORMAT PARQUET)"
        )
        _copy_heartbeat(con, f"{stage}/batch1.parquet")
        con.close()
        _order_batches(stage, ["batch0.parquet", "batch1.parquet"])

    return _staged_dir("/tmp/ksj_heartbeat_stage", src, "v2", build)


def _heartbeat_stream(spark: SparkSession, stage: str) -> DataFrame:
    return _file_stream(spark, stage, files_per_trigger=1)


@register(
    "streaming_unattributed_purchases",
    oracle="""
            WITH t AS (
                SELECT user_id, ts AS touch_ts, event_id AS touch_id
                FROM events WHERE event_type IN ('view', 'click')
            ),
            p AS (
                SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
                FROM events WHERE event_type = 'purchase'
            ),
            wm AS (
                -- LEAST() in DuckDB skips NULLs, but an EMPTY side means
                -- Spark's watermark never leaves epoch and nothing outer-
                -- emits: propagate the NULL so the < comparison is false.
                SELECT CASE
                    WHEN (SELECT MAX(touch_ts) FROM t) IS NULL
                      OR (SELECT MAX(purchase_ts) FROM p) IS NULL THEN NULL
                    ELSE LEAST((SELECT MAX(touch_ts) FROM t),
                               (SELECT MAX(purchase_ts) FROM p))
                         - INTERVAL 1 HOUR
                END AS w
            )
            SELECT p.purchase_id,
                   p.user_id,
                   strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
                   t.touch_id,
                   strftime(t.touch_ts, '%Y-%m-%d %H:%M:%S.%f')    AS touch_ts
            FROM p JOIN t
              ON t.user_id = p.user_id
             AND t.touch_ts <= p.purchase_ts
             AND p.purchase_ts <= t.touch_ts + INTERVAL 30 MINUTE
            UNION ALL
            SELECT p.purchase_id,
                   p.user_id,
                   strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
                   CAST(NULL AS BIGINT)  AS touch_id,
                   CAST(NULL AS VARCHAR) AS touch_ts
            FROM p, wm
            WHERE p.purchase_ts < wm.w
              AND NOT EXISTS (
                  SELECT 1 FROM t
                  WHERE t.user_id = p.user_id
                    AND t.touch_ts <= p.purchase_ts
                    AND p.purchase_ts <= t.touch_ts + INTERVAL 30 MINUTE
              )
        """,
    tags=("streaming", "join", "stream-stream", "outer", "watermark", "events"),
)
def streaming_unattributed_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stage = _stage_with_heartbeat(sf_dir)
    joined = unattributed_purchases_stream(
        _heartbeat_stream(spark, stage), _heartbeat_stream(spark, stage)
    )
    out = run_stream_to_memory(spark, joined)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "purchase_id",
        "user_id",
        F.date_format("purchase_ts", fmt).alias("purchase_ts"),
        "touch_id",
        F.date_format("touch_ts", fmt).alias("touch_ts"),
    )


# ---------------------------------------------------------------------------
# CHAINED time-window aggregations — two stateful windowed aggs in ONE
# streaming query (Spark 3.4+ multiple-stateful-operator support): hourly
# counts per event_type, re-aggregated into daily totals + active-hour
# counts via window(window_time(hourly_window), '1 day'). This is the
# shape real metric pipelines take (raw → minutely → hourly → daily in
# one checkpointed query, no intermediate sink). Emission discipline:
# with the heartbeat stage (batch 0 = all data, batch 1 = one row at
# max(ts)), the final watermark is max(ts) − 1 h, the upstream hourly
# windows with end ≤ wm emit during the heartbeat batch, and the daily
# operator both receives and closes day windows with end ≤ wm in that
# same batch — so the drained output is exactly the full days of data,
# which the batch oracle reproduces with the same frontier predicate.
# The heartbeat row's own windows (hour/day containing max(ts)) end past
# the final watermark and are never emitted.
# ---------------------------------------------------------------------------
def chained_daily_rollup_stream(spark: SparkSession, stage: str) -> DataFrame:
    stream = _file_stream(spark, stage, files_per_trigger=1)
    hourly = (
        stream.withWatermark("ts", _WM_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("hwin"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("hwin"), "1 day").alias("dwin"), "event_type"
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.count(F.lit(1)).alias("n_active_hours"),
        )
    )
    return daily.select(
        F.col("dwin.start").cast("date").cast("string").alias("day_ts"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_active_hours").cast("long").alias("n_active_hours"),
    )


@register(
    "streaming_chained_windows",
    oracle="""
            WITH m AS (SELECT MAX(ts) AS maxts FROM events),
            agg AS (
                SELECT date_trunc('day', ts) AS d, event_type,
                       CAST(COUNT(*) AS BIGINT) AS n_events,
                       CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT)
                           AS n_active_hours
                FROM events GROUP BY 1, 2
            )
            SELECT CAST(CAST(d AS DATE) AS VARCHAR) AS day_ts,
                   event_type, n_events, n_active_hours
            FROM agg, m
            WHERE d + INTERVAL 1 DAY <= m.maxts - INTERVAL 1 HOUR
        """,
    tags=("streaming", "chained-windows", "multi-stateful", "events"),
)
def streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_with_heartbeat(sf_dir)
    return run_stream_to_memory(
        spark,
        chained_daily_rollup_stream(spark, stage),
        output_mode="append",
    )


# ---------------------------------------------------------------------------
# SLIDING windows through Structured Streaming: 1-hour window sliding
# every 30 minutes, so every event lands in exactly TWO windows — the
# overlap dimension tumbling windows never exercise. The oracle expands
# each event into its two covering window starts (trunc-to-30min and
# 30 minutes earlier) with UNION ALL, then aggregates; complete output
# mode for the usual bounded-replay reason (the final windows never close).
# ---------------------------------------------------------------------------
@register(
    "streaming_sliding_rollup",
    oracle="""
            WITH slides AS (
                SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS win_start,
                       event_type
                FROM events
                UNION ALL
                SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE,
                       event_type
                FROM events
            )
            SELECT CAST(win_start AS VARCHAR) AS win_start,
                   event_type,
                   COUNT(*) AS n_events
            FROM slides
            GROUP BY 1, 2
        """,
    tags=("streaming", "window-time", "sliding", "events"),
)
def streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_memory(
        spark,
        sliding_window_stream(stream_table(spark, sf_dir, "events")),
        output_mode="complete",
    )


# ---------------------------------------------------------------------------
# STREAM-STATIC join through the oracle gate: the event stream enriched
# against a static dimension (re-read and BROADCAST per micro-batch — no
# state, unlike stream-stream joins), then rolled up per segment so the
# output stays summary-sized. The static side here is a derived user
# dimension (hash segment per distinct user) built from the same batch
# table, so the oracle can reconstruct it exactly in SQL.
# ---------------------------------------------------------------------------
@register(
    "streaming_static_enrich",
    oracle="""
            WITH dim AS (
                SELECT DISTINCT user_id,
                       'seg_' || CAST(user_id % 10 AS VARCHAR) AS segment
                FROM events
            )
            SELECT d.segment,
                   COUNT(*)                                  AS n_events,
                   ROUND((SUM(e.value)) * 100.0) / 100.0 + 0.0 AS sum_value
            FROM events e JOIN dim d ON d.user_id = e.user_id
            GROUP BY 1
        """,
    tags=("streaming", "join", "stream-static", "events"),
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    users_dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn(
            "segment",
            F.concat(F.lit("seg_"), (F.col("user_id") % 10).cast("string")),
        )
    )
    enriched = stream_static_enrich(
        stream_table(spark, sf_dir, "events"), users_dim
    ).filter(F.col("segment").isNotNull())
    # (COUNT(DISTINCT ...) is unsupported on streaming aggregates —
    # the dedup-then-agg composition is the dedicated
    # streaming_dedup_events query's job.)
    rolled = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 2).alias("sum_value"),
    )
    return run_stream_to_memory(spark, rolled, output_mode="complete")


# ---------------------------------------------------------------------------
# The checkpoint OFFSET LOG queried as a table, through the custom Python
# DataSource (sources/offsetlog.py; reference S3 lifted into the engine).
# The query drains the three-batch late-drop replay (fresh checkpoint),
# then reads that checkpoint's offset log back with
# format("ksj_offsetlog"): batch ids 0..2, file-source logOffsets 0..2,
# and the batch metadata watermark — 0 for batch 0, then
# floor(max event-time µs / 1000) - 3 600 000 ms once batch 0 commits
# (Spark's EventTimeStats floor event times to ms; delay = 1 h). The
# oracle derives that SAME number from the events table, so the driver's
# gate checks checkpoint mechanics against data, not against a canned
# constant.
# ---------------------------------------------------------------------------
@register(
    "checkpoint_offsetlog_table",
    oracle="""
            WITH w AS (
                SELECT (epoch_us(MAX(ts)) // 1000) - 3600000 AS wm FROM events
            )
            SELECT CAST(0 AS BIGINT) AS batch_id,
                   CAST(0 AS BIGINT) AS log_offset,
                   CAST(0 AS BIGINT) AS watermark_ms
            FROM w
            UNION ALL
            SELECT CAST(1 AS BIGINT), CAST(1 AS BIGINT), wm FROM w
            UNION ALL
            SELECT CAST(2 AS BIGINT), CAST(2 AS BIGINT), wm FROM w
        """,
    tags=("streaming", "checkpoint", "datasource", "sql-surface"),
)
def checkpoint_offsetlog_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.sources.offsetlog import (
        register_offsetlog_source,
    )

    register_offsetlog_source(spark)
    stage = _stage_late_replay(sf_dir)
    with _scratch_checkpoint("ksj-offsetlog-") as ckpt:
        run_stream_to_memory(
            spark,
            late_drop_rollup_stream(spark, stage),
            checkpoint_dir=ckpt,
        )
        return _collected(
            spark.read.format("ksj_offsetlog")
            .option("path", ckpt)
            .load()
            .select(
                "batch_id",
                F.col("end_offset").alias("log_offset"),
                "watermark_ms",
            )
        )


# ---------------------------------------------------------------------------
# The checkpoint COMMIT LOG queried as a table and AUDITED against the
# offset log — the two-phase offsets→commits pairing the reference's
# batch-transition monitor reasons about, as one outer-join query over
# two custom DataSources (sources/offsetlog.py + sources/commitlog.py).
# Every planned batch of the drained three-batch replay also committed,
# so the audit reports committed=true per batch, the offsets-side
# watermark (0 for batch 0, then max-event-time − 1 h) and the
# commit-side nextBatchWatermarkMs (the frontier the NEXT batch resumes
# with — already advanced for batch 0). The oracle derives both
# frontiers from the events table, so the driver's gate checks the
# commit protocol mechanics against data. Both sides are metadata-sized
# control-plane tables; the join is a broadcast.
# ---------------------------------------------------------------------------
@register(
    "checkpoint_commitlog_audit",
    oracle="""
            WITH w AS (
                SELECT (epoch_us(MAX(ts)) // 1000) - 3600000 AS wm FROM events
            )
            SELECT CAST(0 AS BIGINT) AS batch_id,
                   CAST(0 AS BIGINT) AS planned_wm_ms,
                   TRUE AS committed, 'v1' AS format_version,
                   wm AS next_wm_ms
            FROM w
            UNION ALL
            SELECT CAST(1 AS BIGINT), wm, TRUE, 'v1', wm FROM w
            UNION ALL
            SELECT CAST(2 AS BIGINT), wm, TRUE, 'v1', wm FROM w
        """,
    tags=("streaming", "checkpoint", "datasource", "sql-surface"),
)
def checkpoint_commitlog_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.sources.commitlog import (
        register_commitlog_source,
    )
    from kafka_stream_job_spark.sources.offsetlog import (
        register_offsetlog_source,
    )

    register_offsetlog_source(spark)
    register_commitlog_source(spark)
    stage = _stage_late_replay(sf_dir)
    with _scratch_checkpoint("ksj-commitlog-") as ckpt:
        run_stream_to_memory(
            spark,
            late_drop_rollup_stream(spark, stage),
            checkpoint_dir=ckpt,
        )
        planned = (
            spark.read.format("ksj_offsetlog")
            .option("path", ckpt)
            .load()
            .select("batch_id", F.col("watermark_ms").alias("planned_wm_ms"))
        )
        committed = (
            spark.read.format("ksj_commitlog")
            .option("path", ckpt)
            .load()
            .select(
                "batch_id",
                "format_version",
                F.col("next_watermark_ms").alias("next_wm_ms"),
            )
        )
        return _collected(
            planned.join(F.broadcast(committed), "batch_id", "left").select(
                "batch_id",
                "planned_wm_ms",
                F.col("format_version").isNotNull().alias("committed"),
                "format_version",
                "next_wm_ms",
            )
        )


# ---------------------------------------------------------------------------
# The checkpoint STATE STORE queried as a table — Spark 4's built-in
# ``format("statestore")`` / ``format("state-metadata")`` readers over a
# drained aggregation checkpoint (the state-introspection completion of
# the offset-log query above; reference parity: the checkpoint tooling
# family, CheckpointOffsetReader.scala:12-40, extended from offsets to
# OPERATOR STATE). The query drains a per-type running aggregate
# (update mode, so the store holds the final totals per key), then reads
# the state back and verifies it against batch SQL over the same events —
# proving the state a restarted query would resume from is exactly the
# batch answer. Sums are held as integer cents, so incremental
# accumulation order can never drift from the oracle's one-shot sum.
# Metadata fields are deterministic: one stateStoreSave operator, the
# drain sets DRAIN_SHUFFLE_PARTITIONS (4) shuffle partitions on every
# host, and the single drain commits batch 0.
# ---------------------------------------------------------------------------
@register(
    "checkpoint_statestore_table",
    oracle=f"""
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
                       AS sum_cents,
                   'stateStoreSave' AS operator_name,
                   CAST({DRAIN_SHUFFLE_PARTITIONS} AS BIGINT) AS n_state_partitions,
                   CAST(0 AS BIGINT) AS last_committed_batch
            FROM events
            GROUP BY event_type
        """,
    tags=("streaming", "checkpoint", "statestore", "sql-surface", "events"),
)
def checkpoint_statestore_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = stream_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.round(F.col("value") * 100.0, 0).cast("long")
        ).alias("sum_cents"),
    )
    with _scratch_checkpoint("ksj-statestore-") as ckpt:
        run_stream_to_memory(spark, agg, checkpoint_dir=ckpt, output_mode="update")
        state = (
            spark.read.format("statestore")
            .load(ckpt)
            .select(
                F.col("key.event_type").alias("event_type"),
                F.col("value.count").alias("n_events"),
                F.col("value.sum").alias("sum_cents"),
            )
        )
        meta = (
            spark.read.format("state-metadata")
            .load(ckpt)
            .select(
                F.col("operatorName").alias("operator_name"),
                F.col("numPartitions").cast("long").alias("n_state_partitions"),
                F.col("maxBatchId").cast("long").alias("last_committed_batch"),
            )
        )
        return _collected(state.crossJoin(F.broadcast(meta)))


# ---------------------------------------------------------------------------
# The hourly rollup driven through the CUSTOM streaming connector
# (sources/replay.py — offset-tracked, executor-side partitioned reads;
# the engine's own Kafka-source stand-in). Same oracle as
# events_hourly_rollup, so the driver's gate covers the connector's
# offset planning and partition reads end-to-end. (Multi-micro-batch
# state coverage lives in the maxFilesPerTrigger staged queries; the
# connector reports its full frontier statelessly so a restart can never
# regress the committed offset — see sources/replay.py.)
# ---------------------------------------------------------------------------
@register(
    "streaming_replay_source_rollup",
    oracle=REGISTRY["events_hourly_rollup"].oracle,
    tags=("streaming", "datasource", "connector", "events"),
)
def streaming_replay_source_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from kafka_stream_job_spark.sources.replay import register_replay_source

    register_replay_source(spark)
    path = os.path.join(sf_dir, "events.parquet")
    stream = (
        spark.readStream.format("ksj_replay")
        .option("path", path)
        .option("n_splits", 8)
        .load()
    )
    rolled = hourly_rollup_stream(stream)
    return run_stream_to_memory(spark, rolled, output_mode="complete")


# ---------------------------------------------------------------------------
# The EXACTLY-ONCE SINK itself through the driver's gate: drain the
# three-batch staged replay through foreach_batch_idempotent_append
# (_SUCCESS-gated batch_id partitions, staging-dir + atomic rename),
# read the materialized parquet BACK, and aggregate. A stateless append
# has NO watermark drop — every staged row (including the "late" batch)
# must land in the sink exactly once — so the oracle is the full rollup
# over the events table (minus only the synthetic heartbeat row);
# duplicated, lost, or partially-visible batches all hash-mismatch.
# This is K2/K3 parity (the reference's atomic Iceberg append)
# exercised end-to-end, not just unit-tested.
# ---------------------------------------------------------------------------
@register(
    "streaming_sink_exactly_once_roundtrip",
    oracle="""
            SELECT event_type,
                   COUNT(*)                                    AS n_events,
                   ROUND((SUM(value)) * 100.0) / 100.0 + 0.0   AS sum_value
            FROM events
            GROUP BY 1
        """,
    tags=("streaming", "sink", "exactly-once", "events"),
)
def streaming_sink_exactly_once_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = _file_stream(spark, _stage_late_replay(sf_dir), files_per_trigger=1)
    # the stateless decode→append shape of the reference's bronze
    # stream; the heartbeat row is filtered out like any non-business
    # record would be
    stream = stream.filter(F.col("event_type") != "heartbeat")
    out_dir = _session_dir("ksj-sink-rt-")
    materialized = run_stream_foreach_batch(spark, stream, out_dir)
    return materialized.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# UPDATE output mode through the driver's gate — the third output mode
# (complete: streaming_hourly_rollup; append: streaming_late_data_drop).
# Update emits each window's CUMULATIVE aggregate every micro-batch the
# window receives rows, so the memory sink accumulates one row per
# (window, batch-that-touched-it) — deterministic under the staged
# three-batch replay:
#   batch 0 (on-time rows)   → every touched window with its batch-0
#                              totals;
#   batch 1 (heartbeat row)  → ONE row: the max-ts hour window re-emitted
#                              with its count incremented by the
#                              heartbeat (kept here — this pipeline
#                              aggregates by window only, no event_type);
#   batch 2 (late rows)      → all below the watermark → dropped, no
#                              emission.
# The oracle reproduces exactly that union. Counts only (no value sums):
# a re-emitted window row carries its cumulative count, keeping the
# oracle arithmetic integer-exact.
# ---------------------------------------------------------------------------
@register(
    "streaming_update_mode_rollup",
    oracle=f"""
            WITH m AS (SELECT MAX(ts) AS maxts FROM events),
            kept AS (
                SELECT e.* FROM events e, m
                WHERE NOT (e.ts < m.maxts - INTERVAL {_LATE_HOURS} HOUR
                           AND e.event_id % {_LATE_MOD} = 0)
            ),
            batch0 AS (
                SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_ts,
                       COUNT(*) AS n_events
                FROM kept GROUP BY 1
            )
            SELECT hour_ts, n_events FROM batch0
            UNION ALL
            -- batch 1: the heartbeat lands in max(ts)'s hour window and
            -- re-emits it with the cumulative count + 1
            SELECT CAST(date_trunc('hour', m.maxts) AS VARCHAR) AS hour_ts,
                   b.n_events + 1 AS n_events
            FROM m JOIN batch0 b
              ON b.hour_ts = CAST(date_trunc('hour', m.maxts) AS VARCHAR)
        """,
    tags=("streaming", "update-mode", "watermark", "events"),
)
def streaming_update_mode_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = _file_stream(spark, _stage_late_replay(sf_dir), files_per_trigger=1)
    rolled = (
        stream.withWatermark("ts", _WM_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").cast("string").alias("hour_ts"),
            "n_events",
        )
    )
    return run_stream_to_memory(spark, rolled, output_mode="update")


# ---------------------------------------------------------------------------
# UNION of two streaming SOURCES in one query — the multi-topic shape
# (prod pipelines union several Kafka topics / directories into one
# pipeline; each source keeps its own offsets in the SAME checkpoint).
# The events table is staged into disjoint even/odd event_id halves, two
# independent file sources read them, and the union feeds one watermarked
# hourly rollup. Offsets discipline: the checkpoint's offset log carries
# one entry per source per batch (the offsetlog DataSource surfaces both
# rows). Complete-mode drain, so the oracle is the batch hourly rollup —
# identical to events_hourly_rollup's, proving union-of-streams loses or
# duplicates nothing.
# ---------------------------------------------------------------------------
def _stage_split_halves(sf_dir: str) -> str:
    """events.parquet split into even/ and odd/ event_id halves (two
    source directories under one stage root)."""
    import duckdb

    src = os.path.join(sf_dir, "events.parquet")

    def build(stage: str) -> None:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{src}')")
        os.makedirs(os.path.join(stage, "even"))
        os.makedirs(os.path.join(stage, "odd"))
        con.execute(
            f"COPY (SELECT * FROM ev WHERE event_id % 2 = 0)"
            f" TO '{stage}/even/part.parquet' (FORMAT PARQUET)"
        )
        con.execute(
            f"COPY (SELECT * FROM ev WHERE event_id % 2 = 1)"
            f" TO '{stage}/odd/part.parquet' (FORMAT PARQUET)"
        )
        con.close()

    return _staged_dir("/tmp/ksj_split_stage", src, "v1", build)


def union_sources_rollup_stream(spark: SparkSession, stage: str) -> DataFrame:
    unioned = _file_stream(spark, os.path.join(stage, "even")).unionByName(
        _file_stream(spark, os.path.join(stage, "odd"))
    )
    return (
        unioned.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").cast("string").alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "streaming_union_sources_rollup",
    oracle=REGISTRY["events_hourly_rollup"].oracle,
    tags=("streaming", "multi-source", "union", "events"),
)
def streaming_union_sources_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stage = _stage_split_halves(sf_dir)
    return run_stream_to_memory(
        spark,
        union_sources_rollup_stream(spark, stage),
        output_mode="complete",
    )


# ---------------------------------------------------------------------------
# STREAM-STREAM JOIN → WINDOWED AGG in one query — the other
# multiple-stateful-operator combination (streaming_chained_windows is
# agg→agg): attributed purchases (inner time-bounded join) rolled into an
# hourly count downstream, one checkpoint, no intermediate sink.
#
# Emission frontier — measured, then pinned by the oracle: the join
# operator DELAYS the watermark it propagates downstream by its own
# event-time horizon (a match can surface with purchase_ts up to 30 min
# older than the inputs the watermark was computed from), so the agg's
# closed-window frontier is
#     min(max touch_ts, max purchase_ts) − 1 h (delay) − 30 min (horizon).
# The heartbeat batch burns the one-batch eviction lag as usual (its row
# is filtered from both join sides — the DATA advances the watermark; the
# heartbeat merely triggers the extra micro-batch that runs eviction).
# ---------------------------------------------------------------------------
def attribution_hourly_stream(spark: SparkSession, stage: str) -> DataFrame:
    joined = purchase_attribution_stream(
        _heartbeat_stream(spark, stage), _heartbeat_stream(spark, stage)
    )
    return (
        joined.groupBy(F.window("purchase_ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_attributed"))
        .select(
            F.col("win.start").cast("string").alias("hour_ts"),
            F.col("n_attributed").cast("long").alias("n_attributed"),
        )
    )


@register(
    "streaming_join_then_windowed_agg",
    oracle="""
            WITH t AS (
                SELECT user_id, ts AS touch_ts FROM events
                WHERE event_type IN ('view', 'click')
            ),
            p AS (
                SELECT user_id, ts AS purchase_ts FROM events
                WHERE event_type = 'purchase'
            ),
            m AS (
                SELECT LEAST((SELECT MAX(touch_ts) FROM t),
                             (SELECT MAX(purchase_ts) FROM p)) AS wmbase
            ),
            j AS (
                SELECT p.purchase_ts FROM p JOIN t
                  ON t.user_id = p.user_id
                 AND t.touch_ts <= p.purchase_ts
                 AND p.purchase_ts <= t.touch_ts + INTERVAL 30 MINUTE
            )
            SELECT hour_ts, n_attributed FROM (
                SELECT date_trunc('hour', purchase_ts) AS h,
                       CAST(date_trunc('hour', purchase_ts) AS VARCHAR) AS hour_ts,
                       CAST(COUNT(*) AS BIGINT) AS n_attributed,
                       m.wmbase AS wmbase
                FROM j, m GROUP BY 1, 2, m.wmbase
            )
            WHERE h + INTERVAL 1 HOUR
                  <= wmbase - INTERVAL 1 HOUR - INTERVAL 30 MINUTE
        """,
    tags=("streaming", "multi-stateful", "join", "window-time", "events"),
)
def streaming_join_then_windowed_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stage = _stage_with_heartbeat(sf_dir)
    return run_stream_to_memory(
        spark,
        attribution_hourly_stream(spark, stage),
        output_mode="append",
    )


# ---------------------------------------------------------------------------
# Trigger.AvailableNow as a DRIVER-GATED registry query — the production
# backfill mode (process everything currently available in rate-limited
# micro-batches, then SELF-TERMINATE; the deployable twin of the
# reference's processAllAvailable test barrier, KafkaAvroToIceberg
# Q1/Q4). Differs from the drain helper: termination comes from the
# trigger itself (awaitTermination returns when the backlog is done),
# not from a test-side barrier. Complete-mode hourly rollup, so the
# oracle is the batch twin — proving the self-terminating mode loses
# nothing relative to the always-on drain.
# ---------------------------------------------------------------------------
@register(
    "streaming_available_now_rollup",
    oracle=REGISTRY["events_hourly_rollup"].oracle,
    tags=("streaming", "available-now", "backfill", "events"),
)
def streaming_available_now_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    name = f"stream_avnow_{uuid.uuid4().hex[:8]}"
    rolled = hourly_rollup_stream(stream_table(spark, sf_dir, "events"))
    with _drain_partitions(spark):
        query = (
            rolled.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        # Q4 awaitTermination — the trigger self-terminates after the
        # available backlog commits; no processAllAvailable barrier.
        if not query.awaitTermination(300):
            query.stop()
            raise TimeoutError("availableNow query did not self-terminate")
    return _detached_table(spark, name)


# ---------------------------------------------------------------------------
# Registry entry: STREAMING HLL — the mergeable distinct sketch driven
# through Structured Streaming (streaming/hll.py's foreachBatch merge).
# HLL merge is register-wise max (associative, commutative, idempotent),
# so the state after the drain is BIT-IDENTICAL to the batch sketch no
# matter how the replay split into micro-batches — which is what lets a
# *streaming* query carry an exact DuckDB oracle: the same register/fold
# SQL as hll_distinct_users, minus the exact-count column (a stream
# can't see the whole history; the sketch is the whole point).
# The final estimate is computed by a tiny Spark plan over the ≤HLL_M
# merged registers using the IDENTICAL fold/pround expressions as the
# batch query — one fixed IEEE dag on both engines.
# ---------------------------------------------------------------------------
@register(
    "streaming_hll_distinct_users",
    oracle=f"""
            WITH h AS (
                SELECT ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 7))::BIGINT
                           AS hv
                FROM events
            ),
            regs AS (
                SELECT hv % {HLL_M} AS register,
                       MAX(CASE WHEN hv // {HLL_M} = 0 THEN 21
                                ELSE 21 - LENGTH(bin(hv // {HLL_M})) END) AS m_rank
                FROM h
                GROUP BY hv % {HLL_M}
            ),
            folded AS (
                SELECT COUNT(*) AS n_present,
                       list_reduce(
                           list_prepend(0.0,
                               list(1.0 / (1 << m_rank) ORDER BY register)),
                           (acc, x) -> acc + x) AS present_sum
                FROM regs
            ),
            est AS (
                SELECT n_present,
                       (0.7213 / (1.0 + 1.079 / {HLL_M}.0)) * {HLL_M}.0 * {HLL_M}.0
                           / (present_sum + ({HLL_M} - n_present) * 1.0) AS raw_e
                FROM folded
            )
            SELECT CAST(n_present AS BIGINT) AS n_registers_hit,
                   ROUND((CASE WHEN raw_e <= 2.5 * {HLL_M}.0 AND n_present < {HLL_M}
                               THEN {HLL_M}.0 * ln({HLL_M}.0 / ({HLL_M} - n_present))
                               ELSE raw_e END) * 1000000.0) / 1000000.0
                       AS hll_estimate
            FROM est
        """,
    tags=("streaming", "sketch", "hll", "stateful", "events"),
)
def streaming_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    hll = StreamingHLL(spark, "user_id")
    src = stream_table(spark, sf_dir, "events").select("user_id")
    _drain(spark, src.writeStream.foreachBatch(hll.update))
    assert hll.batches_seen >= 1
    regs = jvm_values_df(
        spark, sorted(hll.registers.items()), "register INT, m_rank INT"
    )
    contribs = regs.select(
        "register", F.expr("1.0D / shiftleft(1, m_rank)").alias("contrib")
    )
    folded = contribs.agg(
        F.count(F.lit(1)).alias("n_present"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("register", "contrib"))),
                lambda s: s["contrib"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("present_sum"),
    )
    m = float(HLL_M)
    raw_e = (
        (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(m)))
        * F.lit(m)
        * F.lit(m)
        / (F.col("present_sum") + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1.0))
    )
    est = F.when(
        (raw_e <= 2.5 * m) & (F.col("n_present") < HLL_M),
        F.lit(m) * F.log(F.lit(m) / (F.lit(HLL_M) - F.col("n_present"))),
    ).otherwise(raw_e)
    return folded.select(
        F.col("n_present").cast("long").alias("n_registers_hit"),
        pround(est, 6).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# Registry entry: STREAMING MISRA-GRIES heavy hitters + exact verify —
# the two-pass frequent-items pipeline driven through Structured
# Streaming. The MG summary (streaming/heavy_hitters.py, capacity 128 <
# the ~150 distinct users, so eviction is actually exercised) guarantees
# every key with true count > N/capacity survives the stream; the exact
# recount then keeps precisely those — so the OUTPUT is deterministic
# (the true heavy-hitter set) even though MG eviction order is not,
# which is what lets a streaming sketch query carry an exact oracle.
# The threshold compare is integer-exact (count·capacity > N).
# Scale: per micro-batch only the batch's distinct-key summary reaches
# the driver (capacity-bounded state); the verify pass is a candidate-
# filtered partial agg over the batch table.
# ---------------------------------------------------------------------------
MG_STREAM_CAPACITY = 128


@register(
    "streaming_heavy_hitter_users",
    oracle=f"""
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
            HAVING COUNT(*) * {MG_STREAM_CAPACITY} > (SELECT COUNT(*) FROM events)
        """,
    tags=("streaming", "sketch", "heavy-hitters", "stateful", "events"),
)
def streaming_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    mg = StreamingHeavyHitters(spark, "user_id", capacity=MG_STREAM_CAPACITY)
    src = stream_table(spark, sf_dir, "events").select("user_id")
    _drain(spark, src.writeStream.foreachBatch(mg.update))
    assert mg.batches_seen >= 1
    candidates = [int(k) for k in mg.candidates()]
    events = load_table(spark, sf_dir, "events")
    total = events.agg(F.count(F.lit(1)).alias("total"))
    return (
        events.filter(F.col("user_id").isin(candidates))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_events") * MG_STREAM_CAPACITY > F.col("total"))
        .select("user_id", "n_events")
    )


# ---------------------------------------------------------------------------
# Registry entry: STREAMING KMV — see streaming/kmv.py. "K smallest of
# the union" is an order statistic (associative, commutative,
# idempotent), so the drained state is bit-identical to the batch sketch
# and the estimate carries the exact batch oracle (minus the exact
# count a stream cannot see). The estimate is computed by a tiny Spark
# plan over the merged values with the SAME expressions as
# kmv_distinct_users — one fixed IEEE dag on both engines.
# ---------------------------------------------------------------------------
@register(
    "streaming_kmv_distinct_users",
    oracle=f"""
            WITH hv AS (
                SELECT DISTINCT {_kmv_hash_sql("user_id")} AS hv FROM events
            ),
            sk AS (SELECT hv FROM hv ORDER BY hv LIMIT {KMV_K}),
            agg AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_sketch,
                       MAX(hv) AS kth_hash
                FROM sk
            )
            SELECT n_sketch, kth_hash,
                   ROUND((CASE WHEN n_sketch < {KMV_K}
                               THEN CAST(n_sketch AS DOUBLE)
                               ELSE {KMV_NUM!r} / CAST(kth_hash AS DOUBLE) END)
                         * 1000000.0) / 1000000.0 + 0.0 AS kmv_estimate
            FROM agg
        """,
    tags=("streaming", "sketch", "kmv", "stateful", "events"),
)
def streaming_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    kmv = StreamingKMV(spark, "user_id")
    src = stream_table(spark, sf_dir, "events").select("user_id")
    _drain(spark, src.writeStream.foreachBatch(kmv.update))
    assert kmv.batches_seen >= 1
    vals = jvm_values_df(spark, [(v,) for v in kmv.values], "hv LONG")
    est = F.when(
        F.col("n_sketch") < KMV_K, F.col("n_sketch").cast("double")
    ).otherwise(F.lit(KMV_NUM) / F.col("kth_hash").cast("double"))
    return vals.agg(
        F.count(F.lit(1)).cast("long").alias("n_sketch"),
        F.max("hv").alias("kth_hash"),
    ).select("n_sketch", "kth_hash", pround(est, 6).alias("kmv_estimate"))


# ---------------------------------------------------------------------------
# Registry entry: STREAMING UPSERT MATERIALIZED VIEW — the Kafka→table
# MERGE INTO pattern (the reference's Iceberg upsert shape) built on
# foreachBatch + versioned state: each micro-batch reduces to its
# per-user latest row (max of the (ts, event_id) struct — total order,
# so batch-internal ties are impossible), merges with the previous
# state VERSION and writes state_v{batch_id}; versioned directories
# make replays idempotent the same way Iceberg snapshot commits do.
# The final state is per-user LAST-WRITER-WINS — independent of how the
# replay split into micro-batches, which is what lets a streaming
# MERGE carry an exact batch oracle.
# Scale: per batch, work is one partial-agg groupBy of the batch plus a
# user-keyed merge with the (user-count-sized) state table; nothing is
# driver-side.
# ---------------------------------------------------------------------------
@register(
    "streaming_upsert_latest_state",
    oracle="""
            SELECT user_id, last_event_id,
                   ROUND((last_value) * 100.0) / 100.0 + 0.0 AS last_value
            FROM (
                SELECT user_id, event_id AS last_event_id, value AS last_value,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC)
                           AS rn
                FROM events
            ) WHERE rn = 1
        """,
    tags=("streaming", "cdc", "upsert", "merge", "events"),
)
def streaming_upsert_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_root = _session_dir("ksj-upsert-state-")
    versions: list[str] = []

    def latest_of(df: DataFrame) -> DataFrame:
        pick = F.max(
            F.struct("ts", "event_id", "value")
        ).alias("p")
        return df.groupBy("user_id").agg(pick).select(
            "user_id",
            F.col("p.ts").alias("ts"),
            F.col("p.event_id").alias("event_id"),
            F.col("p.value").alias("value"),
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_latest = latest_of(batch_df)
        if versions:
            prev = spark.read.parquet(versions[-1])
            merged = latest_of(prev.unionByName(batch_latest))
        else:
            merged = batch_latest
        out = os.path.join(state_root, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        versions.append(out)

    src = stream_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    _drain(spark, src.writeStream.foreachBatch(apply_batch))
    assert versions, "no micro-batch committed"
    return spark.read.parquet(versions[-1]).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        pround(F.col("value"), 2).alias("last_value"),
    )


# ---------------------------------------------------------------------------
# Registry entry: STREAMING EXACT VALUE HISTOGRAM + QUANTILES — the
# streaming twin of sketch_quantile_bins: per event type, an
# applyInPandasWithState operator maintains the exact bounded-bucket
# value histogram (cents div 5000 — the value domain bounds the bucket
# vocabulary, so state is O(buckets) per key forever), and the serving
# query derives p50/p90 bucket markers from the final histogram with a
# per-type cumulative window (partitioned: lint-safe). Exact bounded
# histograms are the streaming-quantile design that needs NO sketch
# error budget when the domain is bucketable — the counterpoint to
# KLL/t-digest, and the third leg of the streaming summary trio next to
# streaming_hll (distinct) and streaming_heavy_hitter (top-k).
# Quantile marker definition (both engines, exact integers):
#   p50 = min bucket with cum*2 >= total;  p90 = min bucket with
#   cum*10 >= total*9.
# ---------------------------------------------------------------------------
@register(
    "streaming_value_quantiles",
    oracle="""
            WITH hist AS (
                SELECT event_type,
                       CAST(ROUND(value * 100.0) AS BIGINT) // 5000 AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2
            ),
            cum AS (
                SELECT event_type, bucket, n,
                       CAST(SUM(n) OVER (PARTITION BY event_type
                                         ORDER BY bucket) AS BIGINT) AS c,
                       CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
                           AS tot
                FROM hist
            )
            SELECT event_type,
                   CAST(MAX(tot) AS BIGINT) AS n_events,
                   CAST(MIN(CASE WHEN c * 2 >= tot THEN bucket END)
                        AS BIGINT) AS p50_bucket,
                   CAST(MIN(CASE WHEN c * 10 >= tot * 9 THEN bucket END)
                        AS BIGINT) AS p90_bucket,
                   CAST(MAX(bucket) AS BIGINT) AS max_bucket
            FROM cum
            GROUP BY event_type
        """,
    tags=("streaming", "stateful", "sketch", "quantile", "events"),
)
def streaming_value_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        buckets, counts = state.get if state.exists else ([], [])
        m = dict(zip(list(buckets), list(counts)))
        for pdf in pdfs:
            # exact integer bucket per event. Cents are derived with
            # HALF-AWAY-FROM-ZERO rounding to match the oracle's
            # ROUND() and the batch twin — pandas .round() is
            # round-half-to-even and would silently diverge on any
            # sub-cent value landing exactly on a half boundary.
            v = pdf["value"].to_numpy(dtype="float64") * 100.0
            cents = np.where(
                v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)
            ).astype("int64")
            b = pd.Series(cents // 5000, index=pdf.index)
            for bucket, grp in b.groupby(b):
                m[int(bucket)] = m.get(int(bucket), 0) + int(len(grp))
        items = sorted(m.items())
        state.update(([b for b, _ in items], [c for _, c in items]))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(items),
                "bucket": [b for b, _ in items],
                "n": [c for _, c in items],
            }
        )

    emitted_stream = (
        stream_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType="event_type string, bucket long, n long",
            stateStructType="buckets array<long>, counts array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = run_stream_to_memory(spark, emitted_stream)
    # final histogram = last emission per (type, bucket) = max n
    hist = emitted.groupBy("event_type", "bucket").agg(
        F.max("n").cast("long").alias("n")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bucket",
        F.sum("n").over(w_cum).cast("long").alias("c"),
        F.sum("n").over(w_all).cast("long").alias("tot"),
    )
    return cum.groupBy("event_type").agg(
        F.max("tot").cast("long").alias("n_events"),
        F.min(
            F.when(F.col("c") * 2 >= F.col("tot"), F.col("bucket"))
        )
        .cast("long")
        .alias("p50_bucket"),
        F.min(
            F.when(F.col("c") * 10 >= F.col("tot") * 9, F.col("bucket"))
        )
        .cast("long")
        .alias("p90_bucket"),
        F.max("bucket").cast("long").alias("max_bucket"),
    )


# ---------------------------------------------------------------------------
# STREAMING INTERVAL-UNION COVERAGE — the stateful-streaming twin of
# events_interval_union_coverage (operators/relational.py): per user,
# merge each event's [ts, ts+5min) interval into the running union and
# emit the user's (n_events, n_islands, covered_us) after every batch;
# the final emission per user (max n_events — the count is monotone)
# must equal the batch/oracle answer. State per user is the MERGED
# island list (starts[], ends[]), so correctness is ORDER-INDEPENDENT —
# a late event splits/fuses islands exactly like an on-time one, no
# single-cursor assumption — and the state size is bounded by the
# user's island count after merging (activity span / window), not by
# its event count. All arithmetic is exact epoch-microsecond integers.
# ---------------------------------------------------------------------------
@register(
    "streaming_interval_union_coverage",
    oracle=_INTERVAL_COVERAGE_SQL,
    tags=("streaming", "stateful", "gaps-and-islands", "intervals"),
)
def streaming_interval_union_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            starts, ends, n_events = state.get
            intervals = list(zip(list(starts), list(ends)))
        else:
            intervals, n_events = [], 0
        for pdf in pdfs:
            # exact epoch micros — same integers as the batch twin's
            # timestampdiff(MICROSECOND, epoch, ts) on the NTZ column
            ts = (
                pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
            )
            n_events += len(ts)
            intervals.extend((t, t + _COVWIN_US) for t in ts)
        intervals.sort()
        merged: list[tuple[int, int]] = []
        for t, e in intervals:
            # t > prev_end opens a new island; t == prev_end fuses —
            # identical to the batch window's strict comparison
            if not merged or t > merged[-1][1]:
                merged.append((t, e))
            elif e > merged[-1][1]:
                merged[-1] = (merged[-1][0], e)
        state.update(
            ([t for t, _ in merged], [e for _, e in merged], n_events)
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n_events],
                "n_islands": [len(merged)],
                "covered_us": [sum(e - t for t, e in merged)],
            }
        )

    emitted_stream = (
        stream_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, n_events long, n_islands long, "
                    "covered_us long"
            ),
            stateStructType=(
                "starts array<long>, ends array<long>, n_events long"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = run_stream_to_memory(spark, emitted_stream)
    # final answer per user = the emission with the highest (monotone)
    # n_events; then the batch twin's deterministic top-25
    final = emitted.groupBy("user_id").agg(
        F.max("n_events").cast("long").alias("n_events"),
        F.expr("max_by(n_islands, n_events)").cast("long").alias("n_islands"),
        F.expr("max_by(covered_us, n_events)").cast("long").alias("covered_us"),
    )
    return final.orderBy(
        F.col("covered_us").desc(), F.col("user_id").asc()
    ).limit(25)


# ---------------------------------------------------------------------------
# STREAMING RATE-LIMITER BACKTEST — the stateful-streaming twin of
# rate_limiter_backtest (operators/relational.py): per user, maintain
# the day→event-count histogram in state (bounded by days-in-range,
# never event count) and after every batch REPLAY the token-bucket
# recurrence over the sorted histogram — so correctness is
# arrival-order-independent (a late event lands in its day bucket and
# the fold recomputes exactly), matching the interval-coverage twin's
# design. The final emission per user (max n_events — monotone) must
# equal the batch/oracle answer.
# ---------------------------------------------------------------------------
@register(
    "streaming_rate_limiter",
    oracle=_RL_ORACLE_SQL,
    tags=("streaming", "stateful", "rate-limit", "sequential-fold"),
)
def streaming_rate_limiter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            days, counts = state.get
            hist = dict(zip(list(days), list(counts)))
        else:
            hist = {}
        for pdf in pdfs:
            # same day integers as the batch twin's datediff from epoch
            d = (
                pdf["ts"]
                .astype("datetime64[us]")
                .astype("int64")
                .floordiv(86_400_000_000)
            )
            for day, grp in d.groupby(d):
                hist[int(day)] = hist.get(int(day), 0) + int(len(grp))
        items = sorted(hist.items())
        state.update(([d for d, _ in items], [n for _, n in items]))
        tokens, throttled = _RL_CAP, 0
        prev = None
        for day, n_day in items:
            if prev is not None:
                tokens = min(_RL_CAP, tokens + (day - prev) * _RL_REFILL)
            served = min(n_day, tokens)
            throttled += n_day - served
            tokens -= served
            prev = day
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [sum(hist.values())],
                "n_days": [len(hist)],
                "n_throttled": [throttled],
            }
        )

    emitted_stream = (
        stream_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, n_events long, n_days long, n_throttled long"
            ),
            stateStructType="days array<long>, counts array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = run_stream_to_memory(spark, emitted_stream)
    final = emitted.groupBy("user_id").agg(
        F.max("n_events").cast("long").alias("n_events"),
        F.expr("max_by(n_days, n_events)").cast("long").alias("n_days"),
        F.expr("max_by(n_throttled, n_events)")
        .cast("long")
        .alias("n_throttled"),
    )
    return final.orderBy(
        F.col("n_throttled").desc(), F.col("user_id").asc()
    ).limit(_RL_TOP_N)


# ---------------------------------------------------------------------------
# STREAMING SEMDEDUP — the stateful-streaming twin of
# semantic_dedup_semdedup (operators/similarity.py): embeddings arrive as
# a stream, each is assigned to its fixed-codebook cluster statelessly,
# and per-cluster state maintains EXACTLY the quantity the batch
# operator's pair join is bounded by — the top-SEMDEDUP_MAX_CMP
# "prototype" list ordered by (cos-to-centroid DESC, vec_id ASC).
#
# State bound (the r5/r6 scale invariant, now held on the streaming
# surface too): per cluster the state is (vec_ids[], coscs[]) capped at
# SEMDEDUP_MAX_CMP entries plus one counter — O(K · MAX_CMP) total,
# NEVER proportional to the stream, and the top-k merge is
# ARRIVAL-ORDER-INDEPENDENT (top-k of a set: any arrival order, any
# batch split, same list). Prototype embeddings are NOT stored: they are
# re-fetched by vec_id at verdict time, as a production store would.
#
# The codebook is collected driver-side once before the stream starts —
# K rows, the O(K·DIM) driver-state precedent of streaming/kmeans.py —
# and the mapInPandas assignment reproduces the batch engine's
# sequential-fold cosine bit-for-bit (float32→float64 casts exact;
# per-dimension multiply-add in the same order; no FMA on either side),
# so prototype ORDER cannot diverge from the batch twin.
#
# After the drain, the final emission per cluster (max of the monotone
# n_members) IS the batch operator's per-cluster prototype list; the
# verdict for every corpus vector is then one stateless broadcast probe
# against it (build side ≤ K·MAX_CMP rows): drop a iff a prototype
# ranked ahead of a has cos(a,b) > τ — the batch semantics verbatim,
# sharing _SEMDEDUP_ORACLE_SQL.
# ---------------------------------------------------------------------------
def semdedup_assign_batches_fn(cent_ids, cent_embs, cent_norms):
    """The streaming SemDeDup centroid-assignment fold, as a factory so
    tests can drive the EXACT production numeric path over static data.

    The per-dimension multiply-add loops below are deliberately scalar-
    for-scalar identical to the JVM sequential fold (`_dot`/`_norm` in
    operators/similarity.py): one fused multiply-add per dimension in
    dimension order, no pairwise summation, no BLAS matmul. That bit-level
    identity is what lets the streaming twin share the batch oracle —
    `tests/test_streaming.py::test_semdedup_numpy_cosc_bitwise_equals_jvm`
    asserts it over the fixture embeddings so any numpy/BLAS numeric-path
    change on a future platform fails loudly instead of silently
    reordering near-tie prototypes at top-k boundaries.
    """

    def assign_batches(it):
        import numpy as np
        import pandas as pd

        C = np.array(cent_embs, dtype=np.float64)
        nc = np.array(cent_norms, dtype=np.float64)
        cid_arr = np.array(cent_ids, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            E = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            n = len(pdf)
            # per-dimension multiply-add in dim order == the JVM
            # sequential fold (_dot/_norm), scalar-for-scalar
            acc = np.zeros((n, C.shape[0]))
            for d in range(E.shape[1]):
                acc = acc + E[:, d : d + 1] * C[:, d]
            ne = np.zeros(n)
            for d in range(E.shape[1]):
                ne = ne + E[:, d] * E[:, d]
            ne = np.sqrt(ne)
            cosc = acc / (ne[:, None] * nc[None, :])
            best = np.argmax(cosc, axis=1)  # ties → lowest cid (sorted)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "cid": cid_arr[best],
                    "cosc": cosc[np.arange(n), best],
                }
            )

    return assign_batches


def semdedup_seq_norm(vs: list[float]) -> float:
    """Sequential-fold L2 norm — same operation order as the JVM
    ``_norm`` aggregate (one multiply-add per dimension, then sqrt)."""
    import math

    acc = 0.0
    for x in vs:
        acc = acc + x * x
    return math.sqrt(acc)


@register(
    "streaming_semdedup",
    oracle=_SEMDEDUP_ORACLE_SQL,
    tags=("streaming", "stateful", "semdedup", "embeddings"),
)
def streaming_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupStateTimeout

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    # fixed codebook, K rows to the driver (streaming/kmeans.py
    # precedent: driver state O(K·DIM), collected once, pre-stream)
    cent_rows = _semdedup_centroids(emb).orderBy("cid").collect()
    cent_ids = [int(r["cid"]) for r in cent_rows]
    cent_embs = [[float(x) for x in r["cemb"]] for r in cent_rows]
    cent_norms = [semdedup_seq_norm(v) for v in cent_embs]
    assign_batches = semdedup_assign_batches_fn(
        cent_ids, cent_embs, cent_norms
    )

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            vids, coscs, n_members = state.get
            items = list(zip(list(coscs), list(vids)))
        else:
            items, n_members = [], 0
        for pdf in pdfs:
            n_members += len(pdf)
            items.extend(zip(pdf["cosc"].tolist(), pdf["vec_id"].tolist()))
        # arrival-order-independent: top-k of the set seen so far
        items.sort(key=lambda t: (-t[0], t[1]))
        items = items[:SEMDEDUP_MAX_CMP]
        state.update(
            (
                [int(v) for _, v in items],
                [float(c) for c, _ in items],
                n_members,
            )
        )
        yield pd.DataFrame(
            {
                "cid": [key[0]],
                "n_members": [n_members],
                "proto_vec_ids": [[int(v) for _, v in items]],
            }
        )

    emitted_stream = (
        stream_table(spark, sf_dir, "embeddings")
        .mapInPandas(assign_batches, "vec_id long, cid long, cosc double")
        .groupBy("cid")
        .applyInPandasWithState(
            update,
            outputStructType="cid long, n_members long, proto_vec_ids array<long>",
            stateStructType=(
                "vids array<long>, coscs array<double>, n_members long"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = run_stream_to_memory(spark, emitted_stream)
    # final state per cluster = emission with max (monotone) n_members
    final = emitted.groupBy("cid").agg(
        F.expr("max_by(proto_vec_ids, n_members)").alias("pv")
    )
    protos = (
        final.select(
            F.col("cid").alias("p_cid"),
            F.posexplode("pv").alias("pos", "p_vec_id"),
        )
        .select("p_cid", (F.col("pos") + 1).cast("long").alias("p_rnc"), "p_vec_id")
        .join(
            emb.select(
                F.col("vec_id").alias("p_vec_id"),
                F.col("embedding").alias("p_emb"),
            ),
            "p_vec_id",
        )
    )
    # stateless probe set: the batch assignment (same broadcast argmax)
    cents = _semdedup_centroids(emb)
    cosc = _dot(F.col("embedding"), F.col("cemb")) / (
        _norm(F.col("embedding")) * _norm(F.col("cemb"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosc").desc(), F.col("cid").asc()
    )
    members = (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "cid", cosc.alias("cosc"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    own = protos.select(
        F.col("p_vec_id").alias("o_vec_id"),
        F.col("p_cid").alias("o_cid"),
        F.col("p_rnc").alias("o_rnc"),
    )
    members_own = members.join(
        F.broadcast(own),
        (F.col("vec_id") == F.col("o_vec_id")) & (F.col("cid") == F.col("o_cid")),
        "left",
    ).select(
        "vec_id",
        "embedding",
        "cid",
        "cosc",
        F.coalesce(F.col("o_rnc"), F.lit(1 << 30).cast("long")).alias("own_rnc"),
    )
    sim = _dot(F.col("embedding"), F.col("p_emb")) / (
        _norm(F.col("embedding")) * _norm(F.col("p_emb"))
    )
    return (
        members_own.join(
            F.broadcast(protos),
            (F.col("cid") == F.col("p_cid"))
            & (F.col("p_rnc") < F.col("own_rnc")),
            "left",
        )
        .groupBy(
            F.col("vec_id"),
            F.col("cid").cast("long").alias("cluster_id"),
            F.col("cosc").alias("cosc"),
        )
        .agg(
            F.sum(
                F.coalesce((sim > SEMDEDUP_TAU).cast("long"), F.lit(0))
            ).alias("n_better_neardups")
        )
        .select(
            "vec_id",
            "cluster_id",
            pround(F.col("cosc"), 4).alias("cos_to_centroid"),
            (F.col("n_better_neardups") == 0).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# STREAMING IVF MAINTENANCE — the stateful-streaming twin of
# ivf_incremental_assign (operators/similarity.py), the shape a live ANN
# index runs: vectors arrive as a stream, each is assigned to its fixed
# IVF cell statelessly (broadcast codebook, exact integer L2² argmin with
# the lowest-cent_id tiebreak), and per-cell state maintains EXACTLY the
# sufficient statistics of the batch maintenance report — member counts
# (base/delta) and per-dimension EXACT INTEGER sums. Sums and counts are
# commutative, so the state is ARRIVAL-ORDER-INDEPENDENT by construction:
# any batch split, any order, same final state. State bound: O(K · DIM)
# integers — never proportional to the stream.
#
# After the drain, the updated centroids derive from the state sums
# (ROUND(sum/n) — the identical double division the batch op's
# ROUND(AVG) performs on the same exact integers), and the stale/drift
# verdicts are one stateless O(Δ·K) broadcast probe against the static
# table — the same post-hoc verdict discipline as streaming_semdedup
# (state keeps statistics, embeddings are re-fetched at verdict time).
# Shares the batch oracle verbatim (_IVF_INCR_ORACLE_SQL).
# ---------------------------------------------------------------------------
#: Loud driver-state bound for the streaming IVF codebook collect —
#: ~16k cells × 64 dims × 8 B ≈ 8 MB of driver state, far above any
#: sanely-designed IVF cell count at which streaming assignment makes
#: sense, far below driver OOM territory.
_STREAM_IVF_MAX_CODEBOOK = 16_384


@register(
    "streaming_ivf_assign",
    oracle=_IVF_INCR_ORACLE_SQL,
    tags=("streaming", "stateful", "ivf", "incremental", "embeddings"),
    bench_ext=True,
)
def streaming_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    base, delta, cents = _ivf_incr_sides(spark, sf_dir)
    # Fixed codebook to the driver, sorted by cent_id so numpy
    # argmin's first-minimum rule IS the lowest-cent_id tiebreak.
    # Driver state is O(K·DIM) where K is the CODEBOOK size — a real
    # IVF deployment fixes K by design (≈√N cells), but this
    # fixture's 1-in-64 sampling rule grows K with the corpus, so
    # the collect is guarded: past the cap it raises loudly instead
    # of silently OOMing the driver (r8 review finding — the
    # batch twin keeps cents distributed until its broadcast).
    # ONE collect serves both the cap check and the codebook (r12:
    # the former count() + collect() pair ran the centroid pipeline
    # twice). The LIMIT cap+1 bounds driver memory BEFORE the guard:
    # an oversized codebook pulls at most cap+1 rows, never all.
    cent_rows = (
        cents.orderBy("cent_id").limit(_STREAM_IVF_MAX_CODEBOOK + 1).collect()
    )
    if len(cent_rows) > _STREAM_IVF_MAX_CODEBOOK:
        raise ValueError(
            f"streaming_ivf_assign codebook exceeds cap "
                f"{_STREAM_IVF_MAX_CODEBOOK}; fix K by design (IVF chooses "
                "~sqrt(N) cells) before streaming at this scale"
        )
    cent_ids = [int(r["cent_id"]) for r in cent_rows]
    cent_embs = [[int(x) for x in r["c_emb"]] for r in cent_rows]

    incr_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit("ivfincr:"), F.col("vec_id").cast("string"))
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("long")
    quantized = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 10000.0, 0),  # KMEANS_SCALE
    )

    def assign_batches(it):
        import numpy as np
        import pandas as pd

        C = np.array(cent_embs, dtype=np.int64)
        cid_arr = np.array(cent_ids, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            E = np.array(
                [np.asarray(v, dtype=np.int64) for v in pdf["emb"]]
            )
            # exact integer L2² per (vector, cell); argmin returns the
            # FIRST minimum → lowest cent_id (C sorted by cent_id)
            d2 = (
                (E[:, None, :] - C[None, :, :]).astype(np.int64) ** 2
            ).sum(axis=2)
            best = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "cell": cid_arr[best],
                    "is_delta": pdf["is_delta"].astype("int64"),
                    "emb": pdf["emb"],
                }
            )

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            n_base, n_delta, sums = state.get
            acc = np.array(sums, dtype=np.int64)
        else:
            n_base, n_delta = 0, 0
            acc = np.zeros(DIM, dtype=np.int64)
        for pdf in pdfs:
            for is_d, emb in zip(pdf["is_delta"], pdf["emb"]):
                acc += np.asarray(emb, dtype=np.int64)
                if int(is_d):
                    n_delta += 1
                else:
                    n_base += 1
        state.update((int(n_base), int(n_delta), [int(x) for x in acc]))
        yield pd.DataFrame(
            {
                "cell": [key[0]],
                "n_base": [n_base],
                "n_delta": [n_delta],
                "n_total": [n_base + n_delta],
                "sums": [[int(x) for x in acc]],
            }
        )

    emitted_stream = (
        stream_table(spark, sf_dir, "embeddings")
        # single-split replay source → one input partition per batch;
        # fan the numpy cell-assignment across cores before the
        # Python stage (same rationale as streaming_lsh_candidate_
        # buckets — guide §2.5, repartition after an unsplittable read)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id",
            quantized.alias("emb"),
            (incr_hash % 4 == 0).cast("int").alias("is_delta"),  # IVF_INCR_MOD
        )
        .mapInPandas(
            assign_batches,
            "cell long, is_delta int, emb array<double>",
        )
        .groupBy("cell")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "cell long, n_base long, n_delta long, n_total long, "
                    "sums array<long>"
            ),
            stateStructType=(
                "n_base long, n_delta long, sums array<long>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = run_stream_to_memory(spark, emitted_stream)
    # final state per cell = emission with max (monotone) n_total
    stats = (
        emitted.groupBy("cell")
        .agg(
            F.expr(
                "max_by(struct(n_base, n_delta, sums), n_total)"
            ).alias("s")
        )
        .select(
            "cell",
            F.col("s.n_base").alias("n_base"),
            F.col("s.n_delta").alias("n_delta"),
            F.col("s.sums").alias("sums"),
        )
        # no localCheckpoint: the source is the drained MEMORY
        # table (a LocalTableScan) — recomputing this tiny agg for
        # its two consumers is cheaper than the eager physical
        # planning a checkpoint call pays (r12 measurement)
    )
    # updated centroid = ROUND(sum / n) per dim — the identical double
    # division the batch op's ROUND(AVG(int)) performs
    n_members = F.col("n_base") + F.col("n_delta")
    upd = stats.select(
        F.col("cell").alias("cent_id"),
        F.transform(
            "sums",
            lambda s: F.round(s.cast("double") / n_members, 0),
        ).alias("c_emb"),
    )  # renew AND drift recompute from the memory table (see above)
    # stateless post-stream verdicts on the static table (the
    # streaming_semdedup re-fetch discipline): old/new delta cells
    a_delta = _ivf_incr_assign(delta, cents).localCheckpoint(eager=False)
    renew = _ivf_incr_assign(a_delta.select("vec_id", "emb"), upd)
    stale = (
        a_delta.select("vec_id", F.col("cent_id").alias("old_cell"))
        .join(
            renew.select("vec_id", F.col("cent_id").alias("new_cell")),
            "vec_id",
        )
        .groupBy(F.col("old_cell").alias("cent_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("sn_delta"),
            F.sum((F.col("new_cell") != F.col("old_cell")).cast("long"))
            .cast("long")
            .alias("n_stale"),
        )
    )
    drift = cents.join(
        upd.select(
            F.col("cent_id").alias("u_cid"), F.col("c_emb").alias("u_emb")
        ),
        F.col("cent_id") == F.col("u_cid"),
    ).select(
        "cent_id",
        _l2sq(F.col("c_emb"), F.col("u_emb")).cast("long").alias("drift_sq"),
    )
    return (
        drift.join(
            stats.select(
                F.col("cell").alias("cent_id"), "n_base", "n_delta"
            ),
            "cent_id",
            "left",
        )
        .join(stale, "cent_id", "left")
        .select(
            F.col("cent_id").alias("cell"),
            F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
            F.coalesce("n_delta", F.lit(0)).cast("long").alias("n_delta"),
            "drift_sq",
            F.coalesce("n_stale", F.lit(0)).cast("long").alias("n_stale"),
            F.when(
                F.coalesce(F.col("n_delta"), F.lit(0)) > 0,
                idiv(
                    F.coalesce("n_stale", F.lit(0)) * 10000,
                    F.col("n_delta"),
                ),
            )
            .otherwise(0)
            .cast("long")
            .alias("stale_bp"),
        )
    )


# ---------------------------------------------------------------------------
# STREAMING TOKENIZER-FERTILITY DRIFT MONITOR — the live twin of
# bpe_fertility_by_lang: documents arrive as a stream, per-language state
# keeps the exact integer sufficient statistics (doc count, token sum,
# word sum, char sum — all commutative, so the state is arrival-order-
# independent by construction; O(|langs|·4) integers total), and every
# micro-batch emits the RUNNING fertility per language. The emission
# series IS the drift signal a production monitor alerts on (diff
# consecutive emissions per lang — a corpus whose incoming fertility
# shifts is changing tokenizer economics mid-ingest); the converged final
# emission equals the batch rollup, so the driver gate shares
# _FERTILITY_ORACLE_SQL verbatim.
# ---------------------------------------------------------------------------
@register(
    "streaming_fertility_drift",
    oracle=_FERTILITY_ORACLE_SQL,
    tags=("streaming", "stateful", "tokenizer", "drift", "documents"),
)
def streaming_fertility_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    n_tokens = (
        F.regexp_count("text", F.lit(r"[A-Za-z]+"))
        + F.regexp_count("text", F.lit(r"[0-9]"))
        + F.regexp_count("text", F.lit(r"[^A-Za-z0-9 ]"))
    ).cast("long")
    n_words = F.regexp_count(F.trim(F.col("text")), F.lit(r"[^ ]+")).cast(
        "long"
    )
    per_doc = stream_table(spark, sf_dir, "documents").select(
        "lang",
        n_tokens.alias("n_tokens"),
        n_words.alias("n_words"),
        F.length("text").cast("long").alias("n_chars"),
    )

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            n_docs, tok, words, chars = state.get
        else:
            n_docs = tok = words = chars = 0
        for pdf in pdfs:
            n_docs += len(pdf)
            tok += int(pdf["n_tokens"].sum())
            words += int(pdf["n_words"].sum())
            chars += int(pdf["n_chars"].sum())
        state.update((n_docs, tok, words, chars))
        yield pd.DataFrame(
            {
                "lang": [key[0]],
                "n_docs": [n_docs],
                "total_tokens": [tok],
                "total_words": [words],
                "total_chars": [chars],
            }
        )

    emitted_stream = per_doc.groupBy("lang").applyInPandasWithState(
        update,
        outputStructType=(
            "lang string, n_docs long, total_tokens long, "
                "total_words long, total_chars long"
        ),
        stateStructType=(
            "n_docs long, total_tokens long, total_words long, "
                "total_chars long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_stream_to_memory(spark, emitted_stream)
    final = (
        emitted.groupBy("lang")
        .agg(
            F.expr(
                "max_by(struct(total_tokens, total_words, total_chars),"
                    " n_docs)"
            ).alias("s"),
            F.max("n_docs").alias("n_docs"),
        )
        .select(
            "lang",
            "n_docs",
            F.col("s.total_tokens").alias("total_tokens"),
            F.col("s.total_words").alias("total_words"),
            F.col("s.total_chars").alias("total_chars"),
        )
    )
    return final.select(
        "lang",
        "n_docs",
        "total_tokens",
        "total_words",
        idiv(F.col("total_tokens") * 10000, F.col("total_words")).alias(
            "fertility_bp"
        ),
        idiv(F.col("total_chars") * 10000, F.col("total_tokens")).alias(
            "chars_per_token_bp"
        ),
    )


# ---------------------------------------------------------------------------
# STREAMING QUALITY MONITOR — the live twin of quality_logreg_inference:
# the trained weights (3 doubles, collected once pre-stream — the O(1)
# driver-state floor of the streaming/kmeans precedent) score every
# arriving document JVM-side, and per-(source, decile) state keeps exact
# counts — commutative, arrival-order-independent, bounded by
# |sources| × 10 cells. The emission series is the production drift
# alert (a source whose decile mass shifts between emissions is changing
# quality mid-ingest); the converged final emission equals the batch
# histogram, sharing _LOGREG_INFER_ORACLE_SQL verbatim.
# ---------------------------------------------------------------------------
@register(
    "streaming_quality_monitor",
    oracle=_LOGREG_INFER_ORACLE_SQL,
    tags=("streaming", "stateful", "quality", "ml-inference", "documents"),
)
def streaming_quality_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    # train once pre-stream on the static table; 3 doubles of driver
    # state re-injected as literals (identical doubles → identical σ)
    wrow = _logreg_fit(spark, _logreg_feats(spark, sf_dir)).collect()[0]
    w0, w1, w2 = float(wrow["w0"]), float(wrow["w1"]), float(wrow["w2"])

    toks = F.split(F.trim("text"), r"\s+")
    f1_u = F.round(
        F.lit(1e6)
        * (
            F.regexp_count("text", F.lit(r"\b(a|the|and|of|to|is)\b"))
            * F.lit(1.0)
            / F.size(toks)
        ),
        0,
    ).cast("long")
    f2_u = F.round(
        F.lit(1e6) * (F.length("text") * F.lit(1.0) / F.size(toks)), 0
    ).cast("long")
    z = (
        F.lit(w0)
        + F.lit(w1) * (f1_u / F.lit(1e6))
        + F.lit(w2) * (f2_u / F.lit(1e6))
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    scored = stream_table(spark, sf_dir, "documents").select(
        "source",
        F.least(F.floor(p * 10.0).cast("long"), F.lit(9).cast("long"))
        .alias("p_decile"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("y"),
    )

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            n_docs, n_en = state.get
        else:
            n_docs = n_en = 0
        for pdf in pdfs:
            n_docs += len(pdf)
            n_en += int(pdf["y"].sum())
        state.update((n_docs, n_en))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "p_decile": [key[1]],
                "n_docs": [n_docs],
                "n_en_gold": [n_en],
            }
        )

    emitted_stream = scored.groupBy("source", "p_decile").applyInPandasWithState(
        update,
        outputStructType=(
            "source string, p_decile long, n_docs long, n_en_gold long"
        ),
        stateStructType="n_docs long, n_en_gold long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_stream_to_memory(spark, emitted_stream)
    return (
        emitted.groupBy("source", "p_decile")
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            F.expr("max_by(n_en_gold, n_docs)").cast("long").alias(
                "n_en_gold"
            ),
        )
    )


# ---------------------------------------------------------------------------
# STREAMING CRAWL-FRONTIER BLOOM — the live twin of dedup_frontier_bloom:
# SEEN documents arrive as a stream and fold their fingerprint bits into
# a single Bloom bit array held as state — DEDUP_BF_M bits packed into
# DEDUP_BF_M/64 int64 words. Bitwise OR is commutative and idempotent,
# so the state is arrival-order-independent AND exactly-once-insensitive
# by construction; its size is a compile-time constant regardless of
# stream volume (the crawl-frontier property: the seen set never
# re-joins, only the bits travel). After the drain, the frontier slice
# probes the final bits statelessly (the post-stream verdict discipline
# of streaming_semdedup/streaming_ivf_assign) with exact ground truth —
# sharing the batch oracle verbatim.
# ---------------------------------------------------------------------------
def frontier_bloom_emissions(docs_stream: DataFrame) -> DataFrame:
    """Stateful core of streaming_frontier_bloom — filter the SEEN slice,
    hash each document's normalized fingerprint to its DEDUP_BF_K bit
    positions, and OR-merge them into a single int64-word Bloom state,
    emitting (words, popcount) per micro-batch. Module-level (not a
    closure) so the kill-and-restart recovery test can rebuild the
    IDENTICAL query against its own staged source and checkpoint."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from kafka_stream_job_spark.operators.dedup import (
        DEDUP_BF_K,
        DEDUP_BF_M,
        _frontier_pos,
        _norm_text,
    )

    n_words = DEDUP_BF_M // 64
    fp_col = F.md5(_norm_text())
    seen_stream = (
        docs_stream.filter(F.col("doc_id") % 5 != 0)  # SEEN slice streams in
        .select(
            F.lit(0).alias("shard"),  # one global filter: single key
            *[_frontier_pos(fp_col, i).alias(f"p{i}") for i in range(DEDUP_BF_K)],
        )
    )

    def update(key, pdfs, state):
        import pandas as pd

        words = list(state.get[0]) if state.exists else [0] * n_words
        for pdf in pdfs:
            for i in range(DEDUP_BF_K):
                for pos in pdf[f"p{i}"]:
                    p = int(pos)
                    words[p // 64] |= 1 << (p % 64)
        # int64 state: keep the sign bit arithmetic exact via wrap
        words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
        state.update(([int(w) for w in words],))
        popcount = sum(bin(w & ((1 << 64) - 1)).count("1") for w in words)
        yield pd.DataFrame(
            {"shard": [key[0]], "words": [words], "n_bits": [popcount]}
        )

    return seen_stream.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType="shard int, words array<long>, n_bits long",
        stateStructType="words array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def frontier_bloom_report(
    spark: SparkSession, sf_dir: str, emitted: DataFrame
) -> DataFrame:
    """Stateless post-stream probe of the STATIC frontier slice against
    the drained Bloom emissions (final bits = max-popcount emission,
    monotone under OR-merge), with exact ground truth per source."""
    from kafka_stream_job_spark.operators._portable import idiv
    from kafka_stream_job_spark.operators.dedup import (
        DEDUP_BF_K,
        _frontier_pos,
        _norm_text,
    )
    from kafka_stream_job_spark.tables import load_table

    bits_row = emitted.agg(F.expr("max_by(words, n_bits)").alias("words"))
    # stateless post-stream probe of the STATIC frontier slice against
    # the final bit array (broadcast: n_words longs), with exact truth
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(_norm_text()).alias("fingerprint"),
        (F.col("doc_id") % 5 == 0).alias("is_frontier"),
    )
    seen = (
        fp.filter(~F.col("is_frontier")).select("fingerprint").distinct()
    )

    # shiftrightunsigned's shift count must live inside one SQL parse
    # (the Python builder only takes a literal), hence F.expr. The bit
    # test is `& 1`, NOT `% 2`: a shift of 0 leaves the sign bit in
    # place, and Spark's % takes the dividend's sign, so a set bit 63
    # would read as -1 % 2 = -1 ≠ 1 and silently miss.
    bloom_seen = F.expr(
        " AND ".join(
            f"((shiftrightunsigned(element_at(words,"
            f" CAST(pos{i} div 64 AS INT) + 1),"
            f" CAST(pos{i} % 64 AS INT)) & 1) = 1)"
            for i in range(DEDUP_BF_K)
        )
    )
    probe = (
        fp.filter(F.col("is_frontier"))
        .crossJoin(F.broadcast(bits_row))
        .join(
            seen.withColumn("truth_seen", F.lit(True)),
            "fingerprint",
            "left",
        )
        .select(
            "source",
            F.coalesce(F.col("truth_seen"), F.lit(False)).alias(
                "truth_seen"
            ),
            F.col("words"),
            *[
                _frontier_pos(F.col("fingerprint"), i).alias(f"pos{i}")
                for i in range(DEDUP_BF_K)
            ],
        )
        .select("source", "truth_seen", bloom_seen.alias("bloom_seen"))
    )
    return probe.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_frontier"),
        F.sum(F.when(F.col("truth_seen"), 1).otherwise(0))
        .cast("long")
        .alias("n_truth_dup"),
        F.sum(F.when(F.col("bloom_seen"), 1).otherwise(0))
        .cast("long")
        .alias("n_bloom_hit"),
        F.sum(
            F.when(F.col("bloom_seen") & ~F.col("truth_seen"), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_false_pos"),
        idiv(
            F.sum(
                F.when(
                    F.col("bloom_seen") & ~F.col("truth_seen"), 1
                ).otherwise(0)
            ).cast("long")
            * 10000,
            F.count(F.lit(1)).cast("long"),
        ).alias("false_pos_bp"),
    )




@register(
    "streaming_frontier_bloom",
    oracle=_FRONTIER_ORACLE_SQL,
    tags=("streaming", "stateful", "bloom", "frontier", "documents"),
)
def streaming_frontier_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    emitted = run_stream_to_memory(
        spark,
        frontier_bloom_emissions(stream_table(spark, sf_dir, "documents")),
    )
    return frontier_bloom_report(spark, sf_dir, emitted)


# ---------------------------------------------------------------------------
# The checkpoint FILE-SOURCE MANIFEST queried as a table — the last of
# the reference's manually-inspected checkpoint artifacts (dev.md:15-21
# `cat sources/0/0`) lifted into the SQL surface, completing the
# offsets/commits/state/sources quartet. Each sources/0/<batch> file is
# "v1" + one JSON line per ingested file {path, timestamp, batchId};
# the query parses them schema-on-read (from_json, the T1 binary→struct
# discipline on text) and reports per batch the file count and the
# deterministic basenames — which the oracle predicts exactly, because
# the three-batch replay stages exactly one batchN.parquet per batch.
# ---------------------------------------------------------------------------
@register(
    "checkpoint_sources_table",
    oracle="""
            SELECT CAST(0 AS BIGINT) AS batch_id, CAST(1 AS BIGINT) AS n_files,
                   'batch0.parquet' AS file_names, CAST(0 AS BIGINT)
                       AS manifest_batch_id
            UNION ALL
            SELECT CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'batch1.parquet',
                   CAST(1 AS BIGINT)
            UNION ALL
            SELECT CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'batch2.parquet',
                   CAST(2 AS BIGINT)
        """,
    tags=("streaming", "checkpoint", "sources", "sql-surface"),
)
def checkpoint_sources_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_late_replay(sf_dir)
    with _scratch_checkpoint("ksj-sources-tbl-") as ckpt:
        run_stream_to_memory(
            spark,
            late_drop_rollup_stream(spark, stage),
            checkpoint_dir=ckpt,
        )
        lines = spark.read.text(os.path.join(ckpt, "sources", "0", "*"))
        entry = F.from_json(
            F.col("value"),
            "path string, timestamp long, batchId long",
        )
        parsed = (
            lines.filter(F.col("value") != "v1")
            .select(
                F.element_at(F.split(F.input_file_name(), "/"), -1)
                .cast("long")
                .alias("batch_id"),
                entry.alias("e"),
            )
            .select(
                "batch_id",
                F.element_at(F.split(F.col("e.path"), "/"), -1).alias("fname"),
                F.col("e.batchId").alias("manifest_batch_id"),
            )
        )
        return _collected(
            parsed.groupBy("batch_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_files"),
                F.array_join(F.array_sort(F.collect_list("fname")), ",").alias(
                    "file_names"
                ),
                F.min("manifest_batch_id").cast("long").alias("manifest_batch_id"),
            )
        )


# ---------------------------------------------------------------------------
# STREAMING OHLC BARS — the live twin of events_ohlc_bars: per
# (event_type, hour) candlesticks maintained in streaming state. Every
# per-bar statistic is a commutative min/max/sum (open and close ride
# lexicographic (ts, event_id, cents) struct extremes — the exact trick
# the batch twin uses), so the state is arrival-order-independent by
# construction and the converged complete-mode emission equals the batch
# rollup: the oracle is SHARED verbatim. State = one row per live bar.
# ---------------------------------------------------------------------------
@register(
    "streaming_ohlc_bars",
    oracle=REGISTRY["events_ohlc_bars"].oracle,
    tags=("streaming", "window-time", "ohlc", "events"),
    bench_ext=True,
)
def streaming_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    keyed = events.withWatermark("ts", "2 hours").select(
        "event_type",
        F.window("ts", "1 hour").alias("w"),
        F.struct(
            F.col("ts").alias("ts"),
            F.col("event_id").alias("eid"),
            cents.alias("c"),
        ).alias("k"),
        cents.alias("cents"),
    )
    bars = keyed.groupBy("event_type", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n_ticks"),
        F.min("k")["c"].alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max("k")["c"].alias("close_cents"),
        F.sum("cents").cast("long").alias("volume_cents"),
    )
    out = bars.select(
        "event_type",
        F.col("w.start").cast("string").alias("bar_hour"),
        "n_ticks",
        "open_cents",
        "high_cents",
        "low_cents",
        "close_cents",
        "volume_cents",
    )
    return run_stream_to_memory(spark, out, output_mode="complete")


# ---------------------------------------------------------------------------
# STREAMING PSI DRIFT MONITOR — the live twin of events_psi_value_drift:
# the ref/cur epoch boundary (exact integer microsecond midpoint of the
# static table's time range) is computed once pre-stream — two int64s of
# driver state, the streaming_quality_monitor precedent — and the stream
# maintains per-(bin, side) counts: commutative, bounded at 10 bins × 2
# sides. The PSI assembly (Laplace +1, totals broadcast, per-bin
# micro-nat terms) runs as a batch query over the converged emission, so
# the oracle is SHARED verbatim with the batch twin.
# ---------------------------------------------------------------------------
def psi_epoch_mid(spark: SparkSession, sf_dir: str) -> int:
    """Exact epoch-microsecond midpoint of the static events table's time
    range — two int64s of driver state (the streaming_quality_monitor
    precedent); the same values the batch twin derives."""
    from kafka_stream_job_spark.tables import load_table

    static = load_table(spark, sf_dir, "events")
    ts_s = F.col("ts").cast("timestamp")
    brow = static.agg(
        F.unix_micros(F.min(ts_s)).alias("lo"),
        F.unix_micros(F.max(ts_s)).alias("hi"),
    ).collect()[0]
    return (int(brow["lo"]) + int(brow["hi"])) // 2


def psi_binned_counts(events_stream: DataFrame, mid: int) -> DataFrame:
    """Stateful core of streaming_psi_drift — per-(bin, side) running
    counts: commutative, bounded at 10 bins × 2 sides. Module-level so
    the kill-and-restart recovery test can rebuild the IDENTICAL
    complete-mode aggregation against its own source and checkpoint."""
    binned = events_stream.select(
        F.least(F.greatest(F.floor(F.col("value") / 10.0), F.lit(0)), F.lit(9))
        .cast("long")
        .alias("bin"),
        F.when(F.unix_micros(F.col("ts")) < F.lit(mid), F.lit("ref"))
        .otherwise(F.lit("cur"))
        .alias("side"),
    )
    return binned.groupBy("bin", "side").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def psi_report(emitted: DataFrame) -> DataFrame:
    """Batch PSI assembly over the converged emission (Laplace +1,
    totals broadcast, per-bin micro-nat terms) — shared verbatim with
    the batch twin's oracle."""
    from kafka_stream_job_spark.operators.pipeline import PSI_UNATS

    c = emitted.groupBy("bin").agg(
        (
            1
            + F.coalesce(
                F.sum(F.when(F.col("side") == "ref", F.col("n"))), F.lit(0)
            )
        )
        .cast("long")
        .alias("c_ref"),
        (
            1
            + F.coalesce(
                F.sum(F.when(F.col("side") == "cur", F.col("n"))), F.lit(0)
            )
        )
        .cast("long")
        .alias("c_cur"),
    )
    t = c.agg(
        F.sum("c_ref").cast("long").alias("t_ref"),
        F.sum("c_cur").cast("long").alias("t_cur"),
    )
    p_ref = F.col("c_ref") * 1.0 / F.col("t_ref")
    p_cur = F.col("c_cur") * 1.0 / F.col("t_cur")
    return c.crossJoin(F.broadcast(t)).select(
        "bin",
        "c_ref",
        "c_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref) * PSI_UNATS, 0)
        .cast("long")
        .alias("psi_unats"),
    )




@register(
    "streaming_psi_drift",
    oracle=REGISTRY["events_psi_value_drift"].oracle,
    tags=("streaming", "stateful", "drift", "psi", "events"),
)
def streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    mid = psi_epoch_mid(spark, sf_dir)
    emitted = run_stream_to_memory(
        spark,
        psi_binned_counts(stream_table(spark, sf_dir, "events"), mid),
        output_mode="complete",
    )
    return psi_report(emitted)


# ---------------------------------------------------------------------------
# STREAMING LSH CANDIDATE BUCKETS — the live near-dup surface of the
# MinHash family: documents arrive as a stream, each row computes its
# banded MinHash signature STATELESSLY (higher-order array_min over the
# fused shingle→md5 hash array — no explode, no pre-aggregate, so the
# only stateful op is the bucket table itself), and per
# (band_idx, band_sig) state keeps (min doc_id, doc count) — both
# commutative, so the bucket table is arrival-order-independent. The
# converged emission filtered to n_docs > 1 IS the candidate-bucket
# report a live dedup pipeline joins new arrivals against. Oracle: the
# batch shingles→sigs→bands pipeline aggregated per bucket.
# ---------------------------------------------------------------------------
@register(
    "streaming_lsh_candidate_buckets",
    oracle=f"""
            WITH shingles AS ({_SHINGLES_SQL}),
            sigs AS ({_SIGS_SQL}),
            bands AS ({_BANDS_SQL})
            SELECT CAST(band_idx AS BIGINT) AS band_idx, band_sig,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(MIN(doc_id) AS BIGINT) AS min_doc
            FROM bands GROUP BY 1, 2
            HAVING COUNT(*) > 1
        """,
    tags=("streaming", "stateful", "dedup", "lsh", "documents"),
    bench_ext=True,
)
def streaming_lsh_candidate_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # The file-replay source delivers each micro-batch as ONE input
    # partition (single parquet split), which serializes the heavy
    # stateless shingle→md5→minhash projection onto one core —
    # r12-measured 4.7 s of a 5.1 s drain in that single task. A
    # round-robin repartition ahead of the projection fans the
    # per-row CPU across the cluster exactly like the batch side's
    # under-split rebalance (guide §2.5 input skew: "one huge
    # unsplittable file — repartition immediately after the read");
    # the extra exchange moves only raw doc rows once.
    docs = (
        stream_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # r13: signatures come whole from the shared Arrow body (same
    # stage the batch minhash_signatures runs — one Python pass per
    # doc instead of 16 interpreted array_min(transform(...)) HOF
    # evaluations per row; stateless, so streaming semantics and the
    # bucket-state exchange are untouched).
    staged = docs.select("doc_id", "text").mapInArrow(
        _minhash_sig_batches,
        "doc_id long, "
        + ", ".join(
            f"h{s} long" for s in range(NUM_BANDS * ROWS_PER_BAND)
        ),
    )
    band_structs = ", ".join(
        "struct(CAST({b} AS BIGINT) AS band_idx, md5(concat_ws('|', {hs})) AS band_sig)".format(
            b=b,
            hs=", ".join(
                f"CAST(h{b * ROWS_PER_BAND + r} AS STRING)"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(NUM_BANDS)
    )
    banded = staged.select(
        "doc_id",
        F.expr(f"explode(array({band_structs}))").alias("bs"),
    ).select("doc_id", "bs.band_idx", "bs.band_sig")

    # Bucket state is (count, min) — both BUILT-IN streaming
    # aggregates, so the state lives in the JVM state store, not in
    # per-group pickled Python GroupState: with ~16 bucket rows per
    # document the bucket-key cardinality is corpus-sized, and an
    # applyInPandasWithState here paid one Python pandas call per
    # bucket per batch (the r9 extended bench measured it at 12 s —
    # 5x this plan). Complete mode: the drained table is the converged
    # state, one row per bucket.
    emitted_stream = banded.groupBy("band_idx", "band_sig").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc"),
    )
    converged = run_stream_to_memory(spark, emitted_stream, output_mode="complete")
    return converged.filter(F.col("n_docs") > 1)


# ---------------------------------------------------------------------------
# STREAMING TXN-LOG TAILER — the live twin of txn_log_time_travel: the
# commit log is consumed as a file STREAM (the production shape — a
# metadata tailer keeping a live table-state view as commits land), with
# per-path state = (rows, removed) — both commutative (one add per path;
# remove is a sticky tombstone), so the reconstruction is arrival-order-
# independent by construction. State is bounded by the FILE COUNT
# (metadata scale, never data scale). The converged emission aggregates
# to the final-version live file set, checked against the generative
# model's closed-form oracle.
# ---------------------------------------------------------------------------
@register(
    "streaming_txn_log_tail",
    oracle=f"""
            WITH v AS (SELECT unnest(range(0, {TXN_VERSIONS})) AS ver),
            adds AS (
                SELECT v.ver, 'f_' || v.ver || '_' || i.i AS path,
                       CAST(100 + (v.ver * 7 + i.i) % 50 AS BIGINT) AS rows_
                FROM v, (SELECT unnest(range(0, 4)) AS i) i
                WHERE i.i < 2 + v.ver % 3
            ),
            removes AS (
                SELECT ver, 'f_' || (ver - 2) || '_0' AS path
                FROM v WHERE ver >= 2
            )
            SELECT CAST((SELECT COUNT(*) FROM adds) AS BIGINT) AS n_paths_seen,
                   CAST((SELECT COUNT(*) FROM removes) AS BIGINT) AS n_removed,
                   CAST((SELECT COUNT(*) FROM adds a
                         WHERE a.path NOT IN (SELECT path FROM removes))
                        AS BIGINT) AS live_files,
                   CAST((SELECT SUM(a.rows_) FROM adds a
                         WHERE a.path NOT IN (SELECT path FROM removes))
                        AS BIGINT) AS live_rows
        """,
    tags=("streaming", "stateful", "lakehouse", "txn-log"),
)
def streaming_txn_log_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    stage = _stage_txn_log(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField(
                "add",
                T.StructType(
                    [
                        T.StructField("path", T.StringType()),
                        T.StructField("rows", T.LongType()),
                    ]
                ),
            ),
            T.StructField(
                "remove",
                T.StructType([T.StructField("path", T.StringType())]),
            ),
        ]
    )
    log = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.json")
        .json(stage)
    )
    actions = log.select(
        F.coalesce(F.col("add.path"), F.col("remove.path")).alias("path"),
        F.coalesce(F.col("add.rows"), F.lit(0)).cast("long").alias("rows_"),
        F.when(F.col("remove").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("removed"),
    )

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            rows_, removed = state.get
        else:
            rows_, removed = 0, 0
        for pdf in pdfs:
            rows_ = max(rows_, int(pdf["rows_"].max()))
            removed = max(removed, int(pdf["removed"].max()))
        state.update((rows_, removed))
        yield pd.DataFrame(
            {"path": [key[0]], "rows_": [rows_], "removed": [removed]}
        )

    emitted_stream = actions.groupBy("path").applyInPandasWithState(
        update,
        outputStructType="path string, rows_ long, removed long",
        stateStructType="rows_ long, removed long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_stream_to_memory(spark, emitted_stream)
    final = emitted.groupBy("path").agg(
        F.max("rows_").cast("long").alias("rows_"),
        F.max("removed").cast("long").alias("removed"),
    )
    live = F.when((F.col("rows_") > 0) & (F.col("removed") == 0), 1).otherwise(0)
    return final.agg(
        F.count(F.lit(1)).cast("long").alias("n_paths_seen"),
        F.sum("removed").cast("long").alias("n_removed"),
        F.sum(live).cast("long").alias("live_files"),
        F.sum(F.when(live == 1, F.col("rows_")).otherwise(0))
        .cast("long")
        .alias("live_rows"),
    )


# ---------------------------------------------------------------------------
# STREAMING FEATURE-HASHING MONITOR — the live twin of
# text_feature_hashing: each arriving document computes its per-bucket
# token counts STATELESSLY in one row (a bounded 64-slot in-array
# group-by, so a document contributes each bucket exactly once), and
# per-(lang, bucket) state keeps (token mass, document reach) — both
# additive over disjoint per-doc contributions, hence arrival-order-
# independent. The top-3-per-language ranking runs batch-side over the
# converged emission (the streaming_topk_types_hourly split), so the
# oracle is SHARED verbatim with the batch twin. State ≤ |langs|·64.
# ---------------------------------------------------------------------------
@register(
    "streaming_feature_hashing_monitor",
    oracle=REGISTRY["text_feature_hashing"].oracle,
    tags=("streaming", "stateful", "features", "hashing", "documents"),
)
def streaming_feature_hashing_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupStateTimeout

    docs = stream_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # Hash every token ONCE (md5 dominates this op; the previous
    # form nested the tokenize+hash inside the per-bucket lambda and
    # recomputed it 64x per document — 17.5 s at sf0.1, 3.5 s after),
    # then fold the pre-hashed int array into the bounded 64-slot
    # per-doc bucket counts.
    hashed = docs.select(
        "lang",
        F.expr(
            "transform(split(lower(trim(regexp_replace(text,"
                " '\\\\s+', ' '))), ' '),"
                " t -> CAST(conv(substring(md5(t), 1, 7), 16, 10) AS BIGINT)"
                f" % {FH_BUCKETS})"
        ).alias("hb"),
    )
    bucket_counts = (
        f"filter(transform(sequence(0, {FH_BUCKETS} - 1),"
            " b -> struct(b AS bucket,"
            " size(filter(hb, x -> x = b)) AS cnt)), s -> s.cnt > 0)"
    )
    per_doc = hashed.select(
        "lang", F.explode(F.expr(bucket_counts)).alias("bc")
    ).select(
        "lang",
        F.col("bc.bucket").cast("long").alias("bucket"),
        F.col("bc.cnt").cast("long").alias("cnt"),
    )
    # (n_tokens, n_docs) are BUILT-IN sums — JVM streaming-agg state
    # (the streaming_lsh_candidate_buckets lesson), complete mode.
    emitted_stream = per_doc.groupBy("lang", "bucket").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    final = run_stream_to_memory(spark, emitted_stream, output_mode="complete")
    win = Window.partitionBy("lang").orderBy(
        F.desc("n_tokens"), F.asc("bucket")
    )
    return (
        final.withColumn("rnk", F.row_number().over(win).cast("long"))
        .filter(F.col("rnk") <= FH_TOP)
        .select("lang", "bucket", "n_tokens", "n_docs", "rnk")
    )


# ---------------------------------------------------------------------------
# STREAMING GZIP-JSONL ROLLUP — the compressed-ingestion path consumed
# THROUGH readStream: the same .jsonl.gz shards the batch twin stages
# are tailed as a file stream (codec decompression is transparent on
# the streaming read too), rolled up per event type in complete mode.
# The non-splittable-gzip cost model is identical: one file = one task,
# parallelism = shard count.
# ---------------------------------------------------------------------------
@register(
    "streaming_gzip_jsonl_rollup",
    oracle="""
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
                       AS sum_cents
            FROM events GROUP BY 1
        """,
    tags=("streaming", "source-format", "gzip", "events"),
)
def streaming_gzip_jsonl_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_gzip_jsonl(spark, sf_dir)
    schema = (
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    )
    rows = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.jsonl.gz")
        .json(stage)
    )
    agg = rows.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )
    return run_stream_to_memory(spark, agg, output_mode="complete")


# ---------------------------------------------------------------------------
# STREAMING TYPE-ENTROPY DRIFT — the live twin of
# events_hourly_type_entropy: per-(hour, type) counts are the state
# (time-domain × type-vocabulary bounded, commutative), and the ILN
# entropy assembly runs batch-side over the converged emission, so the
# oracle is SHARED verbatim. The emission series is the drift alert a
# traffic-composition monitor pages on.
# ---------------------------------------------------------------------------
@register(
    "streaming_type_entropy_drift",
    oracle=REGISTRY["events_hourly_type_entropy"].oracle,
    tags=("streaming", "stateful", "entropy", "drift", "events"),
)
def streaming_type_entropy_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    counted = events.groupBy(
        F.date_trunc("hour", "ts").cast("string").alias("hour_ts"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    # pinned: tot and cw, both branches of c, join (conflicting references)
    c = run_stream_to_memory(
        spark, counted, output_mode="complete"
    ).localCheckpoint(eager=False)
    tot = c.groupBy("hour_ts").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    cw = (
        _attach_iln(spark, c, "c", "iln_c")
        .groupBy("hour_ts")
        .agg(
            F.sum(F.col("c") * F.col("iln_c"))
            .cast("long")
            .alias("sum_c_iln")
        )
    )
    nw = _attach_iln(spark, tot, "n", "iln_n").select(
        "hour_ts",
        "n",
        "n_types",
        (F.col("n") * F.col("iln_n")).alias("n_iln_n"),
    )
    return nw.join(cw, "hour_ts").select(
        "hour_ts",
        F.col("n").alias("n_events"),
        "n_types",
        idiv(
            (F.col("n_iln_n") - F.col("sum_c_iln")) * 2 + F.col("n"),
            F.col("n") * 2,
        ).alias("entropy_unats"),
    )


# ---------------------------------------------------------------------------
# STREAMING SEASONALITY MONITOR — the live twin of
# events_seasonality_strength: per-(type, hour-of-day) state keeps the
# exact integer sufficient statistics (count, cent sum, cent
# sum-of-squares — |types|×24 cells, commutative), and η² assembles
# batch-side from the converged emission with the identical quantize-
# then-sum discipline, so the oracle is SHARED verbatim.
# ---------------------------------------------------------------------------
@register(
    "streaming_seasonality_monitor",
    oracle=REGISTRY["events_seasonality_strength"].oracle,
    tags=("streaming", "stateful", "seasonality", "events"),
)
def streaming_seasonality_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    counted = events.select(
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        cents.alias("cents"),
    ).groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("cents").cast("long").alias("s_g"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss_g"),
    )
    g = run_stream_to_memory(spark, counted, output_mode="complete")
    gq = g.select(
        "event_type",
        "n_g",
        "s_g",
        "ss_g",
        F.round(
            F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g"), 0
        )
        .cast("long")
        .alias("t_g"),
    )
    tot = gq.groupBy("event_type").agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").cast("long").alias("ss"),
        F.sum("t_g").cast("long").alias("sum_t"),
        F.count(F.lit(1)).cast("long").alias("n_hours_of_day"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    eta2 = (nd * F.col("sum_t").cast("double") - sd * sd) / (
        nd * F.col("ss").cast("double") - sd * sd
    )
    return tot.select(
        "event_type",
        "n",
        "n_hours_of_day",
        F.round(eta2 * 1000000.0, 0).cast("long").alias("eta2_micro"),
    )


# ---------------------------------------------------------------------------
# STREAMING MAGIC-SNIFFER INGEST — the live twin of
# multimodal_magic_sniffer: mixed-format blobs arrive as a stream, the
# two Arrow-batched mapInPandas stages (encode fixture → sniff-and-
# decode by magic bytes) run STATELESSLY inside the micro-batch, and
# the per-format rollup is the only stateful op (complete mode, state =
# |formats| rows). This is the production multimodal-lake ingest shape:
# decode work scales with the batch, state does not. Oracle SHARED
# verbatim with the batch twin.
# ---------------------------------------------------------------------------
@register(
    "streaming_magic_sniffer",
    oracle=REGISTRY["multimodal_magic_sniffer"].oracle,
    tags=("streaming", "multimodal", "sniffing", "real-decode", "documents"),
)
def streaming_magic_sniffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        stream_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )

    def encode_batches(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for residue, enc in (
                (0, _bmp_encode_batches),
                (1, _png_encode_batches),
                (2, _gif_encode_batches),
            ):
                sub = pdf[pdf["doc_id"] % 3 == residue]
                if len(sub):
                    outs.extend(enc(iter([sub])))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    def decode_batches(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"fmt": [], "n_pixels": [], "luma_milli": []}
            for payload in pdf["payload"]:
                blob = bytes(payload)
                if blob[:2] == b"BM":
                    got = decode_bmp_real(blob)
                    fmt = "bmp"
                    luma = (
                        got["sum_r"] * 299
                        + got["sum_g"] * 587
                        + got["sum_b"] * 114
                    )
                elif blob[:8] == PNG_SIG:
                    got = decode_png_real(blob)
                    fmt = "png"
                    luma = got["sum_luma"] * 1000
                elif blob[:6] in (b"GIF87a", b"GIF89a"):
                    got = decode_gif_real(blob)
                    fmt = "gif"
                    luma = got["sum_luma"] * 1000
                else:
                    raise ValueError(f"unknown magic {blob[:8]!r}")
                rows["fmt"].append(fmt)
                rows["n_pixels"].append(got["n_pixels"])
                rows["luma_milli"].append(luma)
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode_batches, "doc_id long, payload binary")
    parsed = blobs.mapInPandas(
        decode_batches, "fmt string, n_pixels long, luma_milli long"
    )
    agg = parsed.groupBy("fmt").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_pixels").cast("long").alias("total_pixels"),
        F.sum("luma_milli").cast("long").alias("total_luma_milli"),
    )
    return run_stream_to_memory(spark, agg, output_mode="complete")


# ---------------------------------------------------------------------------
# STREAMING HILL TAIL MONITOR — the live twin of events_hill_tail_index:
# the state is the global top-HILL_K cent values (a BOUNDED order-
# statistic sketch — top-k of a union is associative and commutative,
# so the state is arrival-order-independent by construction; the
# single-key group is the documented K-row-sketch floor shared with the
# HLL/KMV/quantile monitors). The ILN assembly runs batch-side over the
# converged emission, sharing the batch oracle verbatim. A live tail
# monitor is how a marketplace notices whale behavior shifting.
# ---------------------------------------------------------------------------
@register(
    "streaming_hill_tail_monitor",
    oracle=_hill_oracle(),
    tags=("streaming", "stateful", "heavy-tail", "order-stats", "events"),
)
def streaming_hill_tail_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        (top,) = state.get if state.exists else ([],)
        top = list(top)
        for pdf in pdfs:
            v = pdf["value"].to_numpy(dtype="float64") * 100.0
            cents = np.where(
                v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)
            ).astype("int64")
            top.extend(int(c) for c in cents)
            top.sort(reverse=True)
            del top[HILL_K:]
        state.update((top,))
        yield pd.DataFrame({"k": [len(top)], "top": [top]})

    emitted_stream = (
        stream_table(spark, sf_dir, "events")
        .select(F.lit(0).alias("g"), "value")
        .groupBy("g")
        .applyInPandasWithState(
            update,
            outputStructType="k long, top array<long>",
            stateStructType="top array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emitted = run_stream_to_memory(spark, emitted_stream)
    final = (
        emitted.agg(F.expr("max_by(top, k)").alias("top"))
        .select(F.explode("top").alias("cents"))
    )
    w = _attach_iln(spark, final, "cents", "iln_c")
    return w.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.min("cents").cast("long").alias("x_k_cents"),
        F.sum("iln_c").cast("long").alias("_s"),
        F.min("iln_c").cast("long").alias("_m"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    ).select(
        "k",
        "x_k_cents",
        idiv(
            (F.col("_s") - F.col("_n") * F.col("_m")) * 2 + F.col("_n"),
            F.col("_n") * 2,
        ).alias("hill_unats"),
    )


# ---------------------------------------------------------------------------
# STREAMING BOUNCE RATE — the built-in session_window doing the bounce
# analysis live: per (user, session) the event count and lexicographic-
# first entry type accumulate in streaming state (complete mode — a
# bounded replay's watermark never passes the final sessions), and the
# per-entry-type rollup runs batch-side over the drained sessions. The
# oracle mirrors session_window's EXACT boundary semantics (a new event
# at exactly gap microseconds after the last one starts a NEW session —
# ">= gap", unlike the batch twin's "> gap" islands), so the gate pins
# the built-in operator's real behavior, not an approximation of it.
# ---------------------------------------------------------------------------
@register(
    "streaming_bounce_rate",
    oracle="""
            WITH s AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                >= 1800000000
                            THEN 1 ELSE 0 END AS boundary
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sid AS (
                SELECT user_id, ts, event_id, event_type,
                       SUM(boundary) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS session_id
                FROM s
            ),
            sess AS (
                SELECT user_id, session_id,
                       CAST(COUNT(*) AS BIGINT) AS n_events,
                       (MIN(struct_pack(ts := ts, eid := event_id,
                                        t := event_type))).t AS entry_type
                FROM sid GROUP BY 1, 2
            )
            SELECT entry_type,
                   CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_bounces,
                   CAST((2 * CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                                  AS BIGINT) * 10000 + COUNT(*))
                        // (2 * COUNT(*)) AS BIGINT) AS bounce_bp
            FROM sess GROUP BY 1
        """,
    tags=("streaming", "session-window", "bounce", "events"),
)
def streaming_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    sessions = (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(
                F.struct(
                    F.col("ts").alias("ts"),
                    F.col("event_id").alias("eid"),
                    F.col("event_type").alias("t"),
                )
            )["t"].alias("entry_type"),
        )
    )
    sess = run_stream_to_memory(spark, sessions, output_mode="complete")
    return (
        sess.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
        )
        .select(
            "entry_type",
            "n_sessions",
            "n_bounces",
            idiv(
                F.col("n_bounces") * 2 * 10000 + F.col("n_sessions"),
                F.col("n_sessions") * 2,
            ).alias("bounce_bp"),
        )
    )


# ---------------------------------------------------------------------------
# STREAMING SELF-EXCITATION MONITOR — the live twin of
# events_self_excitation_ratio: per-user state is exactly (last_ts_us,
# last_event_id) — two int64s per active user — and each micro-batch
# folds its rows in event-time order against that state, emitting
# per-type (n_events, n_triggered) DELTAS. The ratio assembly runs as a
# batch query over the summed deltas, so the oracle is SHARED verbatim
# with the batch twin. Ordering contract: micro-batch boundaries respect
# event time per user (true for the file replay here and for a Kafka
# source partitioned by user key with in-order per-partition delivery —
# the reference's own ingestion guarantee); within a batch, ALL of the
# group's Arrow chunks are materialized and sorted ONCE by
# (ts_us, event_id) before folding — a big user's micro-batch rows can
# span multiple Arrow chunks (arrow.maxRecordsPerBatch, default 10k)
# whose inter-chunk order after the shuffle is arbitrary, so a per-chunk
# sort would fold out of event-time order at scale. Memory stays bounded
# by per-user-per-batch volume (4 small columns), not corpus size.
# ---------------------------------------------------------------------------
@register(
    "streaming_self_excitation",
    oracle=REGISTRY["events_self_excitation_ratio"].oracle,
    tags=("streaming", "stateful", "point-process", "burst", "events"),
)
def streaming_self_excitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    per_user = stream_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    horizon_us = SELF_EXCITE_SEC * 1_000_000

    def update(key, pdfs, state):
        import pandas as pd

        last_ts, last_eid = state.get if state.exists else (None, None)
        types: list[str] = []
        trig: list[int] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                chunks[0]
                if len(chunks) == 1
                else pd.concat(chunks, ignore_index=True)
            )
            batch = batch.sort_values(["ts_us", "event_id"])
            for ts_us, eid, etype in zip(
                batch["ts_us"], batch["event_id"], batch["event_type"]
            ):
                ts_us, eid = int(ts_us), int(eid)
                triggered = int(
                    last_ts is not None and ts_us - last_ts <= horizon_us
                )
                types.append(etype)
                trig.append(triggered)
                last_ts, last_eid = ts_us, eid
        if last_ts is not None:
            state.update((int(last_ts), int(last_eid)))
        yield pd.DataFrame(
            {"event_type": types, "n": [1] * len(types), "triggered": trig}
        )

    deltas = per_user.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="event_type string, n long, triggered long",
        stateStructType="last_ts_us long, last_event_id long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_stream_to_memory(spark, deltas)
    agg = emitted.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum("triggered").cast("long").alias("n_triggered"),
    )
    return agg.select(
        "event_type",
        "n_events",
        "n_triggered",
        idiv(
            F.col("n_triggered") * 2 * 10000 + F.col("n_events"),
            F.col("n_events") * 2,
        ).alias("triggered_bp"),
    )


# ---------------------------------------------------------------------------
# STREAMING NAME×BRAND MI DRIFT MONITOR — the live twin of
# part_name_brand_mi: parts arrive as a stream, the only stateful piece
# is the (token, p_brand) count — a BUILT-IN streaming aggregation, so
# state lives in the JVM state store (the streaming_lsh_candidate_buckets
# lesson) — and the integer-log PMI/MI assembly runs post-stream over the
# converged counts via the SHARED name_brand_mi_assemble, oracle verbatim
# from the batch profiler. The emission series is the drift signal: a
# vocabulary whose token-brand association shifts mid-ingest flags a
# catalog pipeline regression before it lands in training data.
# ---------------------------------------------------------------------------
@register(
    "streaming_brand_mi_drift",
    oracle=REGISTRY["part_name_brand_mi"].oracle,
    tags=("streaming", "stateful", "drift", "mutual-information", "part"),
)
def streaming_brand_mi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators.relational import (
        name_brand_mi_assemble,
    )

    parts = stream_table(spark, sf_dir, "part")
    counted = (
        parts.select(
            F.explode(F.split("p_name", " ")).alias("token"), "p_brand"
        )
        .groupBy("token", "p_brand")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # pinned: the MI assembly self-joins c_tb (conflicting references)
    c_tb = run_stream_to_memory(
        spark, counted, output_mode="complete"
    ).localCheckpoint(eager=False)
    return name_brand_mi_assemble(spark, c_tb)


# ---------------------------------------------------------------------------
# STREAMING POISSON-BOOTSTRAP CI MONITOR — the live twin of
# orders_mean_value_bootstrap_ci: every replica's (Σw, Σw·x) pair is a
# pair of COMMUTATIVE int64 sums, so the whole bootstrap state is
# 2·B + 2 = 66 integers TOTAL regardless of corpus size — the running
# confidence interval a production metrics pipeline keeps alive as
# orders stream in. Built-in global streaming aggregation (JVM state,
# complete mode emits the converged row); the CI assembly and the
# frozen-threshold weight draw are shared verbatim with the batch op,
# as is the oracle.
# ---------------------------------------------------------------------------
@register(
    "streaming_bootstrap_ci",
    oracle=REGISTRY["orders_mean_value_bootstrap_ci"].oracle,
    tags=("streaming", "stateful", "bootstrap", "statistics", "orders"),
)
def streaming_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = stream_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    r = orders.select(
        cents.alias("cents"),
        *[
            boot_weight_col(b, F.col("o_orderkey")).alias(f"w_{b}")
            for b in range(BOOT_B)
        ],
    )
    agg = r.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        *[
            x
            for b in range(BOOT_B)
            for x in (
                F.sum(F.col(f"w_{b}")).cast("long").alias(f"sw_{b}"),
                F.sum(F.col(f"w_{b}") * F.col("cents"))
                .cast("long")
                .alias(f"swx_{b}"),
            )
        ],
    )
    # complete mode: the memory sink keeps only the last trigger's
    # result, so the drained table is the one converged row
    emitted = run_stream_to_memory(spark, agg, output_mode="complete")
    return boot_ci_assemble(emitted)


# ---------------------------------------------------------------------------
# STREAMING RATER-DRIFT MONITOR — the live twin of the annotation-QC
# pair quality_rater_agreement_kappa + rater_mcnemar_test, composed into
# ONE report: per-micro-batch the stream folds each document's two
# binary rater verdicts into the 2x2 confusion table — five int64 sums
# in BUILT-IN JVM agg state (constant size, commutative) — and the
# kappa + clamped-McNemar assembly runs post-stream over the converged
# counts via the SHARED rater_drift_assemble. A live kappa collapse or
# McNemar skew flags rater-calibration drift mid-ingest, before a
# poisoned label batch reaches training.
# ---------------------------------------------------------------------------
@register(
    "streaming_rater_drift_monitor",
    oracle=RATER_DRIFT_ORACLE,
    tags=("streaming", "stateful", "agreement", "annotation",
          "documents"),
)
def streaming_rater_drift_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = stream_table(spark, sf_dir, "documents")
    a, b = rater_ab_cols()
    r = docs.select(a.alias("a"), b.alias("b"))
    agg = r.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b")))
        .cast("long")
        .alias("n00"),
    )
    # complete mode: the memory sink keeps only the last trigger's
    # result, so the drained table is the one converged row
    emitted = run_stream_to_memory(spark, agg, output_mode="complete")
    return rater_drift_assemble(emitted)


# ---------------------------------------------------------------------------
# STREAMING NEYMAN ALLOCATION — the live twin of neyman_allocation_plan:
# per-lang doc counts and length moments (three int64s per stratum)
# accumulate in BUILT-IN JVM agg state; the variance-key + half-up
# budget split runs post-stream over the converged moments via the
# SHARED neyman_assemble, oracle verbatim from the batch planner. The
# emission series is the planning signal: an eval-budget allocation that
# keeps shifting mid-ingest means stratum variances have not converged
# and labeling should wait.
# ---------------------------------------------------------------------------
@register(
    "streaming_neyman_allocation",
    oracle=REGISTRY["neyman_allocation_plan"].oracle,
    tags=("streaming", "stateful", "sampling", "stratified",
          "documents"),
)
def streaming_neyman_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = stream_table(spark, sf_dir, "documents")
    ln = F.length("text").cast("long")
    m = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(ln).cast("long").alias("sum_len"),
        F.sum(ln * ln).cast("long").alias("sum_len_sq"),
    )
    return neyman_assemble(
        run_stream_to_memory(spark, m, output_mode="complete")
    )


# ---------------------------------------------------------------------------
# STREAMING EFFECTIVE-SAMPLE-SIZE MONITOR — the live twin of
# corpus_weights_ess: the only stateful piece is the (fingerprint,
# source) duplicate-count — BUILT-IN JVM streaming aggregation keyed by
# content fingerprint, the same state shape as streaming dedup — and the
# Kish ESS assembly runs post-stream: per-fingerprint totals give each
# duplicate its 1/c down-weight, every doc in a (fingerprint, source)
# group shares that weight, so the per-source weight moments are exact
# integer products of the converged counts. Oracle verbatim from the
# batch profiler; a falling live ESS ratio means the stream is
# re-ingesting duplicated content and the effective corpus has stopped
# growing.
# ---------------------------------------------------------------------------
@register(
    "streaming_ess_monitor",
    oracle=REGISTRY["corpus_weights_ess"].oracle,
    tags=("streaming", "stateful", "dedup", "weights", "documents"),
)
def streaming_ess_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = stream_table(spark, sf_dir, "documents")
    fp = docs.select(
        "source",
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        ).alias("fingerprint"),
    )
    counted = fp.groupBy("fingerprint", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c_fs")
    )
    # pinned: c_fs joins its own per-fingerprint sizes (conflicting refs)
    c_fs = run_stream_to_memory(
        spark, counted, output_mode="complete"
    ).localCheckpoint(eager=False)
    sizes = c_fs.groupBy("fingerprint").agg(
        F.sum("c_fs").cast("long").alias("c")
    )
    w = c_fs.join(sizes, "fingerprint").select(
        "source",
        "c_fs",
        idiv(F.lit(1_000_000), F.col("c")).alias("w_ppm"),
    )
    g = w.groupBy("source").agg(
        F.sum("c_fs").cast("long").alias("n_docs"),
        F.sum(F.col("c_fs") * F.col("w_ppm"))
        .cast("long")
        .alias("sum_w_ppm"),
        F.sum(F.col("c_fs") * F.col("w_ppm") * F.col("w_ppm"))
        .cast("long")
        .alias("sum_w2"),
    )
    return ess_assemble(g)


# ---------------------------------------------------------------------------
# STREAMING UNIGRAM-TOKENIZER FERTILITY — the live twin of
# tokenizer_unigram_fertility, and the clearest showcase of the
# split this whole streaming surface is built on: the ONLY stateful
# piece is the (lang, block) count table — BUILT-IN JVM streaming
# aggregation over the Zipf-compressed distinct-block domain — while
# the entire two-round Viterbi-EM fit + fertility assembly runs
# POST-stream over the converged counts via the shared _uni_best2
# machinery (per-lang token counts fold in the same keyed state:
# a k=0 block is 1:1 with a token). Oracle verbatim from the batch op.
# A rising live fertility for one lang means the incoming mix is
# drifting away from what the tokenizer was fit on.
# ---------------------------------------------------------------------------
@register(
    "streaming_unigram_fertility",
    oracle=REGISTRY["tokenizer_unigram_fertility"].oracle,
    tags=("streaming", "stateful", "tokenizer", "unigram", "documents"),
)
def streaming_unigram_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = stream_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    toks = docs.select(
        "lang", F.explode(F.split(norm, " ")).alias("tok")
    ).filter(F.col("tok") != "")
    n_blocks = (
        F.least(F.length("tok"), F.lit(UNI_MAX_TOK)) - 1
    ) / UNI_BLOCK
    blc_stream = (
        toks.select(
            "lang",
            F.explode(F.sequence(F.lit(0), n_blocks.cast("int"))).alias(
                "k"
            ),
            "tok",
        )
        .select(
            "lang",
            F.col("k"),
            F.col("tok")
            .substr(F.col("k") * UNI_BLOCK + 1, F.lit(UNI_BLOCK))
            .alias("block"),
        )
        .groupBy("lang", "block")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            # k=0 blocks are 1:1 with tokens — the same state row
            # carries the per-lang token count, no second stream.
            F.sum(F.when(F.col("k") == 0, 1).otherwise(0))
            .cast("long")
            .alias("c_tok"),
        )
    )
    # pinned: blc joins its own rollups below (conflicting references)
    blc = run_stream_to_memory(
        spark, blc_stream, output_mode="complete"
    ).localCheckpoint(eager=False)
    bcnt = blc.groupBy("block").agg(F.sum("c").cast("long").alias("c"))
    spine = _uni_spine_df(spark)
    _cands, _v0, best2 = _uni_best2(spark, bcnt, spine)
    sp = spine.withColumnRenamed("mask", "s_mask")
    ppb = (
        best2.join(
            F.broadcast(sp),
            (F.length("block") == F.col("blen"))
            & (F.col("mask") == F.col("s_mask")),
        )
        .groupBy("block")
        .agg(F.count(F.lit(1)).cast("long").alias("np"))
    )
    langtok = blc.groupBy("lang").agg(
        F.sum("c_tok").cast("long").alias("n_tokens")
    )
    langpieces = (
        blc.join(ppb, "block")
        .groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_blocks"),
            F.sum(F.col("c") * F.col("np"))
            .cast("long")
            .alias("n_pieces"),
        )
    )
    return langtok.join(langpieces, "lang").select(
        "lang",
        "n_tokens",
        "n_blocks",
        "n_pieces",
        idiv(
            F.col("n_pieces") * 2 * 10000 + F.col("n_tokens"),
            2 * F.col("n_tokens"),
        ).alias("fertility_bp"),
    )


# ---------------------------------------------------------------------------
# STREAMING CUPED MONITOR — the live twin of orders_cuped_adjustment:
# per-customer pre/post cent sums accumulate in BUILT-IN JVM agg state
# (complete mode, so the drained table is the converged sums), and
# the whole-dollar quantization + pooled-theta assembly run post-stream
# against the STATIC customer universe via the shared cuped_arm_col /
# cuped_assemble — oracle verbatim from the batch op. The emission
# series is the experimentation-ops signal: an adjusted-mean gap that
# keeps moving mid-ingest means the experiment has not converged and a
# ship decision would be premature.
# ---------------------------------------------------------------------------
@register(
    "streaming_cuped_monitor",
    oracle=REGISTRY["orders_cuped_adjustment"].oracle,
    tags=("streaming", "stateful", "experimentation", "cuped",
          "orders"),
)
def streaming_cuped_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = stream_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    split = F.lit(CUPED_SPLIT).cast("timestamp_ntz")
    spend_stream = orders.groupBy(
        F.col("o_custkey").alias("k")
    ).agg(
        F.sum(F.when(F.col("o_orderdate") < split, cents).otherwise(0))
        .cast("long")
        .alias("xc"),
        F.sum(F.when(F.col("o_orderdate") >= split, cents).otherwise(0))
        .cast("long")
        .alias("yc"),
    )
    # the whole-dollar quantization happens on the CONVERGED totals,
    # exactly like the batch op
    spend = run_stream_to_memory(
        spark, spend_stream, output_mode="complete"
    ).select(
        "k",
        idiv(F.col("xc"), 100).alias("x"),
        idiv(F.col("yc"), 100).alias("y"),
    )
    customer = load_table(spark, sf_dir, "customer")
    u = customer.join(
        spend, customer["c_custkey"] == spend["k"], "left"
    ).select(
        cuped_arm_col().alias("arm"),
        F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
    )
    return cuped_assemble(u)


# ---------------------------------------------------------------------------
# STREAMING SPRT MONITOR — the live twin of events_sprt_monitor, and
# the op SPRT was INVENTED for: stop the moment the evidence crosses a
# Wald boundary instead of waiting for a fixed horizon. State is one
# row of five int64s — (idx, llr, first_up, first_down, n_success) —
# folded per micro-batch in (ts_us, event_id) order through
# applyInPandasWithState (the walk is inherently sequential: this is
# the algorithm's nature, not a distribution failure — the data-sized
# work of ordering rows stays in the shuffle, the fold touches each
# row once). Same chunk-materialize-then-sort discipline as
# streaming_self_excitation (the r10 advice fix); same micro-batch
# event-time ordering contract. Oracle verbatim from the batch op.
# ---------------------------------------------------------------------------
def _ordered_batch_or_raise(batch, last_ts, last_eid, op_name):
    """Sort a micro-batch by (ts_us, event_id) and assert it comes
    STRICTLY after the last key any earlier batch folded. The sequential
    monitors (SPRT, runs test) assume GLOBAL event-time order across
    micro-batches — true for the single-file replay source they are
    written for, but silently wrong for any source that interleaves
    event time across batches, so the contract fails loudly instead of
    mis-walking."""
    batch = batch.sort_values(["ts_us", "event_id"])
    head = (int(batch["ts_us"].iloc[0]), int(batch["event_id"].iloc[0]))
    if head <= (last_ts, last_eid):
        raise ValueError(
            f"{op_name} requires event-time-ordered micro-batches: "
            f"batch starts at {head} but an earlier batch already folded "
            f"({last_ts}, {last_eid}); this source violates the "
            "single-file replay ordering contract"
        )
    # sorting hides INTRA-batch violations, where a duplicate key is the
    # only detectable one — a row delivered twice (overlapping staged
    # files, replay glitch) would silently double-count in the fold
    if batch.duplicated(subset=["ts_us", "event_id"]).any():
        raise ValueError(
            f"{op_name} received duplicate (ts_us, event_id) keys within "
            "one micro-batch; this source violates the exactly-once "
            "replay contract"
        )
    return batch


def _sprt_fold_ordered(st, batch, a, b, inc0, inc1):
    """Fold one micro-batch (already concatenated across Arrow chunks)
    into the 7-long SPRT state (idx, llr, first_up, first_down, n_succ,
    last_ts, last_eid). Module-level so the out-of-order path is
    unit-testable without a streaming harness."""
    idx, llr, first_up, first_down, n_succ, last_ts, last_eid = st
    batch = _ordered_batch_or_raise(batch, last_ts, last_eid, "SPRT monitor")
    for x in batch["x"]:
        idx += 1
        x = int(x)
        n_succ += x
        llr += inc1 if x else inc0
        if first_up == 0 and llr >= a:
            first_up = idx
        if first_down == 0 and llr <= b:
            first_down = idx
    last_ts = int(batch["ts_us"].iloc[-1])
    last_eid = int(batch["event_id"].iloc[-1])
    return (idx, llr, first_up, first_down, n_succ, last_ts, last_eid)


@register(
    "streaming_sprt_monitor",
    oracle=REGISTRY["events_sprt_monitor"].oracle,
    tags=("streaming", "stateful", "experimentation", "sprt", "events"),
)
def streaming_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    obs = stream_table(spark, sf_dir, "events").select(
        F.lit(0).alias("g"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("x"),
    )

    def update(key, pdfs, state):
        import pandas as pd

        st = (
            tuple(state.get)
            if state.exists
            else (0, 0, 0, 0, 0, -(1 << 62), -(1 << 62))
        )
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                chunks[0]
                if len(chunks) == 1
                else pd.concat(chunks, ignore_index=True)
            )
            st = _sprt_fold_ordered(
                st, batch, _SPRT_A, _SPRT_B, _SPRT_INC0, _SPRT_INC1
            )
        state.update(tuple(int(v) for v in st))
        idx, llr, first_up, first_down, n_succ = st[:5]
        yield pd.DataFrame(
            {
                "n_events": [idx],
                "n_success": [n_succ],
                "llr_final_milli": [llr],
                "first_up_idx": [first_up],
                "first_down_idx": [first_down],
            }
        )

    walked = obs.groupBy("g").applyInPandasWithState(
        update,
        outputStructType=(
            "n_events long, n_success long, llr_final_milli long, "
                "first_up_idx long, first_down_idx long"
        ),
        stateStructType=(
            "idx long, llr long, first_up long, first_down long, "
                "n_succ long, last_ts long, last_eid long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_stream_to_memory(spark, walked)
    # each micro-batch emits one cumulative row; the converged one
    # has max n_events
    final = emitted.orderBy(F.col("n_events").desc()).limit(1)
    return final.select(
        "n_events",
        "n_success",
        "llr_final_milli",
        F.lit(_SPRT_A).cast("long").alias("upper_milli"),
        F.lit(_SPRT_B).cast("long").alias("lower_milli"),
        "first_up_idx",
        "first_down_idx",
        F.when(
            (F.col("first_up_idx") > 0)
            & (
                (F.col("first_down_idx") == 0)
                | (F.col("first_down_idx") > F.col("first_up_idx"))
            ),
            F.lit("accept_h1"),
        )
        .when(F.col("first_down_idx") > 0, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# STREAMING WAV-HAAR DRIFT MONITOR — real media decode INSIDE the
# stream: each micro-batch's documents pass through the SAME two
# Arrow-batched mapInPandas stages as the batch op (RIFF/WAVE pack ->
# decode_wav_real -> numpy 3-level Haar), entirely STATELESS, and the
# only state is the per-lang (n_docs, n_frames, e1, e2, e3) int64 sums
# in BUILT-IN JVM aggregation — five longs per language. A per-lang
# transient-energy mix that shifts mid-ingest flags an audio pipeline
# regression (resampling, clipping, silence padding) before the batch
# job would ever see it. Oracle composed from the same
# _haarw_level_sql pieces as the per-doc batch oracle.
# ---------------------------------------------------------------------------
@register(
    "streaming_wav_haar_monitor",
    oracle=_haarw_lang_oracle(),
    tags=("streaming", "stateful", "multimodal", "audio", "wavelet",
          "documents"),
)
def streaming_wav_haar_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = (
        stream_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .filter(F.length("text") >= HAARW_FRAME)
    )
    per_doc = fused_encode_decode(
        docs, _wav_haar_encode_batches, _wav_haar_batches, _WAV_HAAR_SCHEMA
    )
    rollup = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_frames").cast("long").alias("n_frames"),
        F.sum("e1").cast("long").alias("e1"),
        F.sum("e2").cast("long").alias("e2"),
        F.sum("e3").cast("long").alias("e3"),
    )
    return run_stream_to_memory(spark, rollup, output_mode="complete")


# ---------------------------------------------------------------------------
# STREAMING WAV ZERO-CROSSING MONITOR — the live twin of
# multimodal_wav_zcr_real: real WAV decode inside the stream (the SAME
# module-level encode/ZCR mapInPandas stages as the batch op), then
# per-lang (n_docs, n_samples, n_crossings) sums in complete-mode JVM agg
# state. The rate is computed on the CONVERGED totals (summed pair
# counts, not a mean of per-doc rates), exactly like the batch rollup.
# ---------------------------------------------------------------------------
@register(
    "streaming_wav_zcr_monitor",
    oracle=_zcr_lang_oracle(),
    tags=("streaming", "stateful", "multimodal", "audio", "zcr",
          "documents"),
)
def streaming_wav_zcr_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = (
        stream_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .filter(F.length("text") >= 2)
    )
    per_doc = fused_encode_decode(
        docs, _wav_haar_encode_batches, _wav_zcr_batches, _WAV_ZCR_SCHEMA
    )
    rollup = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_samples").cast("long").alias("n_samples"),
        F.sum("n_crossings").cast("long").alias("n_crossings"),
        F.sum(F.col("n_samples") - 1).cast("long").alias("n_pairs"),
    )
    converged = run_stream_to_memory(spark, rollup, output_mode="complete")
    return converged.select(
        "lang",
        "n_docs",
        "n_samples",
        "n_crossings",
        idiv(F.col("n_crossings") * 10000, F.col("n_pairs")).alias(
            "zcr_bp"
        ),
    )


# ---------------------------------------------------------------------------
# STREAMING DiD MONITOR — the live twin of orders_did_estimator: the
# four (arm, period) cell moments accumulate in complete-mode keyed JVM
# agg state as orders stream in, and the report assembles post-stream
# over the drained cells through the SAME did_assemble as the batch op.
# Oracle verbatim from the batch op.
# ---------------------------------------------------------------------------
@register(
    "streaming_did_monitor",
    oracle=REGISTRY["orders_did_estimator"].oracle,
    tags=("streaming", "stateful", "experimentation", "did", "orders"),
)
def streaming_did_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = stream_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    split = F.lit(DID_SPLIT).cast("timestamp_ntz")
    per_order = orders.select(
        did_arm_col().alias("arm"),
        F.when(F.col("o_orderdate") < split, "pre")
        .otherwise("post")
        .alias("period"),
        cents.alias("cents"),
        idiv(cents, 100).alias("d"),
    )
    cells_stream = per_order.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.sum("d").cast("long").alias("sum_d"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sum_d2"),
    )
    return did_assemble(
        run_stream_to_memory(spark, cells_stream, output_mode="complete")
    )


# ---------------------------------------------------------------------------
# STREAMING BRIER MONITOR — the live twin of brier_score_decomposition,
# possible in ONE streaming pass because the batch op's scored set
# collapses to per-user (n_events, n_purchases): those two counts
# accumulate in complete-mode keyed JVM agg state, and the whole
# decomposition assembles post-stream through the SAME brier_assemble.
# Oracle verbatim from the batch op.
# ---------------------------------------------------------------------------
@register(
    "streaming_brier_monitor",
    oracle=_brier_oracle(_BRIER_PER_USER_SQL),
    tags=("streaming", "stateful", "ml", "calibration", "brier",
          "events"),
)
def streaming_brier_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    per_user_stream = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("k"),
    )
    return brier_assemble(
        run_stream_to_memory(spark, per_user_stream, output_mode="complete")
    )


# ---------------------------------------------------------------------------
# STREAMING MANN-KENDALL MONITOR — the live twin of
# events_mann_kendall_trend: per-(type, day) counts accumulate in
# complete-mode keyed JVM agg state, and the full S / tie-corrected
# variance / z assembly runs post-stream through the SAME
# mann_kendall_assemble as the batch op. Oracle verbatim.
# ---------------------------------------------------------------------------
@register(
    "streaming_mann_kendall_monitor",
    oracle=_mann_kendall_oracle(_MK_DAILY_SQL),
    tags=("streaming", "stateful", "timeseries", "mann-kendall",
          "events"),
)
def streaming_mann_kendall_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    daily_stream = events.groupBy(
        "event_type",
        F.expr(
            "datediff(cast(date_trunc('day', ts) as date), "
                "date'1970-01-01')"
        ).alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    # pinned: the Mann-Kendall assembly self-joins daily (conflicting refs)
    daily = run_stream_to_memory(
        spark, daily_stream, output_mode="complete"
    ).localCheckpoint(eager=False)
    return mann_kendall_assemble(daily)


# ---------------------------------------------------------------------------
# STREAMING RUNS MONITOR — the live twin of events_runs_test: one
# 6-long state row (n, n1, changes, last_x, last_ts, last_eid) folded
# per micro-batch in (ts_us, event_id) order through
# applyInPandasWithState, with the same chunk-materialize-then-sort +
# ordering-contract discipline as the SPRT monitor (shared
# _ordered_batch_or_raise). The per-batch fold is numpy-vectorized —
# only the single boundary comparison chains across batches. Final
# z assembles through the SAME runs_report as the batch op; oracle
# verbatim.
# ---------------------------------------------------------------------------
def _runs_fold_ordered(st, batch):
    """Fold one micro-batch into the 6-long runs state. Module-level so
    the out-of-order path is unit-testable without a streaming
    harness."""
    import numpy as np

    n, n1, changes, last_x, last_ts, last_eid = st
    batch = _ordered_batch_or_raise(batch, last_ts, last_eid, "runs monitor")
    xs = batch["x"].to_numpy()
    n += len(xs)
    n1 += int(xs.sum())
    changes += int(np.count_nonzero(xs[:-1] != xs[1:]))
    if last_x >= 0 and int(xs[0]) != last_x:
        changes += 1
    return (
        n,
        n1,
        changes,
        int(xs[-1]),
        int(batch["ts_us"].iloc[-1]),
        int(batch["event_id"].iloc[-1]),
    )


def runs_walk_emissions(events: DataFrame) -> DataFrame:
    """Cumulative (n, n1, r) emissions of the ordered runs walk over a
    normalized events stream — module-level so streaming_runs_monitor
    and the restart-recovery test share the exact query (the recovery
    proof must restart the SAME plan on the same checkpoint)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    obs = events.select(
        F.lit(0).alias("g"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("x"),
    )

    def update(key, pdfs, state):
        import pandas as pd

        st = (
            tuple(state.get)
            if state.exists
            else (0, 0, 0, -1, -(1 << 62), -(1 << 62))
        )
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = (
                chunks[0]
                if len(chunks) == 1
                else pd.concat(chunks, ignore_index=True)
            )
            st = _runs_fold_ordered(st, batch)
        state.update(tuple(int(v) for v in st))
        n, n1, changes = st[:3]
        yield pd.DataFrame(
            {"n": [n], "n1": [n1], "r": [changes + 1 if n > 0 else 0]}
        )

    return obs.groupBy("g").applyInPandasWithState(
        update,
        outputStructType="n long, n1 long, r long",
        stateStructType=(
            "n long, n1 long, changes long, last_x long, "
            "last_ts long, last_eid long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "streaming_runs_monitor",
    oracle=REGISTRY["events_runs_test"].oracle,
    tags=("streaming", "stateful", "stats", "runs-test", "events"),
)
def streaming_runs_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    walked = runs_walk_emissions(stream_table(spark, sf_dir, "events"))
    emitted = run_stream_to_memory(spark, walked)
    # each micro-batch emits one cumulative row; the converged one
    # has max n
    final = emitted.orderBy(F.col("n").desc()).limit(1)
    return runs_report(final)


# ---------------------------------------------------------------------------
# STREAMING SRM MONITOR — the live twin of events_srm_check: the unit
# universe (distinct users) accumulates as per-user rows in complete-mode
# keyed JVM agg state, and the chi² verdict assembles post-stream
# through the SAME srm_assemble. This is the monitor that catches a
# broken randomizer while the experiment is still filling, not at
# readout. Oracle verbatim from the batch op.
# ---------------------------------------------------------------------------
@register(
    "streaming_srm_monitor",
    oracle=_srm_oracle(_SRM_USERS_SQL),
    tags=("streaming", "stateful", "experimentation", "srm", "events"),
)
def streaming_srm_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return srm_assemble(
        run_stream_to_memory(spark, per_user, output_mode="complete")
    )


# ---------------------------------------------------------------------------
# STREAMING PERMUTATION MONITOR — the live twin of
# events_permutation_test: per-user (n_events, n_purchases) converge in
# complete-mode keyed JVM agg state (the brier-twin shape — the replica
# arms are hash bits of user_id, so they derive POST-stream in the
# shared permutation_assemble; nothing replica-specific ever enters the
# state). Oracle verbatim from the batch op.
# ---------------------------------------------------------------------------
@register(
    "streaming_permutation_monitor",
    oracle=REGISTRY["events_permutation_test"].oracle,
    tags=("streaming", "stateful", "experimentation", "permutation",
          "events"),
)
def streaming_permutation_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    per_user_stream = perm_per_user_counts(events)
    return permutation_assemble(
        run_stream_to_memory(spark, per_user_stream, output_mode="complete")
    )


# ---------------------------------------------------------------------------
# STREAMING POWER/MDE MONITOR — the live twin of events_power_mde_plan:
# two global int64 counts in complete-mode JVM agg state answer "what
# uplift could this experiment detect with the traffic collected SO
# FAR" while it is still filling. Shared power_mde_assemble; oracle
# verbatim from the batch op.
# ---------------------------------------------------------------------------
@register(
    "streaming_power_mde_monitor",
    oracle=REGISTRY["events_power_mde_plan"].oracle,
    tags=("streaming", "stateful", "experimentation", "power",
          "events"),
)
def streaming_power_mde_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    counts_stream = events.groupBy(F.lit(0).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("n_purch"),
    )
    return power_mde_assemble(
        run_stream_to_memory(spark, counts_stream, output_mode="complete")
    )


# ---------------------------------------------------------------------------
# STREAMING SPLIT-LEAKAGE MONITOR — the live twin of
# split_leakage_audit: per-fingerprint (n_train, n_val, n_test)
# counters converge in complete-mode keyed JVM agg state as documents
# stream in, and the whole report (per-split doc counts, distinct-fp
# counts, leaked mass, global leaked-fp total) assembles post-stream
# from that one table through the SAME split_leakage_assemble — a
# leaked eval document is detectable the moment its twin lands in a
# different split, not at corpus-freeze time. Oracle verbatim.
# ---------------------------------------------------------------------------
@register(
    "streaming_split_leakage_monitor",
    oracle=REGISTRY["split_leakage_audit"].oracle,
    tags=("streaming", "stateful", "llm-pipeline", "leakage",
          "documents"),
)
def streaming_split_leakage_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = stream_table(spark, sf_dir, "documents")
    fps3_stream = leakage_counters(docs)
    return split_leakage_assemble(
        run_stream_to_memory(spark, fps3_stream, output_mode="complete")
    )


# ---------------------------------------------------------------------------
# STREAMING NBD MONITOR — the live twin of basket_size_nbd_fit: the
# per-customer order counts converge in complete-mode keyed JVM agg
# state, and the method-of-moments fit assembles post-stream through
# the SAME nbd_assemble. The purchase-frequency model refreshes while
# orders are still arriving. Oracle verbatim from the batch op.
# ---------------------------------------------------------------------------
@register(
    "streaming_nbd_monitor",
    oracle=REGISTRY["basket_size_nbd_fit"].oracle,
    tags=("streaming", "stateful", "nbd", "stats", "orders"),
)
def streaming_nbd_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = stream_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    return nbd_assemble(
        run_stream_to_memory(spark, per_cust, output_mode="complete")
    )


# ---------------------------------------------------------------------------
# STREAMING CCF MONITOR — the live twin of events_ccf_count_value: the
# per-(type, hour) count/cent-sum spine converges in complete-mode keyed
# JVM agg state (time-domain x type-vocabulary bounded), and the lag
# pairing + Pearson moments assemble post-stream through the SAME
# ccf_assemble — the hour index derives from the converged spine's min
# hour, so the stream never needs a global min mid-flight. Oracle
# verbatim from the batch op.
# ---------------------------------------------------------------------------
@register(
    "streaming_ccf_monitor",
    oracle=REGISTRY["events_ccf_count_value"].oracle,
    tags=("streaming", "stateful", "timeseries", "correlation",
          "events"),
)
def streaming_ccf_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    spine = ccf_hourly_counts(events)
    return ccf_assemble(
        spark, run_stream_to_memory(spark, spine, output_mode="complete")
    )


# ---------------------------------------------------------------------------
# STREAMING TIME-TO-FIRST-PURCHASE MONITOR — the live twin of
# user_time_to_first_purchase: per-user first-event / first-purchase
# minimum timestamps converge in complete-mode keyed JVM agg state (a
# user's purchase min stays NULL until their first purchase arrives,
# exactly as in batch), and the activation bands assemble post-stream
# through the SAME ttfp_assemble. Oracle verbatim from the batch op.
# ---------------------------------------------------------------------------
@register(
    "streaming_ttfp_monitor",
    oracle=REGISTRY["user_time_to_first_purchase"].oracle,
    tags=("streaming", "stateful", "funnel", "activation", "events"),
)
def streaming_ttfp_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    per_user = ttfp_per_user(events)
    return ttfp_assemble(
        run_stream_to_memory(spark, per_user, output_mode="complete")
    )


# ---------------------------------------------------------------------------
# CHECKPOINT RETENTION AUDIT — the maintenance question over the same
# two control-plane logs the commit audit pairs (reference parity: the
# checkpoint tooling family, CheckpointOffsetReader.scala:12-40,
# extended from reading offsets to PLANNING their retention): Spark
# purges offset/commit log entries older than
# latestCommitted − minBatchesToRetain + 1, and a restart resumes from
# the newest committed batch. Per drained batch this reports the
# committed flag, the planned watermark, whether the batch is the
# resume point, whether a minBatchesToRetain=2 policy retains or
# purges its log files, and whether its watermark advanced over the
# previous batch (the frontier-progress signal; lag over a
# |batches|-row metadata window). The oracle derives all of it from
# the events table plus the pinned three-batch replay structure — so a
# drifted retention rule or a stuck watermark diverges immediately.
# Both inputs are metadata-sized; every join broadcasts.
# ---------------------------------------------------------------------------
RETAIN_N = 2  # minBatchesToRetain for the audit policy


@register(
    "checkpoint_retention_audit",
    oracle=f"""
            WITH w AS (
                SELECT (epoch_us(MAX(ts)) // 1000) - 3600000 AS wm FROM events
            ),
            b AS (
                SELECT CAST(0 AS BIGINT) AS batch_id,
                       CAST(0 AS BIGINT) AS planned_wm_ms, TRUE AS committed
                FROM w
                UNION ALL SELECT CAST(1 AS BIGINT), wm, TRUE FROM w
                UNION ALL SELECT CAST(2 AS BIGINT), wm, TRUE FROM w
            )
            SELECT batch_id, committed, planned_wm_ms,
                   batch_id = 2 AS is_resume_point,
                   batch_id >= 2 - {RETAIN_N} + 1 AS retained,
                   batch_id < 2 - {RETAIN_N} + 1 AS purgeable,
                   planned_wm_ms > COALESCE(LAG(planned_wm_ms)
                       OVER (ORDER BY batch_id), -1) AS wm_advanced
            FROM b
        """,
    tags=("streaming", "checkpoint", "maintenance", "retention"),
)
def checkpoint_retention_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from kafka_stream_job_spark.sources.commitlog import (
        register_commitlog_source,
    )
    from kafka_stream_job_spark.sources.offsetlog import (
        register_offsetlog_source,
    )

    register_offsetlog_source(spark)
    register_commitlog_source(spark)
    stage = _stage_late_replay(sf_dir)
    with _scratch_checkpoint("ksj-retention-") as ckpt:
        run_stream_to_memory(
            spark,
            late_drop_rollup_stream(spark, stage),
            checkpoint_dir=ckpt,
        )
        planned = (
            spark.read.format("ksj_offsetlog")
            .option("path", ckpt)
            .load()
            .select("batch_id", F.col("watermark_ms").alias("planned_wm_ms"))
        )
        committed = (
            spark.read.format("ksj_commitlog")
            .option("path", ckpt)
            .load()
            .select("batch_id", F.lit(True).alias("committed"))
        )
        joined = _collected(planned.join(F.broadcast(committed), "batch_id", "left"))
    frontier = joined.agg(
        F.max(F.when(F.col("committed"), F.col("batch_id"))).alias(
            "last_committed"
        )
    )
    keep_from = F.col("last_committed") - RETAIN_N + 1
    return (
        joined.crossJoin(F.broadcast(frontier))
        .select(
            "batch_id",
            F.coalesce(F.col("committed"), F.lit(False)).alias(
                "committed"
            ),
            "planned_wm_ms",
            (F.col("batch_id") == F.col("last_committed")).alias(
                "is_resume_point"
            ),
            (F.col("batch_id") >= keep_from).alias("retained"),
            (F.col("batch_id") < keep_from).alias("purgeable"),
            (
                F.col("planned_wm_ms")
                > F.coalesce(
                    F.lag("planned_wm_ms").over(
                        Window.orderBy("batch_id")
                    ),
                    F.lit(-1),
                )
            ).alias("wm_advanced"),
        )
    )


# ---------------------------------------------------------------------------
# STREAMING LSH INDEX MAINTENANCE — the live twin of
# dedup_lsh_index_maintenance: per-document MinHash signature mins
# accumulate in complete-mode keyed JVM agg state (16 universal-hash
# mins per doc — constant width), and the frozen-index append report
# assembles post-stream through the SAME lsh_index_report. This is the
# state-sizing monitor a streaming dedup service runs while documents
# are still arriving. Oracle verbatim from the batch op.
# ---------------------------------------------------------------------------
@register(
    "streaming_lsh_index_maintenance",
    oracle=REGISTRY["dedup_lsh_index_maintenance"].oracle,
    tags=("streaming", "stateful", "dedup", "lsh", "index", "documents"),
)
def streaming_lsh_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # repartition after the single-split replay source: the heavy
    # shingle→md5 explode otherwise serializes in one task (same fix
    # as streaming_lsh_candidate_buckets — guide §2.5)
    docs = stream_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # r13: per-doc signatures from the shared Arrow body; the
    # stateful doc-keyed aggregate keeps its replay semantics (min
    # distributes: min across appearances of finished sigs == min
    # over the union of shingle hashes the old explode carried).
    staged = docs.where(F.col("text").isNotNull()).select(
        "doc_id", "text"
    ).mapInArrow(
        _minhash_sig_batches,
        "doc_id long, " + ", ".join(f"h{s} long" for s in range(NUM_HASHES)),
    )
    per_doc = staged.groupBy("doc_id").agg(
        *[F.min(f"h{s}").alias(f"h{s}") for s in range(NUM_HASHES)]
    )
    # pinned: lsh_index_report self-joins sigs (conflicting references)
    sigs = run_stream_to_memory(
        spark, per_doc, output_mode="complete"
    ).localCheckpoint(eager=False)
    # null-text docs emit no signature and no postings on either
    # engine, so the signature doc_ids ARE the relevant universe
    return lsh_index_report(sigs, sigs.select("doc_id"))


# ---------------------------------------------------------------------------
# STREAMING CURATION FUNNEL MONITOR — the live twin of
# text_curation_funnel: per-document rows replay-dedupe in complete-mode
# keyed agg state (documents are immutable, so max per doc_id is the
# row itself — the magic-sniffer replay-dedupe shape), and the
# five-stage attributed funnel assembles post-stream through the SAME
# curation_funnel_report. The corpus-hygiene dashboard refreshes while
# the crawl is still landing. Oracle verbatim from the batch op.
# ---------------------------------------------------------------------------
@register(
    "streaming_curation_funnel",
    oracle=REGISTRY["text_curation_funnel"].oracle,
    tags=("streaming", "stateful", "text", "funnel", "curation",
          "documents"),
)
def streaming_curation_funnel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = stream_table(spark, sf_dir, "documents")
    per_doc = docs.groupBy("doc_id").agg(
        F.max("text").alias("text"), F.max("lang").alias("lang")
    )
    return curation_funnel_report(
        run_stream_to_memory(spark, per_doc, output_mode="complete")
    )

"""Structured Streaming tests: stream-vs-batch equivalence for the
windowed/stateful operators, and the bronze pipeline end-to-end as a
stream with a real checkpoint + the L1 listener attached (the reference's
observation pattern: processAllAvailable → lastProgress →
checkpoint inspection, KafkaAvroToIceberg.scala:104-113, dev.md:15-21)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_stream_job_spark.bronze import decode_events, _EVENT_PAYLOAD_STRUCT
from kafka_stream_job_spark.checkpoint import (
    list_commit_batches,
    list_offset_batches,
    read_offsets_file,
)
from kafka_stream_job_spark.monitors import LiveDataLossMonitor
from kafka_stream_job_spark.operators.relational import events_hourly_rollup
from kafka_stream_job_spark.streaming.pipeline import (
    dedup_stream,
    hourly_rollup_stream,
    purchase_attribution_stream,
    run_stream_to_memory,
    session_window_stream,
    stateful_user_totals_stream,
    stream_static_enrich,
    stream_table,
)
from kafka_stream_job_spark.tables import load_table

from .conftest import SF_SMOKE


def test_hourly_rollup_stream_equals_batch(spark, tmp_path):
    """The streaming tumbling-window agg must produce exactly the batch
    rollup once the bounded input drains (complete mode)."""
    out = run_stream_to_memory(
        spark,
        hourly_rollup_stream(stream_table(spark, SF_SMOKE, "events")),
        "hourly_stream",
        str(tmp_path / "ckpt"),
        output_mode="complete",
    )
    stream_rows = {tuple(r) for r in out.collect()}
    batch_rows = {tuple(r) for r in events_hourly_rollup(spark, SF_SMOKE).collect()}
    assert stream_rows == batch_rows and len(stream_rows) > 0


def test_dedup_stream_drops_injected_duplicates(spark, tmp_path):
    """Feed events + a duplicated slice through the streaming dedup; the
    surviving set must equal the distinct event_ids."""
    events = load_table(spark, SF_SMOKE, "events")
    dup_dir = str(tmp_path / "dup_input")
    events.unionAll(events.limit(100)).repartition(4).write.parquet(dup_dir)

    from kafka_stream_job_spark.tables import SCHEMAS

    stream = spark.readStream.schema(SCHEMAS["events"]).parquet(dup_dir)
    out = run_stream_to_memory(
        spark, dedup_stream(stream), "dedup_stream", str(tmp_path / "ckpt")
    )
    n_distinct = events.select("event_id").distinct().count()
    got = out.select("event_id").collect()
    assert len(got) == n_distinct
    assert len({r[0] for r in got}) == n_distinct


def test_sliding_window_stream_equals_batch(spark, tmp_path):
    """Sliding windows (1h / 30min slide): stream result after drain must
    equal the same sliding-window agg run in batch."""
    from kafka_stream_job_spark.streaming.pipeline import sliding_window_stream

    out = run_stream_to_memory(
        spark,
        sliding_window_stream(stream_table(spark, SF_SMOKE, "events")),
        "sliding_stream",
        str(tmp_path / "ckpt"),
        output_mode="complete",
    )
    events = load_table(spark, SF_SMOKE, "events")
    batch = (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").cast("string").alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    stream_rows = {tuple(r) for r in out.collect()}
    batch_rows = {tuple(r) for r in batch.collect()}
    assert stream_rows == batch_rows and len(stream_rows) > 0


def test_session_window_stream_runs_and_bounds_sessions(spark, tmp_path):
    out = run_stream_to_memory(
        spark,
        session_window_stream(
            stream_table(spark, SF_SMOKE, "events"), gap="30 minutes"
        ),
        "sessions_stream",
        str(tmp_path / "ckpt"),
        output_mode="complete",
    )
    rows = out.collect()
    assert len(rows) > 0
    # every session belongs to one user and has ≥1 event
    assert all(r["n_events"] >= 1 for r in rows)
    # sessions for one user don't overlap (sorted starts >= previous ends)
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["sess_start"], r["sess_end"]))
    for sessions in by_user.values():
        sessions.sort()
        for (s1, e1), (s2, _e2) in zip(sessions, sessions[1:]):
            assert s2 >= e1


def test_stream_static_enrich(spark):
    users = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id")
        .distinct()
        .withColumn("user_tag", F.concat(F.lit("u"), F.col("user_id")))
    )
    # no name, no checkpoint: a generated sink name and Spark's own
    # temporary checkpoint
    out = run_stream_to_memory(
        spark, stream_static_enrich(stream_table(spark, SF_SMOKE, "events"), users)
    )
    total = load_table(spark, SF_SMOKE, "events").count()
    assert out.count() == total
    assert out.filter(F.col("user_tag").isNull()).count() == 0


def test_registry_twin_leaves_no_checkpoint_behind(spark, tmp_path, monkeypatch):
    """A streaming twin drains through Spark's temporary checkpoint, which
    the clean stop() deletes: no checkpoint directory outlives the query.
    The twins that read their own checkpoint (or sink audit) back collect
    the metadata-sized result and remove the directory themselves.

    Each drained query's own resolved checkpoint root is checked, and the
    twins' ``ksj-*`` dirs go to ``tmp_path``, so other processes sharing
    the temp dir cannot fail the test."""
    import tempfile

    from pyspark.sql.streaming import DataStreamWriter

    from kafka_stream_job_spark.registry import REGISTRY

    roots: list[str] = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        query = start(self, *args, **kwargs)
        root = query._jsq.streamingQuery().resolvedCheckpointRoot()
        roots.append(spark._jvm.org.apache.hadoop.fs.Path(root).toUri().getPath())
        return query

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    drained = (
        "streaming_dedup_events",
        "checkpoint_offsetlog_table",
        "checkpoint_commitlog_audit",
        "checkpoint_statestore_table",
        "checkpoint_sources_table",
        "checkpoint_retention_audit",
    )
    for name in (*drained, "custom_sink_audit_roundtrip"):
        roots.clear()
        out = REGISTRY[name].fn(spark, SF_SMOKE)
        assert out.count() > 0, name
        assert bool(roots) == (name in drained), name
        assert [r for r in roots if os.path.exists(r)] == [], name
        assert [n for n in os.listdir(tmp_path) if n.startswith("ksj-")] == [], name


@pytest.mark.parametrize(
    "name",
    [
        "streaming_sink_exactly_once_roundtrip",
        "streaming_upsert_latest_state",
        "bronze_compaction_roundtrip",
    ],
)
def test_data_sized_twin_dirs_live_under_spark_files_root(spark, tmp_path, monkeypatch, name):
    """The twins whose lazy result reads files they wrote make them under
    the driver's SparkFiles root, which ``stop()`` deletes, never in the
    temp dir."""
    import tempfile

    from pyspark import SparkFiles

    from kafka_stream_job_spark.registry import REGISTRY

    made: list[str] = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = REGISTRY[name].fn(spark, SF_SMOKE)
    assert out.count() > 0
    assert [n for n in os.listdir(tempfile.gettempdir()) if n.startswith("ksj-")] == []
    root = SparkFiles.getRootDirectory()
    twin_dirs = [d for d in made if os.path.basename(d).startswith("ksj-")]
    assert twin_dirs
    assert all(os.path.dirname(d) == root for d in twin_dirs), (root, twin_dirs)


def test_update_mode_emits_final_counts(spark, tmp_path):
    """Update output mode (the third mode next to append/complete): only
    changed aggregate rows are emitted per batch; taking the LAST emission
    per key reconstructs the final aggregate exactly."""
    counted = stream_table(spark, SF_SMOKE, "events").groupBy("event_type").count()
    query = (
        counted.writeStream.format("memory")
        .queryName("update_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    # last emission per key == final count (monotone counts: max works)
    got = {
        r["event_type"]: r["n"]
        for r in spark.table("update_counts")
        .groupBy("event_type")
        .agg(F.max("count").alias("n"))
        .collect()
    }
    events = load_table(spark, SF_SMOKE, "events")
    want = {
        r["event_type"]: r["count"]
        for r in events.groupBy("event_type").count().collect()
    }
    assert got == want


def test_rate_source_windowed_agg(spark, tmp_path):
    """The rate source (SURVEY.md §7.1: broker-free streaming input):
    generate rows at a fixed rate, run a watermarked window agg over them,
    and verify every generated value is accounted for exactly once."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .option("numPartitions", 2)
        .load()
    )
    agg = (
        rate.withWatermark("timestamp", "10 seconds")
        .groupBy(F.window("timestamp", "1 second").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v"))
    )
    query = (
        agg.writeStream.format("memory")
        .queryName("rate_agg")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("complete")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            query.processAllAvailable()
            rows = spark.table("rate_agg").collect()
            total = sum(r["n"] for r in rows)
            if total >= 100:
                break
            time.sleep(0.5)
    finally:
        query.stop()
    rows = spark.table("rate_agg").collect()
    total = sum(r["n"] for r in rows)
    assert total >= 100
    # values are 0..total-1 exactly once across windows
    assert sum(r["sum_v"] for r in rows) == total * (total - 1) // 2


def test_available_now_trigger_bounded_backfill(spark, tmp_path):
    """Trigger.AvailableNow: process everything currently available in
    bounded micro-batches, then stop on its own — the backfill/catch-up
    mode (vs processAllAvailable which needs an external stop)."""
    counted = stream_table(spark, SF_SMOKE, "events").groupBy("event_type").count()
    query = (
        counted.writeStream.format("memory")
        .queryName("avail_now")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)  # self-terminates after draining
    assert not query.isActive
    got = {r["event_type"]: r["count"] for r in spark.table("avail_now").collect()}
    events = load_table(spark, SF_SMOKE, "events")
    want = {
        r["event_type"]: r["count"]
        for r in events.groupBy("event_type").count().collect()
    }
    assert got == want


def test_foreach_batch_idempotent_append(spark, tmp_path):
    """foreachBatch sink: all rows land exactly once; a replayed batch_id
    (simulated by re-invoking the sink with an already-committed id) is a
    no-op."""
    from kafka_stream_job_spark.streaming.pipeline import (
        foreach_batch_idempotent_append,
        run_stream_foreach_batch,
    )

    out_dir = str(tmp_path / "out")
    out = run_stream_foreach_batch(
        spark,
        stream_table(spark, SF_SMOKE, "events"),
        out_dir,
        str(tmp_path / "ckpt"),
    )
    events = load_table(spark, SF_SMOKE, "events")
    assert out.count() == events.count()

    # replaying a committed batch must not duplicate rows
    import os

    committed = sorted(
        int(d.split("=")[1]) for d in os.listdir(out_dir) if d.startswith("batch_id=")
    )
    assert committed, "no batches committed"
    sink = foreach_batch_idempotent_append(out_dir)
    sink(events.limit(17), committed[0])
    assert spark.read.parquet(out_dir).count() == events.count()


def test_foreach_batch_partial_write_is_rewritten(spark, tmp_path):
    """A batch_id directory WITHOUT a _SUCCESS marker is a crashed partial
    write: the replay must rewrite it (not skip it and lose the batch),
    and the result must contain exactly the replayed rows."""
    import os

    from kafka_stream_job_spark.streaming.pipeline import (
        foreach_batch_idempotent_append,
    )

    out_dir = str(tmp_path / "out")
    events = load_table(spark, SF_SMOKE, "events")
    sink = foreach_batch_idempotent_append(out_dir)

    # simulate a crash mid-write: partial parquet data, no _SUCCESS
    part_dir = os.path.join(out_dir, "batch_id=0")
    events.limit(3).write.parquet(part_dir)
    os.remove(os.path.join(part_dir, "_SUCCESS"))

    sink(events.limit(17), 0)
    assert os.path.exists(os.path.join(part_dir, "_SUCCESS"))
    assert spark.read.parquet(part_dir).count() == 17

    # a second replay of the now-committed batch is a no-op
    sink(events.limit(5), 0)
    assert spark.read.parquet(part_dir).count() == 17


def _fingerprint(df):
    """(row count, order-independent hash sum) over all columns as text."""
    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash(*cols).cast("long")).alias("h"),
    ).first()
    return row["n"], row["h"]


def test_stream_table_reads_in_place(spark, tmp_path):
    """stream_table streams the table file where it lives (pathGlobFilter
    over the read-only table directory), row-for-row equal to the batch
    table, with no stage directory under /tmp; a two-file file stream
    drained one file per trigger in complete mode leaves exactly the last
    trigger's row in the memory sink."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_stream_job_spark.streaming.pipeline import _file_stream

    stages_before = set(glob.glob("/tmp/ksj_stream_stage*"))
    for table in ("events", "documents"):
        drained = run_stream_to_memory(spark, stream_table(spark, SF_SMOKE, table))
        batch = load_table(spark, SF_SMOKE, table)
        assert _fingerprint(drained) == _fingerprint(batch), table
    assert set(glob.glob("/tmp/ksj_stream_stage*")) == stages_before

    # two files, LONG-nanos ts (the round-1 layout): one micro-batch each
    src = tmp_path / "src"
    src.mkdir()
    for i, name in enumerate(("a.parquet", "b.parquet")):
        pq.write_table(
            pa.table({"ts": [10**18 + i * 10**9], "v": [i]}), str(src / name)
        )
    stream = _file_stream(spark, str(src), files_per_trigger=1)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    ckpt = str(tmp_path / "ckpt")
    out = run_stream_to_memory(
        spark, stream.groupBy().count(), checkpoint_dir=ckpt, output_mode="complete"
    )
    assert [b for b, _ in list_commit_batches(ckpt)] == [0, 1]
    assert [r["count"] for r in out.collect()] == [2]


def test_complete_mode_drain_reads_converged_keyed_state(spark, tmp_path):
    """A keyed sum drained in complete mode over two micro-batches leaves
    one memory row per key, equal to the batch sum over both files, even
    though the second batch LOWERS key "a" (running sum 5, then -2): a max
    over update-mode emissions would keep the stale 5."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_stream_job_spark.streaming.pipeline import _file_stream

    src = tmp_path / "src"
    src.mkdir()
    files = {
        "a.parquet": {"k": ["a", "b"], "v": [5, 3]},
        "b.parquet": {"k": ["a", "c"], "v": [-7, 2]},
    }
    for i, (name, cols) in enumerate(files.items()):
        pq.write_table(pa.table(cols), str(src / name))
        # the file source orders files by mtime: a.parquet is batch 0
        os.utime(src / name, (1_000_000 + i, 1_000_000 + i))
    stream = _file_stream(spark, str(src), files_per_trigger=1)
    ckpt = str(tmp_path / "ckpt")
    out = run_stream_to_memory(
        spark,
        stream.groupBy("k").agg(F.sum("v").alias("s")),
        checkpoint_dir=ckpt,
        output_mode="complete",
    )
    assert [b for b, _ in list_commit_batches(ckpt)] == [0, 1]
    batch = spark.read.parquet(str(src)).groupBy("k").agg(F.sum("v").alias("s"))
    want = sorted((r["k"], r["s"]) for r in batch.collect())
    assert want == [("a", -2), ("b", 3), ("c", 2)]
    assert sorted((r["k"], r["s"]) for r in out.collect()) == want


def test_drains_leave_no_temp_view_behind(spark):
    """A drain drops its memory sink's temp view, so the session catalog
    does not keep every drained row for the life of the session: neither a
    registry twin (``drain_*``), the availableNow rollup (``stream_avnow_*``)
    nor a plain run_stream_to_memory call leaves a view. The returned frame
    still reads its rows, and self-joins once pinned."""
    from kafka_stream_job_spark.registry import REGISTRY

    def drain_views():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith(("drain_", "stream_avnow_"))
        }

    before = drain_views()
    for name in ("streaming_mann_kendall_monitor", "streaming_available_now_rollup"):
        assert REGISTRY[name].fn(spark, SF_SMOKE).count() > 0, name
    counts = run_stream_to_memory(
        spark,
        stream_table(spark, SF_SMOKE, "events").groupBy("event_type").count(),
        output_mode="complete",
    )
    assert drain_views() == before

    pinned = counts.localCheckpoint(eager=False)
    joined = pinned.join(
        pinned.select("event_type", F.col("count").alias("again")), "event_type"
    )
    want = {
        r["event_type"]: r["count"]
        for r in load_table(spark, SF_SMOKE, "events").groupBy("event_type").count().collect()
    }
    assert {r["event_type"]: r["count"] for r in counts.collect()} == want
    assert {r["event_type"]: r["again"] for r in joined.collect()} == want


def test_purchase_attribution_stream_equals_batch(spark, tmp_path):
    """Stream-stream join result must equal the same join run as batch
    once the bounded input drains."""
    out = run_stream_to_memory(
        spark,
        purchase_attribution_stream(
            stream_table(spark, SF_SMOKE, "events"),
            stream_table(spark, SF_SMOKE, "events"),
        ),
        "attribution_stream",
        str(tmp_path / "ckpt"),
    )
    events = load_table(spark, SF_SMOKE, "events")
    batch = (
        events.filter(F.col("event_type").isin("view", "click"))
        .select(
            "user_id",
            F.col("ts").alias("touch_ts"),
            F.col("event_id").alias("touch_id"),
        )
        .join(
            events.filter(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("purchase_ts"),
                F.col("event_id").alias("purchase_id"),
            ),
            (F.col("user_id") == F.col("p_user"))
            & (F.col("touch_ts") <= F.col("purchase_ts"))
            & (F.col("purchase_ts") <= F.col("touch_ts") + F.expr("INTERVAL 30 minutes")),
        )
        .select("purchase_id", "user_id", "touch_id", "touch_ts", "purchase_ts")
    )
    stream_rows = {tuple(r) for r in out.collect()}
    batch_rows = {tuple(r) for r in batch.collect()}
    assert stream_rows == batch_rows and len(stream_rows) > 0


def test_stateful_user_totals_stream(spark, tmp_path):
    """applyInPandasWithState running totals: the LAST emitted row per
    user must equal the batch groupBy totals once the input drains."""
    out = run_stream_to_memory(
        spark,
        stateful_user_totals_stream(stream_table(spark, SF_SMOKE, "events")),
        "stateful_totals_stream",
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    # multiple rows per user are possible (one per micro-batch with new
    # data); the running total is monotone, so max == final.
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in out.orderBy("user_id", "n_events").collect()
    }
    events = load_table(spark, SF_SMOKE, "events")
    batch = {
        r["user_id"]: (r["n"], r["tot"])
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tot"))
        .collect()
    }
    assert set(final) == set(batch)
    for uid, (n, tot) in batch.items():
        fn, ftot = final[uid]
        assert fn == n
        assert abs(ftot - tot) < 1e-6


def test_drain_runs_drain_shuffle_partitions_state_stores(spark, tmp_path):
    """The bounded drain runs DRAIN_SHUFFLE_PARTITIONS state-store
    instances whatever the session's shuffle partitions (it sets the conf,
    so it can raise it as well as lower it), and restores the session
    value afterwards."""
    from kafka_stream_job_spark.streaming.pipeline import DRAIN_SHUFFLE_PARTITIONS

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        ckpt = str(tmp_path / "ckpt")
        agg = stream_table(spark, SF_SMOKE, "events").groupBy("event_type").count()
        out = run_stream_to_memory(spark, agg, checkpoint_dir=ckpt, output_mode="update")
        assert out.count() > 0
        meta = spark.read.format("state-metadata").load(ckpt).collect()
        assert [r["numPartitions"] for r in meta] == [DRAIN_SHUFFLE_PARTITIONS]
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, saved)


def test_transform_with_state_type_counts(spark, tmp_path):
    """transformWithStateInPandas (MapState per user): final emitted counts
    per (user, event_type) must equal the batch groupBy. Requires the
    RocksDB state store provider, and protobuf for the state-server
    protocol (absent in this container → skip; the operator itself is
    plain PySpark and runs wherever pyspark[connect] deps are installed)."""
    pytest.importorskip("google.protobuf")
    from kafka_stream_job_spark.streaming.pipeline import (
        transform_with_state_type_counts,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = run_stream_to_memory(
            spark,
            transform_with_state_type_counts(stream_table(spark, SF_SMOKE, "events")),
            "tws_type_counts",
            str(tmp_path / "ckpt"),
            output_mode="append",
        )
        # counts are monotone; the max per key is the final value
        final = {
            (r["user_id"], r["event_type"]): r["n"]
            for r in out.groupBy("user_id", "event_type")
            .agg(F.max("n_events").alias("n"))
            .collect()
        }
        events = load_table(spark, SF_SMOKE, "events")
        want = {
            (r["user_id"], r["event_type"]): r["count"]
            for r in events.groupBy("user_id", "event_type").count().collect()
        }
        assert final == want
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_bronze_stream_end_to_end_with_checkpoint_and_monitor(spark, tmp_path):
    """Full reference shape in-sandbox: binary payloads → streaming decode
    → enrich → sink with checkpoint; L1 listener attached; afterwards the
    checkpoint offset log parses with our reader (dev.md:15-21 inspection,
    automated)."""
    events = load_table(spark, SF_SMOKE, "events")
    raw_dir = str(tmp_path / "raw")
    events.select(
        F.encode(
            F.to_json(F.struct("event_id", "user_id", "event_type", "value")), "UTF-8"
        ).alias("value")
    ).write.parquet(raw_dir)

    from pyspark.sql import types as T

    raw_stream = spark.readStream.schema(
        T.StructType([T.StructField("value", T.BinaryType())])
    ).parquet(raw_dir)
    decoded = decode_events(
        raw_stream,
        payload_format="json",
        struct_schema=_EVENT_PAYLOAD_STRUCT,
        source_tag="kafka-stream",
    )

    monitor = LiveDataLossMonitor(lambda tps: {})
    spark.streams.addListener(monitor)
    ckpt = str(tmp_path / "ckpt")
    try:
        out = run_stream_to_memory(spark, decoded, "bronze_stream", ckpt)
        assert out.count() == events.count()
        assert set(out.columns) == {
            "event_id", "user_id", "event_type", "value", "ingested_at", "source",
        }
        assert out.filter(F.col("source") != "kafka-stream").count() == 0
    finally:
        spark.streams.removeListener(monitor)

    # checkpoint offset log is real and parseable by our reader
    batches = list_offset_batches(ckpt)
    assert batches, "no offsets files written"
    meta, _ = read_offsets_file(batches[-1][1])
    assert "batchWatermarkMs" in meta
    # file source is not KafkaV2 → the monitor must report nothing
    assert monitor.events == []


def test_left_outer_stream_stream_join_emits_unmatched(spark, tmp_path):
    """Left-outer stream-stream join: matched rows must equal the batch
    inner join; null-joined purchases must (a) all be genuinely unmatched
    in batch semantics and (b) actually appear for purchases safely below
    the final watermark — the outer-join eviction path works."""
    from kafka_stream_job_spark.streaming.pipeline import unattributed_purchases_stream

    query = (
        unattributed_purchases_stream(
            stream_table(spark, SF_SMOKE, "events"),
            stream_table(spark, SF_SMOKE, "events"),
        )
        .writeStream.format("memory")
        .queryName("unattributed_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        watermark_str = (query.lastProgress or {}).get("eventTime", {}).get("watermark")
    finally:
        query.stop()
    out = spark.table("unattributed_stream")

    events = load_table(spark, SF_SMOKE, "events")
    touches = events.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), F.col("event_id").alias("purchase_id")
    )
    cond = (
        (F.col("user_id") == F.col("t_user"))
        & (F.col("touch_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("touch_ts") + F.expr("INTERVAL 30 minutes"))
    )
    batch_matched = {
        tuple(r)
        for r in purchases.join(touches, cond)
        .select("purchase_id", "touch_id")
        .collect()
    }
    stream_matched = {
        tuple(r)
        for r in out.filter(F.col("touch_id").isNotNull())
        .select("purchase_id", "touch_id")
        .collect()
    }
    assert stream_matched == batch_matched and len(stream_matched) > 0

    batch_unmatched = {
        r["purchase_id"]
        for r in purchases.join(touches, cond, "left_anti").collect()
    }
    stream_null = {
        r["purchase_id"] for r in out.filter(F.col("touch_id").isNull()).collect()
    }
    assert stream_null <= batch_unmatched

    # every unmatched purchase comfortably below the final watermark must
    # have been emitted with a NULL touch (1h margin on top of the horizon)
    if watermark_str:
        import datetime

        wm = datetime.datetime.fromisoformat(watermark_str.replace("Z", "+00:00"))
        safe = wm.replace(tzinfo=None) - datetime.timedelta(hours=1, minutes=30)
        must_emit = {
            r["purchase_id"]
            for r in purchases.join(touches, cond, "left_anti")
            .filter(F.col("purchase_ts") < F.lit(safe))
            .collect()
        }
        assert must_emit <= stream_null and len(must_emit) > 0


def test_trigger_available_now_drains_and_self_terminates(spark, tmp_path):
    """Trigger.AvailableNow — the production backfill twin of the Q1
    drain barrier (processAllAvailable, KafkaAvroToIceberg.scala:104):
    process everything available in rate-limited micro-batches, then stop
    on its own. The query must self-terminate AND deliver exactly the
    batch row count."""
    df = stream_table(spark, SF_SMOKE, "events")
    q = (
        df.writeStream.format("memory")
        .queryName("avnow_drain")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(120), "availableNow query must self-terminate"
    assert not q.isActive
    expected = load_table(spark, SF_SMOKE, "events").count()
    assert spark.table("avnow_drain").count() == expected


def test_observed_metrics_surface_in_progress(spark, tmp_path):
    """df.observe metrics ride the streaming progress feed: every
    micro-batch reports its own row count, summing to the input size —
    per-batch data-quality accounting without a second scan."""
    from kafka_stream_job_spark.monitors import observe_rows

    df = observe_rows(stream_table(spark, SF_SMOKE, "events"), "events_metrics")
    q = (
        df.writeStream.format("memory")
        .queryName("observed_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        progresses = q.recentProgress
    finally:
        q.stop()
    observed = [
        p["observedMetrics"]["events_metrics"]
        for p in progresses
        if p.get("observedMetrics", {}).get("events_metrics")
    ]
    assert observed, "no micro-batch reported observed metrics"
    total = sum(m["n_rows"] for m in observed)
    assert total == load_table(spark, SF_SMOKE, "events").count()
    assert all(m["n_null_key"] == 0 for m in observed)


def test_observe_batch_via_observation(spark):
    """Same observe helper on a BATCH read via pyspark Observation — one
    pass yields both the data and its metrics."""
    from pyspark.sql import Observation

    from pyspark.sql import functions as F

    events = load_table(spark, SF_SMOKE, "events")
    obs = Observation("batch_metrics")
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("event_id").isNull(), 1).otherwise(0)).alias(
            "n_null_key"
        ),
    )
    n = observed.count()
    assert obs.get["n_rows"] == n
    assert obs.get["n_null_key"] == 0


def test_max_files_per_trigger_paces_micro_batches(spark, tmp_path):
    """Source rate limiting: with the input staged as N files and
    maxFilesPerTrigger=1, the drain takes N micro-batches, each bounded —
    the backpressure knob that keeps 100 TB backfills from loading one
    giant first batch (with Kafka the same role is played by
    maxOffsetsPerTrigger)."""
    src_dir = str(tmp_path / "split_events")
    events = load_table(spark, SF_SMOKE, "events")
    n_files = 4
    events.repartition(n_files).write.parquet(src_dir)
    total = events.count()

    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("paced_drain")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert spark.table("paced_drain").count() == total
    assert len(progresses) >= n_files, "rate limit must split the drain"
    assert max(p["numInputRows"] for p in progresses) < total


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """Stop/restart recovery: a stream drains part of the input, stops,
    more input arrives, and a NEW query over the SAME checkpoint resumes
    — the final sink holds every input row exactly once (no re-emission
    of pre-restart batches, no loss of post-restart files). This is the
    end-to-end exactly-once contract the reference delegates to
    checkpoint + Iceberg (KafkaAvroToIceberg.scala:92-100), driven
    through the _SUCCESS-gated idempotent parquet sink."""
    from kafka_stream_job_spark.streaming.pipeline import (
        foreach_batch_idempotent_append,
    )

    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    first, second = (
        events.filter(F.col("event_id") % 2 == 0),
        events.filter(F.col("event_id") % 2 == 1),
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(foreach_batch_idempotent_append(out))
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()  # phase 1: first half committed
    n_first = spark.read.parquet(out).count()
    assert n_first == first.count()

    second.coalesce(1).write.mode("append").parquet(src)  # new data arrives
    run_once()  # phase 2: NEW query, same checkpoint → resumes

    got = {tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()}
    want = {tuple(r) for r in events.collect()}
    assert got == want, "restart must neither duplicate nor lose rows"


def test_chained_windows_stream_equals_batch_full_days(spark, tmp_path):
    """Chained hourly→daily windowed aggs in ONE streaming query (two
    stateful operators): the drained append-mode output must equal the
    batch daily rollup restricted to the emission frontier (day end ≤
    max(ts) − 1 h watermark)."""
    from kafka_stream_job_spark.streaming.pipeline import (
        _stage_with_heartbeat,
        chained_daily_rollup_stream,
    )

    stage = _stage_with_heartbeat(SF_SMOKE)
    out = run_stream_to_memory(
        spark,
        chained_daily_rollup_stream(spark, stage),
        "chained_windows_stream",
        str(tmp_path / "ckpt"),
        output_mode="append",
    ).collect()
    events = load_table(spark, SF_SMOKE, "events")
    maxts = events.agg(F.max("ts")).collect()[0][0]
    batch = (
        events.groupBy(
            F.date_trunc("day", "ts").alias("d"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct(F.date_trunc("hour", "ts"))
            .cast("long")
            .alias("n_active_hours"),
        )
        .filter(F.col("d") + F.expr("INTERVAL 1 DAY") <= F.lit(maxts) - F.expr("INTERVAL 1 HOUR"))
        .select(
            F.col("d").cast("date").cast("string").alias("day_ts"),
            "event_type",
            "n_events",
            "n_active_hours",
        )
        .collect()
    )
    assert sorted(map(tuple, out)) == sorted(map(tuple, batch))
    assert out, "emission frontier produced no full days"


def test_union_sources_checkpoint_tracks_two_sources(spark, tmp_path):
    """A two-source union query must keep per-source offsets in ONE
    checkpoint: the offset log's final batch carries two source entries,
    and the drained rollup equals the batch rollup (nothing lost or
    duplicated across sources)."""
    from kafka_stream_job_spark.sources.offsetlog import register_offsetlog_source
    from kafka_stream_job_spark.streaming.pipeline import (
        _stage_split_halves,
        union_sources_rollup_stream,
    )

    stage = _stage_split_halves(SF_SMOKE)
    ckpt = str(tmp_path / "ckpt")
    out = run_stream_to_memory(
        spark,
        union_sources_rollup_stream(spark, stage),
        "union_sources_stream",
        ckpt,
        output_mode="complete",
    )
    batch = (
        events_hourly_rollup(spark, SF_SMOKE)
        .withColumnRenamed("n_events", "n_events")
        .collect()
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch))
    register_offsetlog_source(spark)
    log = (
        spark.read.format("ksj_offsetlog").option("path", ckpt).load().collect()
    )
    assert log, "offset log empty"
    last_batch = max(r["batch_id"] for r in log)
    assert sum(1 for r in log if r["batch_id"] == last_batch) == 2


def test_rocksdb_state_store_provider_rollup_equals_batch(spark, tmp_path):
    """The RocksDB state store provider (the 100 TB state backend this
    repo's scale notes point to) must be drop-in: the same watermarked
    rollup drained under RocksDBStateStoreProvider equals the batch
    twin. Conf, not code — but proven here, not just claimed."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = run_stream_to_memory(
            spark,
            hourly_rollup_stream(stream_table(spark, SF_SMOKE, "events")),
            "rocksdb_rollup_stream",
            str(tmp_path / "ckpt"),
            output_mode="complete",
        ).collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    batch = events_hourly_rollup(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, batch))


def test_stateful_agg_checkpoint_restart_resume(spark, tmp_path):
    """Exactly-once across a RESTART: a watermarked stateful rollup in
    update mode runs against a staging dir with one file, stops, a second
    file arrives, and a NEW query resumes from the SAME checkpoint. The
    resumed query must (a) not reprocess file 1 (its offsets are
    committed), (b) restore the aggregation state (counts continue, not
    restart), and (c) leave the idempotent sink equal to the batch
    rollup over both files."""
    import duckdb

    from kafka_stream_job_spark.streaming.pipeline import (
        foreach_batch_idempotent_append,
    )

    src = os.path.join(SF_SMOKE, "events.parquet")
    stage = tmp_path / "stage"
    stage.mkdir()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{src}')")
    # split by EVENT TIME (median, mid-hour) so run 2's rows sit above
    # run 1's final watermark — a real backfill arrives in time order;
    # an event_id-parity split would make ALL of file 1 late data and
    # test the (already-covered) drop path instead of state restore. The
    # boundary hour receives rows from BOTH runs, which is what proves
    # the aggregation state actually carried across the restart.
    con.execute(
        "CREATE VIEW split AS SELECT quantile_disc(ts, 0.5) AS t_mid FROM ev"
    )
    con.execute(
        f"COPY (SELECT ev.* FROM ev, split WHERE ts < t_mid)"
        f" TO '{stage}/f0.parquet' (FORMAT PARQUET)"
    )
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_available():
        schema = spark.read.parquet(str(stage)).schema
        s = spark.readStream.schema(schema).parquet(str(stage))
        from pyspark.sql import types as T

        if isinstance(schema["ts"].dataType, T.TimestampNTZType):
            s = s.withColumn("ts", F.col("ts").cast("timestamp"))
        rolled = (
            s.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("win.start").cast("string").alias("hour_ts"),
                "event_type",
                "n_events",
            )
        )
        q = (
            rolled.writeStream.foreachBatch(
                foreach_batch_idempotent_append(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run_available()  # run 1: file 0 only, then self-terminate (a "crash")
    con.execute(
        f"COPY (SELECT ev.* FROM ev, split WHERE ts >= t_mid)"
        f" TO '{stage}/f1.parquet' (FORMAT PARQUET)"
    )
    run_available()  # run 2: resumes from the committed checkpoint

    # offsets log must show run 2 started AFTER file 0 (no reprocessing)
    batches = list_offset_batches(ckpt)
    assert len(batches) >= 2
    # in UPDATE mode the per-key LATEST emission is the final count; state
    # must have carried across the restart, so the max per key equals the
    # batch rollup over BOTH files.
    got = {
        (r["hour_ts"], r["event_type"]): r["n"]
        for r in spark.read.parquet(out_dir)
        .groupBy("hour_ts", "event_type")
        .agg(F.max("n_events").alias("n"))
        .collect()
    }
    want = {
        (r["hour_ts"], r["event_type"]): r["n"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy(
            F.date_trunc("hour", "ts").cast("string").alias("hour_ts"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_upsert_state_is_batch_split_independent(spark):
    """The upsert view's last-writer-wins state must equal the batch
    max-of-(ts,event_id) reduction regardless of micro-batch
    boundaries."""
    from kafka_stream_job_spark.registry import all_specs
    from kafka_stream_job_spark.tables import load_table
    from pyspark.sql import functions as F

    from .conftest import SF_SMOKE

    got = {
        (r["user_id"], r["last_event_id"])
        for r in all_specs()["streaming_upsert_latest_state"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    events = load_table(spark, SF_SMOKE, "events")
    want = {
        (r["user_id"], r["p"]["event_id"])
        for r in events.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id")).alias("p"))
        .collect()
    }
    assert got == want


def test_semdedup_numpy_cosc_bitwise_equals_jvm(spark):
    """The streaming SemDeDup assignment (numpy per-dimension multiply-add
    in mapInPandas) must be BIT-IDENTICAL to the JVM sequential-fold
    cosine (`_dot`/`_norm`) — that identity is what lets the streaming
    twin share the batch oracle. If a numpy/BLAS change on some platform
    introduces pairwise summation or FMA into this path, near-tie
    prototypes at top-k boundaries could silently reorder; this test makes
    that failure loud (r7 advisor item)."""
    import struct as _struct

    from pyspark.sql import Window

    from kafka_stream_job_spark.operators.similarity import (
        _dot,
        _norm,
        _semdedup_centroids,
    )
    from kafka_stream_job_spark.streaming.pipeline import (
        semdedup_assign_batches_fn,
        semdedup_seq_norm,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cent_rows = _semdedup_centroids(emb).orderBy("cid").collect()
    cent_ids = [int(r["cid"]) for r in cent_rows]
    cent_embs = [[float(x) for x in r["cemb"]] for r in cent_rows]
    cent_norms = [semdedup_seq_norm(v) for v in cent_embs]

    # production numpy path, driven over the same rows as a static DF
    assign = semdedup_assign_batches_fn(cent_ids, cent_embs, cent_norms)
    got = {
        r["vec_id"]: (r["cid"], _struct.pack("<d", r["cosc"]))
        for r in emb.select("vec_id", "embedding")
        .mapInPandas(assign, "vec_id long, cid long, cosc double")
        .collect()
    }

    # JVM sequential-fold path: same argmax (ties -> lowest cid)
    cents = _semdedup_centroids(emb)
    cosc = _dot(F.col("embedding"), F.col("cemb")) / (
        _norm(F.col("embedding")) * _norm(F.col("cemb"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosc").desc(), F.col("cid").asc()
    )
    want = {
        r["vec_id"]: (r["cid"], _struct.pack("<d", r["cosc"]))
        for r in emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", cosc.alias("cosc"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert set(got) == set(want)
    diverged = {v: (got[v], want[v]) for v in got if got[v] != want[v]}
    assert not diverged, (
        f"{len(diverged)} vec_ids diverge bitwise between the numpy "
        f"mapInPandas fold and the JVM _dot/_norm cosine; first few: "
        f"{dict(list(diverged.items())[:3])}"
    )


def test_self_excitation_fold_is_arrow_chunk_order_independent(spark):
    """Regression (r10 advice): a user's micro-batch rows can span many
    Arrow chunks (arrow.maxRecordsPerBatch) whose inter-chunk order is
    arbitrary after the shuffle; the state fold must materialize and
    sort the WHOLE batch by (ts_us, event_id) before folding, not sort
    each chunk independently. Force one-row chunks so every group's
    batch crosses chunk boundaries, then pin the streaming result to
    the shared batch oracle."""
    from kafka_stream_job_spark.registry import all_specs

    from .conftest import SF_SMOKE, assert_matches_oracle

    spec = all_specs()["streaming_self_excitation"]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "1")
    try:
        df = spec.fn(spark, SF_SMOKE)
        assert_matches_oracle(
            spark, SF_SMOKE, df, spec.oracle, "streaming_self_excitation"
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

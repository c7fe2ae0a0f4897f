"""Source-format capabilities — the ingestion edges a lakehouse engine
must handle beyond clean parquet: malformed-record-tolerant CSV reads
(PERMISSIVE + corrupt-record column) and schema evolution across parquet
file generations (mergeSchema). Each stages a deterministic derived copy
of the events table under the race-free ``_staged_dir`` discipline from
tables.py, so the driver's oracle can predict every count exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_stream_job_spark.operators._portable import jvm_values_df
from kafka_stream_job_spark.registry import register
from kafka_stream_job_spark.tables import _staged_dir, load_table

CSV_CORRUPT_MOD = 500  # events with event_id % 500 == 0 are malformed


def _stage_csv(spark: SparkSession, sf_dir: str) -> str:
    src = os.path.join(sf_dir, "events.parquet")

    def build(tmp: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(src, columns=["event_id", "user_id", "event_type", "value"])
        rows = zip(*(t.column(c).to_pylist() for c in ("event_id", "user_id", "event_type", "value")))
        with open(os.path.join(tmp, "events.csv"), "w") as f:
            f.write("event_id,user_id,event_type,value\n")
            for eid, uid, etype, val in rows:
                if eid % CSV_CORRUPT_MOD == 0:
                    f.write(f"corrupted-line-without-delimiters-{eid}\n")
                else:
                    f.write(f"{eid},{uid},{etype},{val!r}\n")

    return _staged_dir("/tmp/ksj-csv-stage", src, "csv_v1", build)


# ---------------------------------------------------------------------------
# PERMISSIVE CSV READ — schema-on-read over a dirty CSV export: every
# 500th event is replaced by a delimiter-free garbage line at staging
# time, and the read runs in PERMISSIVE mode with a corrupt-record
# column, so bad lines surface as rows (null fields + the raw line)
# instead of failing the job — the bronze-layer tolerate-and-count
# contract (same posture as bronze_decode_errors for JSON payloads).
# The oracle predicts every count from the parquet source because the
# corruption rule is deterministic.
# ---------------------------------------------------------------------------
@register(
    "csv_source_permissive_read",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN event_id % {CSV_CORRUPT_MOD} = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
               CAST(SUM(CASE WHEN event_id % {CSV_CORRUPT_MOD} <> 0
                             THEN event_id ELSE 0 END) AS BIGINT)
                   AS sum_good_ids,
               CAST(SUM(CASE WHEN event_id % {CSV_CORRUPT_MOD} <> 0
                             THEN CAST(ROUND(value * 100.0) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS sum_good_cents
        FROM events
    """,
    tags=("source-format", "csv", "permissive", "events"),
)
def csv_source_permissive_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_csv(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(os.path.join(stage, "events.csv"))
    )
    good = F.col("_corrupt").isNull()
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(~good, 1).otherwise(0)).cast("long").alias("n_corrupt"),
        F.sum(F.when(good, F.col("event_id")).otherwise(0))
        .cast("long")
        .alias("sum_good_ids"),
        F.sum(
            F.when(good, F.round(F.col("value") * 100.0, 0).cast("long")).otherwise(0)
        )
        .cast("long")
        .alias("sum_good_cents"),
    )


# ---------------------------------------------------------------------------
# SCHEMA EVOLUTION (mergeSchema) — two parquet generations of the same
# table: generation v1 (even event_ids) predates the `value` column,
# generation v2 (odd event_ids) carries it. A mergeSchema read presents
# the union schema with nulls where v1 lacks the column — the
# reconciliation every long-lived lakehouse table needs. The oracle
# predicts the merged view from the source because the generation rule
# is deterministic (event_id parity).
# ---------------------------------------------------------------------------
@register(
    "schema_evolution_merge_read",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_with_value,
               CAST(SUM(event_id) AS BIGINT) AS sum_ids,
               CAST(SUM(CASE WHEN event_id % 2 = 1
                             THEN CAST(ROUND(value * 100.0) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS sum_value_cents
        FROM events
    """,
    tags=("source-format", "parquet", "schema-evolution", "events"),
)
def schema_evolution_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = os.path.join(sf_dir, "events.parquet")

    def build(tmp: str) -> None:
        events = load_table(spark, sf_dir, "events")
        v1 = events.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "user_id"
        )
        v2 = events.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "user_id", "value"
        )
        v1.write.parquet(os.path.join(tmp, "gen=v1"))
        v2.write.parquet(os.path.join(tmp, "gen=v2"))

    stage = _staged_dir("/tmp/ksj-evolve-stage", src, "evolve_v1", build)
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(stage, "gen=v1"), os.path.join(stage, "gen=v2")
    )
    return merged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("value").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_with_value"),
        F.sum("event_id").cast("long").alias("sum_ids"),
        F.sum(
            F.coalesce(F.round(F.col("value") * 100.0, 0).cast("long"), F.lit(0))
        )
        .cast("long")
        .alias("sum_value_cents"),
    )


# ---------------------------------------------------------------------------
# ORC ROUND-TRIP — the third columnar format (parquet, CSV, ORC): stage
# the events table as ORC once, read it back, and checksum. ORC uses a
# different encoder stack (RLEv2, dictionary) — the round-trip proves
# values survive it bit-for-bit for longs and to-the-cent for doubles.
# ---------------------------------------------------------------------------
@register(
    "orc_source_roundtrip",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS sum_ids,
               CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        FROM events
    """,
    tags=("source-format", "orc", "events"),
)
def orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = os.path.join(sf_dir, "events.parquet")

    def build(tmp: str) -> None:
        load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        ).write.orc(os.path.join(tmp, "events_orc"))

    stage = _staged_dir("/tmp/ksj-orc-stage", src, "orc_v1", build)
    df = spark.read.orc(os.path.join(stage, "events_orc"))
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("event_id").cast("long").alias("sum_ids"),
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# HIVE-PARTITIONED WRITE + PARTITION-PRUNED READ — stage events
# partitioned by event_type (the layout that turns a predicate into
# directory pruning), then read back ONLY two types. The plan must show
# the predicate as a PartitionFilter (zero data files of other types
# opened — asserted in test_plans.py); the oracle predicts the filtered
# aggregate from the unpartitioned source.
# ---------------------------------------------------------------------------
PRUNE_TYPES = ("purchase", "click")


def partitioned_events_stage(spark: SparkSession, sf_dir: str) -> str:
    src = os.path.join(sf_dir, "events.parquet")

    def build(tmp: str) -> None:
        load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        ).write.partitionBy("event_type").parquet(os.path.join(tmp, "events_part"))

    return _staged_dir("/tmp/ksj-part-stage", src, "part_v1", build)


@register(
    "partitioned_source_pruned_read",
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS sum_ids
        FROM events
        WHERE event_type IN {PRUNE_TYPES!r}
        GROUP BY event_type
    """.replace('"', "'"),
    tags=("source-format", "partition-pruning", "events"),
)
def partitioned_source_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = partitioned_events_stage(spark, sf_dir)
    df = spark.read.parquet(os.path.join(stage, "events_part"))
    return (
        df.filter(F.col("event_type").isin(*PRUNE_TYPES))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("event_id").cast("long").alias("sum_ids"),
        )
    )


# ---------------------------------------------------------------------------
# CUSTOM-SOURCE PARTITION PRUNING — the same hive-partitioned staging as
# partitioned_source_pruned_read, but read through the ksj_hive_events
# custom Python DataSource (sources/hivepart.py): the event_type IN
# filter reaches the source's pushFilters hook, which CONSUMES it and
# never lists the non-matching event_type= directories into the plan —
# partition pruning as a connector capability, not a Catalyst favor.
# The value>0 predicate is deliberately NOT source-handled, so the query
# also exercises the consumed/returned filter split. Oracle is the plain
# WHERE on events; tests/test_datasources.py asserts the pruning itself
# (planned partitions shrink, consumed filters not re-returned).
# ---------------------------------------------------------------------------
@register(
    "hive_source_partition_pruned",
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS sum_ids,
               CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events
        WHERE event_type IN {PRUNE_TYPES!r} AND value > 0
        GROUP BY event_type
    """.replace('"', "'"),
    tags=("source-format", "datasource", "connector", "partition-pruning", "events"),
)
def hive_source_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.sources.hivepart import register_hivepart_source

    stage = partitioned_events_stage(spark, sf_dir)
    register_hivepart_source(spark)
    df = (
        spark.read.format("ksj_hive_events")
        .option("path", os.path.join(stage, "events_part"))
        .load()
        .filter(F.col("event_type").isin(*PRUNE_TYPES) & (F.col("value") > 0))
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("event_id").cast("long").alias("sum_ids"),
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# XML DECODE ROUND-TRIP — from_xml (new in Spark 4's SQL surface):
# serialize each event to an XML fragment, parse it back with an
# explicit schema, and checksum the parsed fields. DuckDB has no XML
# parser, so the oracle predicts the identity round-trip from the
# source — any parser asymmetry (whitespace, numeric coercion,
# attribute vs element) breaks the hash.
# ---------------------------------------------------------------------------
@register(
    "xml_decode_roundtrip",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS sum_ids,
               CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        FROM events
    """,
    tags=("source-format", "xml", "events"),
)
def xml_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    xml = F.concat(
        F.lit('<event id="'),
        F.col("event_id").cast("string"),
        F.lit('"><type>'),
        F.col("event_type"),
        F.lit("</type><cents>"),
        F.round(F.col("value") * 100.0, 0).cast("long").cast("string"),
        F.lit("</cents></event>"),
    )
    parsed = events.select(
        F.from_xml(xml, "_id BIGINT, type STRING, cents BIGINT").alias("x")
    )
    return parsed.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("x._id").cast("long").alias("sum_ids"),
        F.sum("x.cents").cast("long").alias("sum_cents"),
        F.countDistinct("x.type").cast("long").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# CUSTOM PYTHON SINK — write events through the ksj_audit DataSource
# (sources/auditsink.py): per-task executor-side counting, commit
# messages to the driver, one atomic JSON manifest on commit. The query
# then reads the manifest back — proving the write path's
# commit-message accounting matches the source exactly.
# (n_tasks is partitioning-dependent, so the audit's deterministic
# fields are what the oracle checks.)
# ---------------------------------------------------------------------------
@register(
    "custom_sink_audit_roundtrip",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS id_sum
        FROM events
    """,
    tags=("source-format", "custom-sink", "datasource-api", "events"),
)
def custom_sink_audit_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import shutil
    import tempfile

    from kafka_stream_job_spark.sources.auditsink import AuditDataSource

    try:
        spark.dataSource.register(AuditDataSource)
    except Exception:
        pass  # already registered in this session
    audit_dir = tempfile.mkdtemp(prefix="ksj-audit-sink-")
    path = os.path.join(audit_dir, "audit.json")
    try:
        events = load_table(spark, sf_dir, "events").select("event_id")
        events.write.format("ksj_audit").option("path", path).mode(
            "append"
        ).save()
        with open(path) as f:
            audit = json.load(f)
    finally:
        shutil.rmtree(audit_dir, ignore_errors=True)
    return jvm_values_df(
        spark, [(int(audit["n_rows"]), int(audit["id_sum"]))], "n_rows LONG, id_sum LONG"
    )


# ---------------------------------------------------------------------------
# STREAMING CSV SOURCE — the dirty CSV export consumed through
# Structured Streaming (readStream.csv over the same staged directory
# as the batch PERMISSIVE query, corrupt lines included): the rollup
# counts per event type among GOOD rows only, proving the
# tolerate-and-count contract holds on the streaming path too. Drained
# with the bounded-drain discipline; oracle predicts from the parquet
# source minus the deterministic corruption set.
# ---------------------------------------------------------------------------
@register(
    "streaming_csv_source_rollup",
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS sum_ids
        FROM events
        WHERE event_id % {CSV_CORRUPT_MOD} <> 0
        GROUP BY event_type
    """,
    tags=("streaming", "source-format", "csv", "events"),
)
def streaming_csv_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.streaming.pipeline import run_stream_to_memory

    stage = _stage_csv(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    src = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(stage)
    )
    rolled = (
        src.filter(F.col("_corrupt").isNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("event_id").cast("long").alias("sum_ids"),
        )
    )
    return run_stream_to_memory(spark, rolled, output_mode="complete")


# ---------------------------------------------------------------------------
# PERMISSIVE JSON-LINES READ — the third member of the tolerate-and-count
# trio (JSON payloads: bronze_decode_errors; CSV lines:
# csv_source_permissive_read): a JSONL export where every 500th event is
# truncated mid-object at staging time, read in PERMISSIVE mode with a
# corrupt-record column. JSONL adds the failure modes CSV cannot
# express — type drift inside a well-formed line (value sometimes a
# quoted string: read through a STRING-typed field + cast, since a
# double-typed field rejects quoted numbers as corrupt) and structural
# truncation (unclosed brace → corrupt row). The oracle predicts every
# aggregate from the parquet source because both corruption rules are
# deterministic.
# ---------------------------------------------------------------------------
JSONL_CORRUPT_MOD = 500  # truncated mid-object
JSONL_STRINGY_MOD = 7  # value serialized as a JSON string, not a number


def _stage_jsonl(spark: SparkSession, sf_dir: str) -> str:
    src = os.path.join(sf_dir, "events.parquet")

    def build(tmp: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(src, columns=["event_id", "user_id", "event_type", "value"])
        rows = zip(
            *(
                t.column(c).to_pylist()
                for c in ("event_id", "user_id", "event_type", "value")
            )
        )
        with open(os.path.join(tmp, "events.jsonl"), "w") as f:
            for eid, uid, etype, val in rows:
                if eid % JSONL_CORRUPT_MOD == 0:
                    f.write(f'{{"event_id": {eid}, "user_id": {uid}\n')
                elif eid % JSONL_STRINGY_MOD == 0:
                    f.write(
                        f'{{"event_id": {eid}, "user_id": {uid}, '
                        f'"event_type": "{etype}", "value": "{val!r}"}}\n'
                    )
                else:
                    f.write(
                        f'{{"event_id": {eid}, "user_id": {uid}, '
                        f'"event_type": "{etype}", "value": {val!r}}}\n'
                    )

    return _staged_dir("/tmp/ksj-jsonl-stage", src, "jsonl_v1", build)


@register(
    "jsonl_source_permissive_read",
    oracle=f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN event_id % {JSONL_CORRUPT_MOD} = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
               CAST(SUM(CASE WHEN event_id % {JSONL_CORRUPT_MOD} <> 0
                              AND event_id % {JSONL_STRINGY_MOD} = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_stringy,
               CAST(SUM(CASE WHEN event_id % {JSONL_CORRUPT_MOD} <> 0
                             THEN event_id ELSE 0 END) AS BIGINT)
                   AS sum_good_ids,
               CAST(SUM(CASE WHEN event_id % {JSONL_CORRUPT_MOD} <> 0
                             THEN CAST(ROUND(value * 100.0) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS sum_good_cents
        FROM events
    """,
    tags=("source-format", "json", "permissive", "events"),
)
def jsonl_source_permissive_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_jsonl(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            # string-typed on purpose: accepts BOTH json numbers and
            # quoted numbers; the cast below recovers the double
            T.StructField("value", T.StringType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(os.path.join(stage, "events.jsonl"))
    )
    good = F.col("_corrupt").isNull()
    stringy = good & (F.col("event_id") % JSONL_STRINGY_MOD == 0)
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(~good, 1).otherwise(0)).cast("long").alias("n_corrupt"),
        F.sum(F.when(stringy, 1).otherwise(0)).cast("long").alias("n_stringy"),
        F.sum(F.when(good, F.col("event_id")).otherwise(0))
        .cast("long")
        .alias("sum_good_ids"),
        F.sum(
            F.when(
                good,
                F.round(F.col("value").cast("double") * 100.0, 0).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("sum_good_cents"),
    )


# ---------------------------------------------------------------------------
# HIDDEN FILE-METADATA COLUMNS — the `_metadata` struct every file-based
# scan carries (file_path/file_name/file_size/...), grouped per
# generation file of the schema-evolution stage: the "which file did
# this row come from" surface that debugging a bad-file incident or
# building file-level audit marts needs, without input_file_name()'s
# non-deterministic UDF caveats. The generation is recovered from
# _metadata.file_path (gen=v1 holds even event_ids, gen=v2 odd — the
# same deterministic rule schema_evolution_merge_read stages), so the
# oracle predicts per-file row counts and id sums from the parquet
# source without knowing any physical path. Metadata columns are
# populated at scan time — no join, no extra I/O.
# ---------------------------------------------------------------------------
@register(
    "file_metadata_columns_read",
    oracle="""
        SELECT 'v1' AS gen,
               CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN event_id % 2 = 0 THEN event_id ELSE 0 END)
                    AS BIGINT) AS sum_ids,
               CAST(1 AS BIGINT) AS n_files
        FROM events
        UNION ALL
        SELECT 'v2',
               CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(SUM(CASE WHEN event_id % 2 = 1 THEN event_id ELSE 0 END)
                    AS BIGINT),
               CAST(1 AS BIGINT)
        FROM events
    """,
    tags=("source-format", "metadata-columns", "parquet", "events"),
)
def file_metadata_columns_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = os.path.join(sf_dir, "events.parquet")

    def build(tmp: str) -> None:
        events = load_table(spark, sf_dir, "events")
        v1 = events.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "user_id"
        )
        v2 = events.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "user_id", "value"
        )
        # coalesce(1): exactly one data file per generation, so n_files
        # is deterministic for the oracle
        v1.coalesce(1).write.parquet(os.path.join(tmp, "gen=v1"))
        v2.coalesce(1).write.parquet(os.path.join(tmp, "gen=v2"))

    stage = _staged_dir("/tmp/ksj-filemeta-stage", src, "filemeta_v1", build)
    df = spark.read.option("mergeSchema", True).parquet(
        os.path.join(stage, "gen=v1"), os.path.join(stage, "gen=v2")
    )
    return (
        df.select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"gen=(v[12])", 1
            ).alias("gen"),
            "event_id",
            F.col("_metadata.file_name").alias("fname"),
        )
        .groupBy("gen")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("event_id").cast("long").alias("sum_ids"),
            F.count_distinct(F.col("fname")).cast("long").alias("n_files"),
        )
    )


# ---------------------------------------------------------------------------
# BUCKETED-TABLE CO-LOCATED JOIN — the shuffle-free join story no other
# registry query exercises: orders and customer are written ONCE as
# external parquet tables bucketed (and sorted) on the join key with the
# SAME bucket count, so Catalyst plans the SortMergeJoin with ZERO
# Exchange on either side — the output partitioning of the bucketed scans
# already satisfies the join's distribution requirement. This is the
# canonical 100 TB pattern for a fact-to-fact (or repeated fact-to-dim)
# join that is too big to broadcast: pay the shuffle once at layout time,
# then every downstream join of the two tables is shuffle-free forever.
# tests/test_plans.py pins the physical plan (no Exchange above either
# bucketed scan, Bucketed: true on both); the oracle is the plain join.
#
# Scale note: coalesce(1) before the bucketed write yields ONE file per
# bucket here (deterministic layout); at 100 TB you keep many files per
# bucket (one per writer task) — the Exchange elimination keys off the
# bucket count alone, not the file count. The per-partition SMJ Sort
# remains in both cases (Spark does not trust sortBy metadata across
# files for read-side sort elimination); it is a local, spillable sort
# of one bucket's rows, not a shuffle.
# ---------------------------------------------------------------------------
N_BUCKETS = 8
_BUCKET_STAGE_LOCK = __import__("threading").Lock()


def bucketed_tables_stage(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Create (once per process+source generation) external bucketed
    copies of orders and customer, both bucketed+sorted on custkey with
    ``N_BUCKETS`` buckets, and return their catalog table names.

    Bucket specs live in the session catalog (parquet files alone don't
    carry them), so the stage is keyed by pid as well as the source's
    (mtime, size): each process writes its own private copy under /tmp
    and never touches another process's files mid-read. The lock
    serializes the threaded oracle sweep's first call.
    """
    st = os.stat(os.path.join(sf_dir, "orders.parquet"))
    key = f"{st.st_mtime_ns}_{st.st_size}_{os.getpid()}"
    specs = (
        (f"ksj_orders_bkt_{key}", "orders", "o_custkey",
         ("o_orderkey", "o_custkey", "o_totalprice")),
        (f"ksj_customer_bkt_{key}", "customer", "c_custkey",
         ("c_custkey", "c_mktsegment")),
    )
    with _BUCKET_STAGE_LOCK:
        for name, table, bucket_col, cols in specs:
            if spark.catalog.tableExists(name):
                continue
            (
                load_table(spark, sf_dir, table)
                .select(*cols)
                .coalesce(1)
                .write.format("parquet")
                .bucketBy(N_BUCKETS, bucket_col)
                .sortBy(bucket_col)
                .option("path", f"/tmp/ksj-bucket-stage/{name}")
                .mode("overwrite")
                .saveAsTable(name)
            )
    return specs[0][0], specs[1][0]


@register(
    "bucketed_join_colocated",
    oracle="""
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    tags=("storage-layout", "bucketing", "join", "orders", "customer"),
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    o_name, c_name = bucketed_tables_stage(spark, sf_dir)
    o, c = spark.table(o_name), spark.table(c_name)
    # merge hint: the point is the bucketed SMJ; without it AQE would
    # broadcast customer at test SFs and hide the layout win under test
    joined = o.hint("merge").join(c, o.o_custkey == c.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# ORPHAN-FILE AUDIT — the storage-maintenance check behind Iceberg's
# remove_orphan_files / Delta VACUUM: files physically present in a
# table's data directory that NO committed manifest references (crashed
# writers, aborted compactions) waste storage and, worse, get picked up
# by naive directory-listing readers. Staged fixture: one parquet file
# per event type plus a manifest that deliberately omits the 'error'
# and 'signup' files — the deterministic stand-ins for uncommitted
# writer output. The audit lists ACTUAL files (binaryFile metadata scan,
# content column pruned — only paths ship), anti-joins the manifest,
# then quantifies each orphan's row payload by reading the data dir with
# the _metadata.file_name hidden column and semi-joining the orphan set.
# Scale shape: listings and manifests are metadata-sized (broadcast);
# the only data-sized pass is the row-count aggregate, which prunes to
# one column + hidden metadata. In production the listing comes from the
# catalog's snapshot API instead of binaryFile — the audit joins stay
# identical.
# ---------------------------------------------------------------------------
_ORPHAN_TYPES = ("error", "signup")  # files written but never committed


def orphan_stage(spark: SparkSession, sf_dir: str) -> str:
    src = os.path.join(sf_dir, "events.parquet")

    def build(tmp: str) -> None:
        import json

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(src, columns=["event_id", "event_type"])
        data_dir = os.path.join(tmp, "data")
        os.makedirs(data_dir)
        types = sorted(set(t.column("event_type").to_pylist()))
        with open(os.path.join(tmp, "manifest.json"), "w") as mf:
            for et in types:
                fname = f"part-{et}.parquet"
                pq.write_table(
                    t.filter(pc.equal(t.column("event_type"), et)),
                    os.path.join(data_dir, fname),
                )
                if et not in _ORPHAN_TYPES:
                    mf.write(json.dumps({"file_name": fname}) + "\n")

    return _staged_dir("/tmp/ksj-orphan-stage", src, "orphan_v1", build)


@register(
    "orphan_file_audit",
    oracle=f"""
        WITH per_type AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM events GROUP BY 1
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_actual_files,
                   CAST(SUM(CASE WHEN event_type IN
                            {tuple(_ORPHAN_TYPES)!r}
                            THEN 0 ELSE 1 END) AS BIGINT) AS n_manifest_files,
                   CAST(SUM(CASE WHEN event_type IN
                            {tuple(_ORPHAN_TYPES)!r}
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_files
            FROM per_type
        )
        SELECT 'part-' || p.event_type || '.parquet' AS file_name,
               p.n_rows AS n_orphan_rows,
               s.n_actual_files, s.n_manifest_files, s.n_orphan_files
        FROM per_type p CROSS JOIN stats s
        WHERE p.event_type IN {tuple(_ORPHAN_TYPES)!r}
    """,
    tags=("storage", "maintenance", "audit", "events"),
)
def orphan_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = orphan_stage(spark, sf_dir)
    actual = (
        spark.read.format("binaryFile")
        .load(os.path.join(stage, "data"))
        .select(
            F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("file_name")
        )
    )
    manifest = spark.read.schema("file_name string").json(
        os.path.join(stage, "manifest.json")
    )
    orphans = actual.join(F.broadcast(manifest), "file_name", "left_anti")
    stats = (
        actual.agg(F.count(F.lit(1)).cast("long").alias("n_actual_files"))
        .crossJoin(
            F.broadcast(
                manifest.agg(
                    F.count(F.lit(1)).cast("long").alias("n_manifest_files")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                orphans.agg(
                    F.count(F.lit(1)).cast("long").alias("n_orphan_files")
                )
            )
        )
    )
    rows = (
        spark.read.parquet(os.path.join(stage, "data"))
        .select(F.col("_metadata.file_name").alias("file_name"))
        .join(F.broadcast(orphans), "file_name", "left_semi")
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orphan_rows"))
    )
    return rows.crossJoin(F.broadcast(stats))


# ---------------------------------------------------------------------------
# FIXED-WIDTH SOURCE READ — the mainframe/COBOL-export format every
# lakehouse ingests eventually: no delimiters, columns live at byte
# offsets. Staged deterministically from orders (orderkey 12 / custkey
# 10 / status 1 / price-cents 12, zero-padded), read back as `text`
# lines + substring projection — schema-on-read as pure column slicing,
# which Catalyst collapses into the scan projection. The oracle predicts
# every number from the parquet source because staging is injective.
# Parse errors surface as NULLs via try_cast (permissive posture, same
# as csv/jsonl).
# ---------------------------------------------------------------------------
FW_WIDTHS = (12, 10, 1, 12)  # orderkey, custkey, status, price cents


def _stage_fixed_width(spark: SparkSession, sf_dir: str) -> str:
    src = os.path.join(sf_dir, "orders.parquet")

    def build(tmp: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(
            src, columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        )
        rows = zip(
            *(
                t.column(c).to_pylist()
                for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
            )
        )
        with open(os.path.join(tmp, "orders.fw"), "w") as f:
            for okey, ckey, status, price in rows:
                cents = int(price * 100 + (0.5 if price >= 0 else -0.5))
                f.write(f"{okey:012d}{ckey:010d}{status:1s}{cents:012d}\n")

    return _staged_dir("/tmp/ksj-fw-stage", src, "fw_v1", build)


@register(
    "fixed_width_source_read",
    oracle="""
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkeys,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("source-format", "fixed-width", "orders"),
)
def fixed_width_source_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_fixed_width(spark, sf_dir)
    o_k, o_c, o_s = FW_WIDTHS[0], FW_WIDTHS[1], FW_WIDTHS[2]
    lines = spark.read.text(os.path.join(stage, "orders.fw"))
    parsed = lines.select(
        F.substring("value", 1, o_k).try_cast("long").alias("orderkey"),
        F.substring("value", o_k + o_c + 1, o_s).alias("status"),
        F.substring("value", o_k + o_c + o_s + 1, FW_WIDTHS[3])
        .try_cast("long")
        .alias("cents"),
    )
    return parsed.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("orderkey").cast("long").alias("sum_orderkeys"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# BINARY-FILE SOURCE — Spark's `binaryFile` format as a first-class
# source for multimodal blob ingestion: one .bin file per sampled
# document is staged (content = the document's UTF-8 bytes; the
# _staged_dir discipline keys the dir by source mtime and keeps it
# immutable), read back with spark.read.format("binaryFile") +
# pathGlobFilter, and fingerprinted. The oracle recomputes filename,
# byte length, and md5 straight from the generative model (ASCII text ⇒
# byte length == char length, and DuckDB md5(VARCHAR) hashes the same
# UTF-8 bytes Spark's md5(binary) sees). At 100 TB this is the pattern
# for image/audio lake ingestion: listing parallelizes across executors,
# and content never passes through the driver.
# ---------------------------------------------------------------------------
BLOB_SAMPLE_MOD = 10  # stage every 10th document as a blob file


def _stage_blobs(spark: SparkSession, sf_dir: str) -> str:
    src = os.path.join(sf_dir, "documents.parquet")

    def build(tmp: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(src, columns=["doc_id", "text"])
        for doc_id, text in zip(
            t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        ):
            if doc_id % BLOB_SAMPLE_MOD == 0 and text is not None:
                with open(os.path.join(tmp, f"doc_{doc_id}.bin"), "wb") as f:
                    f.write(text.encode("utf-8"))

    return _staged_dir("/tmp/ksj-blob-stage", src, "blob_v1", build)


@register(
    "binary_blob_source_stats",
    oracle=f"""
        SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS fname,
               CAST(LENGTH(text) AS BIGINT) AS n_bytes,
               md5(text) AS content_md5
        FROM documents
        WHERE doc_id % {BLOB_SAMPLE_MOD} = 0 AND text IS NOT NULL
    """,
    tags=("source-format", "binary", "multimodal", "documents"),
)
def binary_blob_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_blobs(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(stage)
    )
    return blobs.select(
        F.regexp_extract(F.col("path"), r"(doc_\d+\.bin)$", 1).alias("fname"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# ---------------------------------------------------------------------------
# GZIP-COMPRESSED JSONL SOURCE — the compressed-ingestion path every web
# corpus arrives on: events are staged as .jsonl.gz (stdlib gzip), and
# spark.read.json consumes the compressed files TRANSPARENTLY through
# the codec registry — no decompression step in user code. The cost
# model note a 100 TB user needs: gzip is NOT splittable, so one .gz
# file = one task; parallelism comes from FILE COUNT, which is why the
# stage writes GZIP_SHARDS shards rather than one blob. Counts and exact
# cent sums reconcile against the parquet source of truth.
# ---------------------------------------------------------------------------
GZIP_SHARDS = 4


def _stage_gzip_jsonl(spark: SparkSession, sf_dir: str) -> str:
    src = os.path.join(sf_dir, "events.parquet")

    def build(tmp: str) -> None:
        # Distributed stage (r12 scaling-curve fix): the original
        # builder serialized every event through a driver-side Python
        # loop — O(n) single-threaded, and the dominant superlinear
        # term in this query's measured sf0.01→sf0.1 ratio. Spark's
        # JSON writer with the gzip codec does the same job JVM-side
        # across GZIP_SHARDS tasks; the consumers only require
        # *.jsonl.gz shard files whose parsed rows equal the events
        # table, not any particular shard assignment or field order.
        import shutil

        out = os.path.join(tmp, "_spark_out")
        (
            spark.read.parquet(src)
            .select("event_id", "user_id", "event_type", "value")
            .repartition(GZIP_SHARDS, "event_id")
            .write.option("compression", "gzip")
            .json(out)
        )
        n = 0
        for f in sorted(os.listdir(out)):
            if f.endswith(".json.gz"):
                os.rename(
                    os.path.join(out, f),
                    os.path.join(tmp, f"events_{n}.jsonl.gz"),
                )
                n += 1
        # empty hash partitions write no file, so a tiny/skewed events
        # table can legitimately yield fewer than GZIP_SHARDS shards
        # (the consumers glob, they don't count); only zero files —
        # nothing staged at all — is an error
        if n == 0:
            raise RuntimeError("gzip stage produced no shard files")
        shutil.rmtree(out)

    return _staged_dir("/tmp/ksj-gzjsonl-stage", src, "gzjsonl_v2", build)


@register(
    "gzip_jsonl_source_read",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events GROUP BY 1
    """,
    tags=("source-format", "gzip", "jsonl", "events"),
)
def gzip_jsonl_source_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_gzip_jsonl(spark, sf_dir)
    schema = (
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    )
    rows = (
        spark.read.schema(schema)
        .option("pathGlobFilter", "*.jsonl.gz")
        .json(stage)
    )
    return rows.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# TRANSACTION-LOG TIME TRAVEL — the lakehouse snapshot-reconstruction
# semantics (Delta/Iceberg commit logs) without the jar: a deterministic
# JSON action log is staged (version v adds 2+v%3 data files with known
# row counts; from v≥2 each commit also REMOVES the two-versions-old
# first file), Spark reads the log directory with an explicit nested
# schema, derives each action's version from its commit file name
# (_metadata — lineage without a join), and reconstructs the LIVE file
# set and row count AS OF every version — remove-wins, add-once. The
# oracle regenerates the action stream from the generative rule alone,
# so a mis-parsed version or a wrong remove precedence diverges
# immediately. Per-version history is a |versions|-row table; the
# running totals ride a bounded window.
# ---------------------------------------------------------------------------
TXN_VERSIONS = 6


def _stage_txn_log(spark: SparkSession, sf_dir: str) -> str:
    src = os.path.join(sf_dir, "documents.parquet")  # keys the stage dir only

    def build(tmp: str) -> None:
        import json as _json

        for v in range(TXN_VERSIONS):
            lines = []
            for i in range(2 + v % 3):
                lines.append(
                    _json.dumps(
                        {
                            "add": {
                                "path": f"f_{v}_{i}",
                                "rows": 100 + (v * 7 + i) % 50,
                            }
                        },
                        sort_keys=True,
                    )
                )
            if v >= 2:
                lines.append(
                    _json.dumps(
                        {"remove": {"path": f"f_{v - 2}_0"}}, sort_keys=True
                    )
                )
            with open(os.path.join(tmp, f"{v:06d}.json"), "w") as f:
                f.write("\n".join(lines) + "\n")

    return _staged_dir("/tmp/ksj-txnlog-stage", src, "txnlog_v1", build)


@register(
    "txn_log_time_travel",
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
        ),
        snap AS (
            SELECT s.ver AS as_of,
                   CAST(COUNT(*) AS BIGINT) AS live_files,
                   CAST(SUM(a.rows_) AS BIGINT) AS live_rows
            FROM v s
            JOIN adds a ON a.ver <= s.ver
            LEFT JOIN removes r
              ON r.path = a.path AND r.ver <= s.ver
            WHERE r.path IS NULL
            GROUP BY 1
        ),
        per_ver AS (
            SELECT v.ver,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM adds a
                    WHERE a.ver = v.ver) AS n_adds,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM removes r
                    WHERE r.ver = v.ver) AS n_removes
            FROM v
        )
        SELECT p.ver AS version, p.n_adds, p.n_removes,
               s.live_files, s.live_rows
        FROM per_ver p JOIN snap s ON s.as_of = p.ver
    """,
    tags=("source-format", "lakehouse", "time-travel", "txn-log"),
)
def txn_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import types as T

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
        spark.read.schema(schema)
        .option("pathGlobFilter", "*.json")
        .json(stage)
        .select(
            F.regexp_extract(F.col("_metadata.file_name"), r"^(\d+)\.json$", 1)
            .cast("long")
            .alias("ver"),
            "add",
            "remove",
        )
    )
    adds = log.filter(F.col("add").isNotNull()).select(
        "ver", F.col("add.path").alias("path"), F.col("add.rows").alias("rows_")
    )
    removes = log.filter(F.col("remove").isNotNull()).select(
        F.col("ver").alias("r_ver"), F.col("remove.path").alias("path")
    )
    versions = log.select("ver").distinct()
    live = (
        versions.alias("s")
        .join(adds.alias("a"), F.col("a.ver") <= F.col("s.ver"))
        .join(
            removes.alias("r"),
            (F.col("r.path") == F.col("a.path"))
            & (F.col("r.r_ver") <= F.col("s.ver")),
            "left",
        )
        .filter(F.col("r.path").isNull())
        .groupBy(F.col("s.ver").alias("as_of"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("live_files"),
            F.sum("a.rows_").cast("long").alias("live_rows"),
        )
    )
    per_ver = (
        versions.join(
            adds.groupBy("ver").agg(
                F.count(F.lit(1)).cast("long").alias("n_adds")
            ),
            "ver",
            "left",
        )
        .join(
            removes.groupBy(F.col("r_ver").alias("ver")).agg(
                F.count(F.lit(1)).cast("long").alias("n_removes")
            ),
            "ver",
            "left",
        )
        .select(
            "ver",
            F.coalesce(F.col("n_adds"), F.lit(0).cast("long")).alias("n_adds"),
            F.coalesce(F.col("n_removes"), F.lit(0).cast("long")).alias(
                "n_removes"
            ),
        )
    )
    return per_ver.join(live, per_ver.ver == live.as_of).select(
        F.col("ver").alias("version"),
        "n_adds",
        "n_removes",
        "live_files",
        "live_rows",
    )


# ---------------------------------------------------------------------------
# SCAN-TASK PLANNER — the executor-sizing question every 100 TB job
# starts with, answered from FOOTERS ONLY via the ksj_parquet_meta
# custom source (one task per file, no data pages touched): per file,
# row groups, exact row counts, compressed footprint, the implied scan
# task count at the target split size, and the single heaviest column
# (the column-pruning payoff estimate). Input is a FIXED-PATH fixture
# staged at MODULE IMPORT — the one ordering the driver contract
# guarantees precedes both engines (it must import this module to
# enumerate oracle_sql() at all) — so DuckDB's parquet_metadata() can
# name the same files as a constant and the two engines audit identical
# footers. Target split is fixture-scaled; production uses the 128 MiB
# maxPartitionBytes convention — the arithmetic is the same.
# ---------------------------------------------------------------------------
SCAN_TARGET_BYTES = 4_096  # fixture-scaled stand-in for 128 MiB

# Content-version the stage path the way _staged_dir keys on the source
# file: this spec string describes everything the builder writes, so any
# change to the fixture definition lands in a NEW directory and a stale
# fixture from an older layout can never be silently reused.
_PLANNER_SPEC = "wide:n=1000,rg=100,cols=id|v|s;narrow:n=400,rg=400,cols=id"
_PLANNER_FIXTURE_DIR = "/tmp/ksj-planner-fixture-" + __import__(
    "hashlib"
).md5(_PLANNER_SPEC.encode()).hexdigest()[:12]


def _stage_planner_fixture() -> str:
    """Idempotent content-keyed stage (marker + atomic rename): two
    parquet files with different row-group layouts, deterministic
    content. Called LAZILY — from the Spark operator and from
    ``oracle_sql()`` via the registry's prepare hook — never at module
    import, so importing the operators package performs no filesystem
    I/O and works on a read-only /tmp (the one affected query then
    fails alone, with a missing-file error naming this path)."""
    import shutil

    marker = os.path.join(_PLANNER_FIXTURE_DIR, "_staged")
    if os.path.exists(marker):
        return _PLANNER_FIXTURE_DIR
    tmp = f"{_PLANNER_FIXTURE_DIR}.build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 1000
    wide = pa.table(
        {
            "id": pa.array(range(n), type=pa.int64()),
            "v": pa.array([(i * 7 % 101) / 4.0 for i in range(n)], type=pa.float64()),
            "s": pa.array([f"row_{i % 37}" for i in range(n)], type=pa.string()),
        }
    )
    pq.write_table(wide, os.path.join(tmp, "wide.parquet"), row_group_size=100)
    narrow = pa.table(
        {"id": pa.array(range(400), type=pa.int64())}
    )
    pq.write_table(narrow, os.path.join(tmp, "narrow.parquet"), row_group_size=400)
    with open(os.path.join(tmp, "_staged"), "w"):
        pass
    try:
        os.rename(tmp, _PLANNER_FIXTURE_DIR)
    except OSError:
        if not os.path.exists(marker):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return _PLANNER_FIXTURE_DIR


# Lazy staging: the Spark operator stages on first run; the DuckDB side
# stages when the driver materializes oracle_sql() (the registry prepare
# hook below). Building the PATH constants does no I/O.
from kafka_stream_job_spark.registry import ORACLE_PREPARE_HOOKS

ORACLE_PREPARE_HOOKS.append(_stage_planner_fixture)

_PLANNER_FILES = [
    os.path.join(_PLANNER_FIXTURE_DIR, "wide.parquet"),
    os.path.join(_PLANNER_FIXTURE_DIR, "narrow.parquet"),
]


def _planner_oracle() -> str:
    per_file = " UNION ALL ".join(
        f"SELECT '{os.path.splitext(os.path.basename(f))[0]}' AS table_name,"
        f" * FROM parquet_metadata('{f}')"
        for f in _PLANNER_FILES
    )
    return f"""
        WITH meta AS ({per_file}),
        rg AS (
            SELECT table_name, row_group_id,
                   CAST(MAX(row_group_num_rows) AS BIGINT) AS rg_rows,
                   CAST(SUM(total_compressed_size) AS BIGINT) AS rg_bytes
            FROM meta GROUP BY 1, 2
        ),
        cols AS (
            SELECT table_name, path_in_schema,
                   CAST(SUM(total_compressed_size) AS BIGINT) AS col_bytes
            FROM meta GROUP BY 1, 2
        ),
        heavy AS (
            SELECT table_name,
                   (MIN(struct_pack(nb := -col_bytes, c := path_in_schema))).c
                       AS heaviest_column,
                   CAST(MAX(col_bytes) AS BIGINT) AS heaviest_col_bytes
            FROM cols GROUP BY 1
        )
        SELECT r.table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rowgroups,
               CAST(SUM(r.rg_rows) AS BIGINT) AS total_rows,
               CAST(SUM(r.rg_bytes) AS BIGINT) AS compressed_bytes,
               CAST((SUM(r.rg_bytes) + {SCAN_TARGET_BYTES} - 1)
                    // {SCAN_TARGET_BYTES} AS BIGINT) AS n_scan_tasks,
               h.heaviest_column, h.heaviest_col_bytes
        FROM rg r JOIN heavy h USING (table_name)
        GROUP BY r.table_name, h.heaviest_column, h.heaviest_col_bytes
    """


@register(
    "scan_task_planner",
    oracle=_planner_oracle(),
    tags=("source-format", "parquet-meta", "planning", "scale"),
)
def scan_task_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv
    from kafka_stream_job_spark.sources.parquetmeta import (
        register_parquetmeta_source,
    )

    _stage_planner_fixture()
    register_parquetmeta_source(spark)
    meta = (
        spark.read.format("ksj_parquet_meta")
        .option("paths", ",".join(_PLANNER_FILES))
        .load()
    )
    rg = meta.groupBy("table_name", "row_group_id").agg(
        F.max("rg_rows").cast("long").alias("rg_rows"),
        F.sum("compressed_bytes").cast("long").alias("rg_bytes"),
    )
    cols = meta.groupBy("table_name", "column_name").agg(
        F.sum("compressed_bytes").cast("long").alias("col_bytes")
    )
    heavy = cols.groupBy("table_name").agg(
        F.min(
            F.struct(
                (-F.col("col_bytes")).alias("nb"),
                F.col("column_name").alias("c"),
            )
        )["c"].alias("heaviest_column"),
        F.max("col_bytes").cast("long").alias("heaviest_col_bytes"),
    )
    return (
        rg.groupBy("table_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rowgroups"),
            F.sum("rg_rows").cast("long").alias("total_rows"),
            F.sum("rg_bytes").cast("long").alias("compressed_bytes"),
        )
        .join(F.broadcast(heavy), "table_name")
        .select(
            "table_name",
            "n_rowgroups",
            "total_rows",
            "compressed_bytes",
            idiv(
                F.col("compressed_bytes") + (SCAN_TARGET_BYTES - 1),
                SCAN_TARGET_BYTES,
            ).alias("n_scan_tasks"),
            "heaviest_column",
            "heaviest_col_bytes",
        )
    )


# ---------------------------------------------------------------------------
# SMALL-FILE COMPACTION ROUNDTRIP — the bronze-table maintenance path
# (maintenance.compact_parquet_dir — the parquet stand-in for the
# Iceberg rewrite_data_files the reference's sink would run,
# KafkaAvroToIceberg.scala:92-100) exercised end-to-end through the
# registry: a 16-file micro-batch-shaped table is written, compacted
# with an atomic directory swap, and read BACK — the report's row count
# and exact cent sum come from the COMPACTED table, so a compaction
# that drops or duplicates rows diverges from the oracle immediately.
# The fixture write/copy is test mechanics; the compaction itself is
# the distributed Spark rewrite a real table would get.
# ---------------------------------------------------------------------------
COMPACT_DEMO_FILES = 16


@register(
    "bronze_compaction_roundtrip",
    oracle=f"""
        SELECT CAST({COMPACT_DEMO_FILES} AS BIGINT) AS files_before,
               CAST(1 AS BIGINT) AS files_after,
               TRUE AS compacted,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events
    """,
    tags=("maintenance", "compaction", "bronze", "events"),
)
def bronze_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.maintenance import compact_parquet_dir
    from kafka_stream_job_spark.tables import _session_dir, load_table

    table = os.path.join(_session_dir("ksj-compact-demo-"), "bronze_events")
    (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .repartition(COMPACT_DEMO_FILES, "event_id")
        .write.parquet(table)
    )
    stats = compact_parquet_dir(
        spark, table, target_file_bytes=1 << 40, min_files=4
    )
    if not stats["compacted"]:
        raise RuntimeError(f"compaction unexpectedly skipped: {stats}")
    back = spark.read.parquet(table)
    report = back.agg(
        F.lit(stats["files_before"]).cast("long").alias("files_before"),
        F.lit(stats["files_after"]).cast("long").alias("files_after"),
        F.lit(stats["compacted"]).alias("compacted"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )
    # materialize the 1-row report NOW so the data-scale demo table can
    # be deleted before returning (a per-run copy of events must not
    # outlive the query — sweeps run this hundreds of times)
    report = report.localCheckpoint()
    import shutil

    shutil.rmtree(os.path.dirname(table), ignore_errors=True)
    return report

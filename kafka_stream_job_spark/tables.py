"""Sandbox table catalog: explicit schemas + loaders for the test data.

The driver generates a TPC-H-ish star schema plus ``events`` (stream
stand-in), ``documents`` (text pipeline), ``embeddings`` (similarity) at
``/root/testdata/sf*/`` (TESTDATA.md, FIXTURES.md §B). Schemas are declared
explicitly — the engine's schema system is fixed/declared-in-code, exactly
like the reference's inline Avro + DDL approach (KafkaAvroToIceberg.scala:41-52,
79-89): no inference, no drift.

Scale note: loaders return plain parquet scans so Catalyst keeps predicate
pushdown / column pruning / partition pruning; never cache or collect here.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Constant-cardinality dimensions (5 / 25 rows at every scale factor) —
#: the only tables that merit an unconditional broadcast hint. Everything
#: else grows with SF and goes through autoBroadcastJoinThreshold + AQE.
BROADCAST_DIMS = frozenset({"region", "nation"})

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


#: Memoized scans, keyed by (applicationId, sf_dir, table, rebalance,
#: file mtime_ns, file size). A DataFrame is an immutable logical plan,
#: so handing the same one to every caller in a session is semantically
#: a no-op — what it saves is the ~0.15 s/call driver-side cost of
#: spark.read.parquet re-listing the directory and re-reading footers
#: for a table the session has already resolved (a 6-table join paid
#: ~1 s of that per build). Long-lived production sessions get this for
#: free from their catalog; the cache gives the sandbox's bare-path
#: reads the same property. Keyed by applicationId so a stopped
#: session's plans are never resurrected, and by the file's
#: (mtime_ns, size) so an in-session fixture regeneration invalidates
#: the frozen file index instead of replaying a stale snapshot (one
#: stat per call, micro-seconds). Entries are O(#tables × #SFs) per
#: session.
_SCAN_CACHE: dict[tuple[str, str, str, bool, int, int], DataFrame] = {}


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    rebalance: bool = False,
    key: str | None = None,
) -> DataFrame:
    """Plain parquet scan of one table (pushdown/pruning preserved).

    ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark 4 cannot read
    natively; with ``spark.sql.legacy.parquet.nanosAsLong`` (session.py) it
    arrives as nanos-since-epoch LONG and is converted here to a µs
    timestamp — the same truncation DuckDB applies, so oracles agree.

    ``rebalance=True`` is for callers about to run a CPU-heavy map stage
    (shingling, hashing): a source with fewer scan splits than cores (a
    single-row-group file here; a few huge unsplittable files in
    production) serializes all downstream map work — measured 6.6 s
    single-task vs <1 s rebalanced for the MinHash shingle pass. The
    repartition only fires when the size estimate says the scan is
    under-split, so at 100 TB (thousands of splits) it is a no-op; and
    it's opt-in because for cheap map work the extra exchange costs more
    than it buys. Filters still push below the exchange
    (PushDownPredicate moves them through Repartition).

    ``key`` (only meaningful with ``rebalance=True``) hash-partitions the
    rebalance on that column instead of round-robin: a caller whose first
    shuffle-requiring op is keyed the same way (``groupBy(key)``,
    ``distinct`` over a superset of ``key``) then rides this exchange and
    needs NO second one — the rebalance the caller was paying anyway
    doubles as the aggregation exchange (guide §2.4: two operations keyed
    the same way share one exchange). At 100 TB the repartition does not
    fire and the keyed aggregation keeps its normal partial-agg + narrow
    exchange plan, so this is strictly a local/under-split-scan win.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    cache_key = (
        spark.sparkContext.applicationId,
        os.path.realpath(sf_dir),
        name,
        rebalance,
        key,
        st.st_mtime_ns,
        st.st_size,
    )
    # The caller's session may not be ours (the driver passes its own):
    # pin the two confs correctness depends on BEFORE the cache lookup.
    # Both are runtime-settable; without nanosAsLong the events scan
    # throws PARQUET_TYPE_ILLEGAL, and a non-UTC session TZ would skew
    # every date_trunc/extract vs the DuckDB oracle. The TZ conf in
    # particular is read at EXECUTION time, not plan time — an external
    # driver that resets the session TZ between queries would otherwise
    # execute a cached plan under the wrong zone, so every call (hit or
    # miss) re-pins.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cached = _SCAN_CACHE.get(cache_key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if rebalance and name not in BROADCAST_DIMS:
        target = spark.sparkContext.defaultParallelism
        est_splits = max(1, os.path.getsize(path) // (128 << 20))
        if est_splits < target:
            df = df.repartition(target, key) if key else df.repartition(target)
    _SCAN_CACHE[cache_key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries run
    against the same names the DuckDB oracle uses."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def _session_dir(prefix: str) -> str:
    """A fresh directory under the driver's SparkFiles root, which Spark
    deletes at ``stop()``: for data-sized files that a returned lazy
    DataFrame still reads, so no copy outlives the session."""
    from pyspark import SparkFiles

    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())


def _staged_dir(root: str, src: str, version: str, build) -> str:
    """Race-free /tmp staging: the stage dir is keyed by the SOURCE file's
    (mtime_ns, size) so a regenerated source maps to a NEW directory, and a
    completed stage dir is immutable — never rmtree'd while another process
    (parallel pytest, the external driver) may be streaming its files.
    Builders write into an attempt-unique temp dir (pid + random token:
    two THREADS of one process can race the same build — e.g. the two
    gzip-jsonl queries under a parallel verify run — and must not share
    a directory) and atomically ``os.rename`` it into place; losing the
    rename race just means another builder finished the identical build
    first, so the loser discards its copy.
    """
    st = os.stat(src)
    stage = os.path.join(root, f"{version}_{st.st_mtime_ns}_{st.st_size}")
    marker = os.path.join(stage, "_staged")
    if os.path.exists(marker):
        return stage
    tmp = f"{stage}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_staged"), "w"):
        pass
    try:
        os.rename(tmp, stage)
    except OSError:
        if os.path.exists(marker):  # lost the race to an identical build
            shutil.rmtree(tmp, ignore_errors=True)
        else:  # stale partial dir from a crashed builder — replace it
            shutil.rmtree(stage, ignore_errors=True)
            try:
                os.rename(tmp, stage)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
    return stage

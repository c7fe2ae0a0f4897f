"""Relational core: filters, projections, joins, aggregations, windows,
sorts/top-k, set ops, rollup/cube — the operator categories the reference
delegates wholesale to Spark (SURVEY.md §2.7) and our engine must expose as
first-class, 100-TB-ready queries (SURVEY.md §7.3 step 1-2).

Design rules applied throughout:

- **Declarative DataFrame programs** — Catalyst gets the whole plan, so
  predicate pushdown / column pruning reach the parquet scan and join
  strategy selection stays with the optimizer (+AQE at runtime).
- **Broadcast policy.** region/nation are constant-size (5/25 rows) and get
  explicit ``F.broadcast`` hints. customer/supplier/part GROW with scale
  factor, so they get NO forced hint — ``autoBroadcastJoinThreshold`` (64 MB)
  + AQE pick broadcast while they fit and fall back to shuffle joins at
  100 TB, which is the correct plan there. Fact-fact joins
  (orders⋈lineitem) sort-merge on the join key — at warehouse scale both
  sides would be bucketed on orderkey making this shuffle-free.
- **Partial aggregation first.** ``groupBy().agg()`` compiles to
  partial(map-side) + final(reduce) hash aggregation; group-by keys here are
  low-cardinality or key-prefixed so no skew salting is needed.
- **Deterministic, oracle-matchable output.** Double aggregates are rounded
  in BOTH the Spark program and the DuckDB oracle; top-k uses explicit
  unique tiebreaks so LIMIT is order-stable across engines.

Reference parity: the reference itself contains none of these operators
(verified in SURVEY.md §2.7 — its only ops are decode/flatten/enrich,
KafkaAvroToIceberg.scala:67-72); this module is the north-star extension
surface built idiomatically on Spark.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_job_spark.operators._portable import (
    idiv,
    jvm_values_df,
    md5_int,
    md5_int_sql,
    pround,
    sql_round,
)
from kafka_stream_job_spark.registry import register
from kafka_stream_job_spark.tables import load_table


def _rev_cents() -> "F.Column":
    """Per-line discounted revenue in exact half-up integer CENTS:
    ``round_half_up(l_extendedprice * (1 - l_discount) to cents)`` as
    pure int64 arithmetic (price carries exact cents, discount exact
    percent points). Summing these per-line cents is bit-identical under
    any partial-aggregation merge order — a raw ``SUM(double)`` then
    ``ROUND`` sits a half-cent boundary away from flipping a published
    value at billion-row groups. DuckDB twin (keep term-for-term):
    ``(CAST(ROUND(l_extendedprice*100.0) AS BIGINT)
       * (100 - CAST(ROUND(l_discount*100.0) AS BIGINT)) * 2 + 100)//200``.
    Headroom: ≤ ~1.05e7 cents/line → int64-exact to ~8.7e11 lines/group;
    ANSI raises loudly past that.
    """
    price_c = F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100.0, 0).cast("long")
    return idiv(price_c * (F.lit(100) - disc_pct) * 2 + 100, F.lit(200))


# ---------------------------------------------------------------------------
# Q1 — pricing summary (TPC-H Q1 shape): scan-heavy grouped aggregation.
# Scale: single shuffle over a 2-value×2-value key; partial agg reduces
# ~all rows map-side. Filter + 7-column projection push into the scan.
# ARITHMETIC: every money/quantity column is integerized per row (prices
# carry exact cents, discount/tax exact percent points), the extended
# terms are rounded to cents PER LINE (invoice-style half-up), and all
# cross-row reductions are exact integer SUMs — bit-identical under any
# partial-merge order, which a raw double SUM is not at billion-row
# groups (a half-cent ROUND boundary away from a value flip). Headroom:
# per-line cents ≤ ~1.2e7, so an int64 group sum is exact to ~7e11
# lines/group; past that ANSI mode raises loudly rather than wrapping.
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
        WITH c AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(l_quantity * 100.0) AS BIGINT)      AS qty_c,
                   CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS price_c,
                   CAST(ROUND(l_discount * 100.0) AS BIGINT)      AS disc_pct,
                   CAST(ROUND(l_tax * 100.0) AS BIGINT)           AS tax_pct
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        ), r AS (
            SELECT l_returnflag, l_linestatus, qty_c, price_c, disc_pct,
                   -- per-line half-up cents of price*(1-disc) and
                   -- price*(1-disc)*(1+tax): exact integer rationals
                   (price_c * (100 - disc_pct) * 2 + 100) // 200 AS disc_price_c,
                   (price_c * (100 - disc_pct) * (100 + tax_pct) * 2 + 10000)
                       // 20000 AS charge_c
            FROM c
        )
        SELECT
            l_returnflag,
            l_linestatus,
            CAST(SUM(qty_c) AS BIGINT) / 100.0          AS sum_qty,
            CAST(SUM(price_c) AS BIGINT) / 100.0        AS sum_base_price,
            CAST(SUM(disc_price_c) AS BIGINT) / 100.0   AS sum_disc_price,
            CAST(SUM(charge_c) AS BIGINT) / 100.0       AS sum_charge,
            CAST((CAST(SUM(qty_c) AS BIGINT) * 2 + COUNT(*))
                 // (2 * COUNT(*)) AS BIGINT) / 100.0   AS avg_qty,
            CAST((CAST(SUM(price_c) AS BIGINT) * 2 + COUNT(*))
                 // (2 * COUNT(*)) AS BIGINT) / 100.0   AS avg_price,
            CAST((CAST(SUM(disc_pct) AS BIGINT) * 200 + COUNT(*))
                 // (2 * COUNT(*)) AS BIGINT) / 10000.0 AS avg_disc,
            COUNT(*)                                    AS count_order
        FROM r
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "filter"),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty_c = F.round(F.col("l_quantity") * 100.0, 0).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100.0, 0).cast("long")
    tax_pct = F.round(F.col("l_tax") * 100.0, 0).cast("long")
    # per-line cents, half-up on non-negative rationals: (a*2+b) div (2b)
    disc_price_c = idiv(price_c * (F.lit(100) - disc_pct) * 2 + 100, F.lit(200))
    charge_c = idiv(
        price_c * (F.lit(100) - disc_pct) * (F.lit(100) + tax_pct) * 2 + 10000,
        F.lit(20000),
    )
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c) / 100.0).alias("sum_qty"),
            (F.sum(price_c) / 100.0).alias("sum_base_price"),
            (F.sum(disc_price_c) / 100.0).alias("sum_disc_price"),
            (F.sum(charge_c) / 100.0).alias("sum_charge"),
            (idiv(F.sum(qty_c) * 2 + n, n * 2) / 100.0).alias("avg_qty"),
            (idiv(F.sum(price_c) * 2 + n, n * 2) / 100.0).alias("avg_price"),
            (idiv(F.sum(disc_pct) * 200 + n, n * 2) / 10000.0).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Q3 — shipping priority (TPC-H Q3 shape): dim-filtered fact-fact join + agg
# + top-k. customer joins via the size threshold (broadcast while it fits);
# orders⋈lineitem sort-merges on o_orderkey = l_orderkey, which at 100 TB
# is the co-location key both tables would be bucketed on.
# ---------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle="""
        WITH ranked AS (
            SELECT
                l_orderkey,
                -- exact per-line half-up revenue cents (price carries exact
                -- cents, discount exact percent points), summed as integers:
                -- order-free, no double-ROUND boundary at any group size
                CAST(SUM((CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)
                          * (100 - CAST(ROUND(l_discount * 100.0) AS BIGINT))
                          * 2 + 100) // 200) AS BIGINT) / 100.0 AS revenue,
                CAST(o_orderdate AS DATE)                          AS o_orderdate_d,
                o_orderpriority
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
              AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
        )
        SELECT l_orderkey, revenue, CAST(o_orderdate_d AS VARCHAR) AS o_orderdate, o_orderpriority
        FROM ranked
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    tags=("join", "agg", "topk"),
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(_rev_cents()) / 100.0).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q5 — local supplier volume (TPC-H Q5 shape): 6-way join. region/nation
# broadcast unconditionally; customer/supplier broadcast via threshold while
# small. The only unavoidable shuffle is lineitem⋈orders.
# ---------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle="""
        SELECT
            n_name,
            ROUND((SUM(l_extendedprice * (1 - l_discount))) * 100.0) / 100.0 AS revenue
        FROM customer
        JOIN orders   ON c_custkey  = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
    """,
    tags=("join", "agg"),
    bench=True,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Top customers: fact agg + broadcast dim join + order-stable top-k.
# Tiebreak on the unique key makes LIMIT deterministic across engines.
# ---------------------------------------------------------------------------
@register(
    "top_customers_by_revenue",
    oracle="""
        SELECT
            c_custkey,
            c_name,
            ROUND((SUM(o_totalprice)) * 100.0) / 100.0 AS revenue,
            COUNT(*)                    AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 25
    """,
    tags=("join", "agg", "topk"),
    bench=True,
)
def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            pround(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Anti join: customers with no orders (NOT EXISTS). Spark plans a broadcast
# or shuffled-hash anti join; at 100 TB the orders side is pre-aggregated to
# distinct keys by the join itself (null-aware not needed: keys non-null).
# ---------------------------------------------------------------------------
@register(
    "customers_without_orders",
    oracle="""
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment
    """,
    tags=("join", "anti", "agg"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Semi join: nations having at least one high-balance customer.
# ---------------------------------------------------------------------------
@register(
    "nations_with_rich_customers",
    oracle="""
        SELECT n_nationkey, n_name
        FROM nation n
        WHERE EXISTS (
            SELECT 1 FROM customer c
            WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000
        )
    """,
    tags=("join", "semi"),
)
def nations_with_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    rich = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    return nation.join(
        rich, nation.n_nationkey == rich.c_nationkey, "left_semi"
    ).select("n_nationkey", "n_name")


# ---------------------------------------------------------------------------
# Rollup: subtotal hierarchy over (returnflag, linestatus) with GROUPING id
# to disambiguate the null rows. Spark's rollup == SQL ROLLUP semantics.
# ---------------------------------------------------------------------------
@register(
    "rollup_returns",
    oracle="""
        SELECT
            l_returnflag,
            l_linestatus,
            GROUPING(l_returnflag, l_linestatus) AS grp_id,
            ROUND((SUM(l_quantity)) * 100.0) / 100.0            AS sum_qty,
            COUNT(*)                             AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("grp_id"),
        pround(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select("l_returnflag", "l_linestatus", "grp_id", "sum_qty", "n_rows")


# ---------------------------------------------------------------------------
# Cube over orders: all subtotal combinations of (status, priority).
# ---------------------------------------------------------------------------
@register(
    "cube_order_status_priority",
    oracle="""
        SELECT
            o_orderstatus,
            o_orderpriority,
            GROUPING(o_orderstatus, o_orderpriority) AS grp_id,
            ROUND((SUM(o_totalprice)) * 100.0) / 100.0              AS sum_price,
            COUNT(*)                                 AS n_orders
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def cube_order_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("grp_id"),
        pround(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    ).select("o_orderstatus", "o_orderpriority", "grp_id", "sum_price", "n_orders")


# ---------------------------------------------------------------------------
# Window functions: per-customer ranking with an explicit frame-free rank,
# plus a running sum with ROWS frame. Partition key = customer → at 100 TB
# the shuffle is on a high-cardinality key, which is exactly what you want
# (no single hot partition).
# ---------------------------------------------------------------------------
@register(
    "window_customer_order_rank",
    oracle="""
        SELECT * FROM (
            SELECT
                o_custkey,
                o_orderkey,
                ROW_NUMBER() OVER w                                   AS rn,
                ROUND((SUM(o_totalprice) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100.0) / 100.0 AS running_spend
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ) t WHERE rn <= 3
    """,
    tags=("window",),
    bench=True,
)
def window_customer_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            pround(
                F.sum("o_totalprice").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
                2,
            ).alias("running_spend"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Analytic lag/lead over event time per user.
# ---------------------------------------------------------------------------
@register(
    "window_event_gaps",
    oracle="""
        SELECT
            user_id,
            event_id,
            CAST(date_diff('second',
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                 ts) AS BIGINT) AS gap_seconds
        FROM events
        QUALIFY gap_seconds IS NOT NULL
    """,
    tags=("window", "events"),
)
def window_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return (
        events.select(
            "user_id",
            "event_id",
            (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)).alias("gap_seconds"),
        )
        .filter(F.col("gap_seconds").isNotNull())
    )


# ---------------------------------------------------------------------------
# Set operations: union / intersect / except with ALL semantics (Spark's
# intersectAll/exceptAll == SQL INTERSECT ALL / EXCEPT ALL).
# ---------------------------------------------------------------------------
@register(
    "setops_customer_segments",
    oracle="""
        WITH big_spenders AS (
            SELECT o_custkey AS custkey FROM orders GROUP BY o_custkey
            HAVING SUM(o_totalprice) > 300000
        ),
        building AS (
            SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        )
        SELECT 'both' AS bucket, custkey FROM (SELECT custkey FROM big_spenders INTERSECT SELECT custkey FROM building)
        UNION ALL
        SELECT 'spender_only' AS bucket, custkey FROM (SELECT custkey FROM big_spenders EXCEPT SELECT custkey FROM building)
    """,
    tags=("setops", "agg"),
)
def setops_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spenders = (
        orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("spend"))
        .filter(F.col("spend") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    both = spenders.intersect(building).select(F.lit("both").alias("bucket"), "custkey")
    only = spenders.subtract(building).select(F.lit("spender_only").alias("bucket"), "custkey")
    return both.unionAll(only)


# ---------------------------------------------------------------------------
# Scalar function coverage: string / date / math / conditional expressions,
# all JVM-side (whole-stage codegen), no UDFs.
# ---------------------------------------------------------------------------
@register(
    "scalar_functions_showcase",
    oracle="""
        SELECT
            p_partkey,
            UPPER(p_brand)                                   AS brand_upper,
            LENGTH(p_name)                                   AS name_len,
            SUBSTRING(p_type, 1, 5)                          AS type_prefix,
            CONCAT(p_brand, ':', CAST(p_size AS VARCHAR))    AS brand_size,
            ROUND((SQRT(p_retailprice)) * 1000.0) / 1000.0                    AS price_sqrt,
            ABS(p_size - 25)                                 AS size_dev,
            CASE WHEN p_size >= 25 THEN 'large' ELSE 'small' END AS size_class,
            p_partkey % 7                                    AS bucket7
        FROM part
        WHERE p_name LIKE '%a%'
    """,
    tags=("scalar",),
)
def scalar_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.col("p_name").like("%a%")).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws(":", F.col("p_brand"), F.col("p_size").cast("string")).alias("brand_size"),
        pround(F.sqrt("p_retailprice"), 3).alias("price_sqrt"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.when(F.col("p_size") >= 25, "large").otherwise("small").alias("size_class"),
        (F.col("p_partkey") % 7).alias("bucket7"),
    )


# ---------------------------------------------------------------------------
# Date/time functions over orders.
# ---------------------------------------------------------------------------
@register(
    "datetime_functions_showcase",
    oracle="""
        SELECT
            CAST(EXTRACT(year FROM o_orderdate) AS INT)    AS order_year,
            CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS order_quarter,
            COUNT(*)                                       AS n_orders,
            ROUND((SUM(o_totalprice)) * 100.0) / 100.0                    AS sum_price
        FROM orders
        GROUP BY 1, 2
    """,
    tags=("scalar", "datetime", "agg"),
)
def datetime_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            pround(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# JSON extraction over the events.props payload (schema-on-read, like the
# reference's from_avro decode T1 but for JSON) + grouped agg.
# ---------------------------------------------------------------------------
@register(
    "events_json_extract",
    oracle="""
        SELECT
            event_type,
            COUNT(*)                                                   AS n_events,
            CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
            ROUND((AVG(CAST(json_extract_string(props, '$.k') AS BIGINT))) * 100.0) / 100.0 AS avg_k
        FROM events
        GROUP BY event_type
    """,
    tags=("json", "events", "agg"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        pround(F.avg(k), 2).alias("avg_k"),
    )


# ---------------------------------------------------------------------------
# Event-time tumbling window (batch form): the streaming q in
# streaming/pipeline.py runs the same logical agg with a watermark; here we
# express it as date_trunc so the DuckDB oracle is exact.
# ---------------------------------------------------------------------------
@register(
    "events_hourly_rollup",
    oracle="""
        SELECT
            CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_ts,
            event_type,
            COUNT(*)                                AS n_events,
            ROUND((SUM(value)) * 100.0) / 100.0                    AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("events", "agg", "window-time"),
    bench=True,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("string").alias("hour_ts"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Distinct aggregation: COUNT(DISTINCT) compiles to expand+two-phase agg in
# Spark — correct and scalable (no driver-side distinct).
# ---------------------------------------------------------------------------
@register(
    "distinct_parts_per_supplier",
    oracle="""
        SELECT
            l_suppkey,
            COUNT(DISTINCT l_partkey) AS n_parts,
            COUNT(*)                  AS n_lineitems
        FROM lineitem
        GROUP BY l_suppkey
    """,
    tags=("agg", "distinct"),
)
def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


# ---------------------------------------------------------------------------
# Correlated-scalar-subquery shape (Q17-like): parts whose lineitems fall
# below 50% of that part's average quantity. Expressed as agg + self-join —
# the decorrelated plan Catalyst would produce anyway.
# ---------------------------------------------------------------------------
@register(
    "small_quantity_revenue",
    oracle="""
        SELECT ROUND((SUM(l_extendedprice) / 7.0) * 100.0) / 100.0 AS avg_yearly
        FROM lineitem
        JOIN (
            SELECT l_partkey AS pk, 0.5 * AVG(l_quantity) AS half_avg
            FROM lineitem GROUP BY l_partkey
        ) t ON l_partkey = pk
        WHERE l_quantity < half_avg
    """,
    tags=("join", "agg", "subquery"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    half_avg = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg((F.avg("l_quantity") * 0.5).alias("half_avg"))
    )
    return (
        li.join(half_avg, li.l_partkey == half_avg.pk)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(pround(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# As-of join (purchase attribution): for every 'purchase' event, the most
# recent 'view'/'click' of the same user at or before the purchase. The
# reference category's classic time-series operator Spark lacks natively.
#
# Scale design: NOT a range join (candidate blowup) and NOT a join+argmax
# (second shuffle + skew on hot users). Both sides are tagged, unioned,
# shuffled ONCE on user_id, and a running `last(..., ignorenulls)` window
# carries the latest touch forward — O(n log n) per user partition, no
# pair materialization. DuckDB's native ASOF JOIN is the oracle.
# ---------------------------------------------------------------------------
@register(
    "asof_purchase_attribution",
    oracle="""
        WITH touches AS (
            SELECT user_id, ts,
                   MAX(event_id)              AS touch_event_id,
                   max_by(event_type, event_id) AS touch_type
            FROM events
            WHERE event_type IN ('view', 'click')
            GROUP BY user_id, ts
        ),
        purchases AS (
            SELECT user_id, ts, event_id AS purchase_id
            FROM events WHERE event_type = 'purchase'
        )
        SELECT
            p.purchase_id,
            p.user_id,
            t.touch_event_id AS last_touch_id,
            t.touch_type     AS last_touch_type,
            CAST(date_diff('second', t.ts, p.ts) AS BIGINT) AS seconds_since_touch
        FROM purchases p
        ASOF JOIN touches t ON p.user_id = t.user_id AND t.ts <= p.ts
    """,
    tags=("join", "asof", "events"),
    bench=True,
)
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # Raw touches, NO pre-aggregation: the oracle's per-(user_id, ts)
    # "keep max event_id" collapse is absorbed into the window ORDER BY
    # instead — touches at equal (ts) sort ascending by event_id, so the
    # running `last(..., ignorenulls)` lands on exactly the row the
    # groupBy used to keep (max event_id at the latest ts ≤ p.ts, and
    # max_by(event_type, event_id) = that same row's type). This removes
    # a whole exchange AND the SortAggregate pair the old
    # max_by(string, long) forced (string agg buffers are not
    # hash-aggregable), leaving ONE shuffle total. r12-measured: 2
    # exchanges + 4 sorts → 1 exchange + 1 sort, identical rows.
    touches = events.filter(F.col("event_type").isin("view", "click"))
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    # marker 0 = touch, 1 = purchase: at equal ts the touch sorts first,
    # so `t.ts <= p.ts` semantics fall out of the sort order.
    left = purchases.select(
        "user_id",
        "ts",
        F.lit(1).alias("marker"),
        "purchase_id",
        F.lit(None).cast("long").alias("touch_event_id"),
        F.lit(None).cast("string").alias("touch_type"),
        F.lit(None).cast("timestamp").alias("touch_ts"),
    )
    right = touches.select(
        "user_id",
        "ts",
        F.lit(0).alias("marker"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.col("event_id").alias("touch_event_id"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("touch_ts"),
    )
    # touch_event_id last in the ordering: among same-(ts, marker) touch
    # rows the max event_id sorts last, so the running `last` picks it —
    # the old groupBy's tie-break, now free. Purchase rows carry NULL
    # there; they only tie with other purchases (marker separates them
    # from touches), and every purchase at the same (user_id, ts) sees
    # the same preceding touches, so the result is order-independent.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "marker", "touch_event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        left.unionByName(right)
        .withColumn("last_touch_id", F.last("touch_event_id", ignorenulls=True).over(w))
        .withColumn("last_touch_type", F.last("touch_type", ignorenulls=True).over(w))
        .withColumn("last_touch_ts", F.last("touch_ts", ignorenulls=True).over(w))
    )
    return (
        merged.filter((F.col("marker") == 1) & F.col("last_touch_id").isNotNull())
        .select(
            "purchase_id",
            "user_id",
            "last_touch_id",
            "last_touch_type",
            (F.unix_timestamp("ts") - F.unix_timestamp("last_touch_ts"))
            .cast("long")
            .alias("seconds_since_touch"),
        )
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (complements the cube/rollup queries): detail,
# per-status, and grand-total levels in one pass — Spark expands to a
# single Expand + hash-aggregate, one shuffle.
# ---------------------------------------------------------------------------
@register(
    "grouping_sets_revenue",
    oracle="""
        SELECT
            o_orderstatus,
            o_orderpriority,
            GROUPING(o_orderstatus, o_orderpriority) AS grp_id,
            COUNT(*) AS n_orders,
            ROUND((SUM(o_totalprice)) * 100.0) / 100.0 AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    tags=("agg", "grouping-sets"),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("grp_id"),
            F.count(F.lit(1)).alias("n_orders"),
            pround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select("o_orderstatus", "o_orderpriority", "grp_id", "n_orders", "revenue")
    )


# ---------------------------------------------------------------------------
# Range (theta) join against a tiny banded dimension: the non-equi
# predicate forces a broadcast nested-loop join — exactly right when one
# side is a handful of rows (the 100 TB alternative is a CASE expression;
# the join form generalizes to data-driven band tables).
# ---------------------------------------------------------------------------
PRICE_BANDS = [
    ("small", 0, 50_000),
    ("medium", 50_000, 150_000),
    ("large", 150_000, 300_000),
    ("jumbo", 300_000, 1_000_000_000),
]

_PRICE_BANDS_VALUES = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS)


@register(
    "range_join_price_bands",
    oracle=f"""
        WITH bands(band, lo, hi) AS (VALUES {_PRICE_BANDS_VALUES})
        SELECT
            b.band,
            COUNT(*) AS n_orders,
            ROUND((SUM(o_totalprice)) * 100.0) / 100.0 AS revenue
        FROM orders o
        JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        GROUP BY b.band
    """,
    tags=("join", "range", "theta"),
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bands = jvm_values_df(
        orders.sparkSession, PRICE_BANDS, "band string, lo long, hi long"
    )
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            pround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 (returned-item reporting): 4-table join, grouped revenue,
# global top-20. Dims broadcast; the orders⋈lineitem join shuffles on
# orderkey; the final top-k is TakeOrderedAndProject (no full sort).
# ---------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle="""
        SELECT
            c_custkey,
            c_name,
            n_name,
            -- exact per-line half-up revenue cents summed as integers
            -- (see q1/q3): order-free at any group size
            CAST(SUM((CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)
                      * (100 - CAST(ROUND(l_discount * 100.0) AS BIGINT))
                      * 2 + 100) // 200) AS BIGINT) / 100.0 AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1995-10-01'
          AND o_orderdate <  TIMESTAMP '1996-01-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
    bench=True,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum(_rev_cents()) / 100.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Salted join — the manual skew defense. A hot fact key floods one reducer
# in a shuffle join; salting splits each key across SALT_BUCKETS reducers
# by joining on (key, salt) against a dim replicated SALT_BUCKETS×. The
# result is provably identical to the plain join (the oracle IS the plain
# join). AQE's skew-join split handles sort-merge skew automatically, but
# salting remains the portable fix when AQE can't help (e.g. skewed
# grouped aggregation upstream of the join, or non-AQE engines).
# ---------------------------------------------------------------------------
SALT_BUCKETS = 8


@register(
    "salted_join_supplier_volume",
    oracle="""
        SELECT
            s_name,
            COUNT(*) AS n_items,
            ROUND((SUM(l_extendedprice)) * 100.0) / 100.0 AS volume
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_name
    """,
    tags=("join", "skew", "salting"),
)
def salted_join_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.col("l_orderkey"), F.lit(SALT_BUCKETS)).cast("int")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_BUCKETS)]))
        )
    )
    # pin to a shuffle join: salting is a no-op under broadcast (which is
    # what Spark would pick for this dim size — the point is the pattern).
    return (
        li.hint("merge")
        .join(supp, (F.col("l_suppkey") == F.col("s_suppkey")) & (li.salt == supp.salt))
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            pround(F.sum("l_extendedprice"), 2).alias("volume"),
        )
    )


# ---------------------------------------------------------------------------
# Exact percentiles: Spark's `percentile` (exact, linear-interpolated) ==
# DuckDB's quantile_cont definition, so this is oracle-checkable. At
# 100 TB exact percentiles are a deliberate cost (full sort per group in
# the agg buffer) — the sketch path below is the scale alternative.
# ---------------------------------------------------------------------------
@register(
    "percentile_order_prices",
    oracle="""
        SELECT
            o_orderpriority,
            COUNT(*) AS n_orders,
            ROUND((quantile_cont(o_totalprice, 0.5)) * 10000.0) / 10000.0  AS p50,
            ROUND((quantile_cont(o_totalprice, 0.95)) * 10000.0) / 10000.0 AS p95
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("agg", "percentile"),
)
def percentile_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        pround(F.percentile("o_totalprice", 0.5), 4).alias("p50"),
        pround(F.percentile("o_totalprice", 0.95), 4).alias("p95"),
    )


# ---------------------------------------------------------------------------
# Sketches — the 100 TB path for distinct counts and quantiles:
# approx_count_distinct (HyperLogLog++) and percentile_approx (t-digest
# style) aggregate in constant memory and merge across partitions, where
# the exact forms hold full sets/sorts. DuckDB's approximations differ by
# construction, so the oracle is INVARIANT-style (the kmeans pattern):
# the Spark side emits the exact n_events plus booleans asserting the
# sketch estimates sit inside their published error envelopes vs the
# exact values (computed in the same agg), and the oracle pins n_events
# exactly with the invariants as TRUE literals. A sketch wandering out of
# its guarantee flips a boolean and fails the hash gate.
#   - approx_count_distinct rsd=0.02 → |approx−exact| ≤ max(5, 5·rsd·exact)
#     (5σ of the advertised relative standard deviation).
#   - percentile_approx(accuracy=10000) → rank error ≤ n/10000, so the
#     returned value must lie within the exact [p45, p55] band.
# tests/test_sketches.py additionally bounds the error tighter.
# ---------------------------------------------------------------------------
@register(
    "sketch_user_activity",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               TRUE AS users_in_bound,
               TRUE AS p50_in_bound
        FROM events
        GROUP BY event_type
    """,
    tags=("agg", "sketch", "events"),
)
def sketch_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.percentile("value", 0.45).alias("p45"),
        F.percentile("value", 0.55).alias("p55"),
    )
    return agg.select(
        "event_type",
        "n_events",
        (
            F.abs(F.col("approx_users").cast("double") - F.col("exact_users"))
            <= F.greatest(F.lit(5.0), F.lit(5 * 0.02) * F.col("exact_users"))
        ).alias("users_in_bound"),
        (
            (F.col("approx_p50") >= F.col("p45"))
            & (F.col("approx_p50") <= F.col("p55"))
        ).alias("p50_in_bound"),
    )


# ---------------------------------------------------------------------------
# Session windows in BATCH (the oracle twin of
# streaming.pipeline.session_window_stream): per-user activity sessions
# closing after 30 idle minutes. The oracle is the classic gaps-and-islands
# SQL, which pins Spark's exact session semantics: an event at precisely
# ts_prev + gap starts a NEW session (windows are [ts, ts+gap)), and the
# reported end is last_event + gap. One shuffle on user_id; Spark merges
# session state in the agg, no window-function sort pass needed.
# ---------------------------------------------------------------------------
@register(
    "session_window_rollup",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                        OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        islands AS (
            SELECT user_id, ts, value, event_id,
                   SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS sess_id
            FROM ordered
        )
        SELECT
            user_id,
            strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f')                      AS sess_start,
            strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS sess_end,
            COUNT(*) AS n_events,
            ROUND((SUM(value)) * 100.0) / 100.0 AS sum_value
        FROM islands
        GROUP BY user_id, sess_id
    """,
    tags=("window-time", "session", "events"),
)
def session_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("sess_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("sess_end"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 (order priority checking): EXISTS → left-semi join against late
# lineitems, then a priority histogram. The semi join never materializes
# matched rows — at scale the lineitem side streams through the join with
# early-out on first match.
# ---------------------------------------------------------------------------
@register(
    "q4_order_priority",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-07-01'
          AND o_orderdate <  TIMESTAMP '1995-10-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority
    """,
    tags=("tpch", "semi-join", "agg"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-07-01"))
        & (F.col("o_orderdate") < F.lit("1995-10-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# TPC-H Q6 (forecasting revenue change): pure filter + global agg — the
# pushdown showcase: every predicate reaches the parquet scan, the agg is
# a two-phase partial/final sum, zero joins.
# ---------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    oracle="""
        SELECT ROUND((SUM(l_extendedprice * l_discount)) * 100.0) / 100.0 AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '1996-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    tags=("tpch", "filter", "agg"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            pround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Multi-granularity time rollup (the "continuous aggregate / hypertable
# rollup" shape): hour, day, and month totals in ONE scan via grouping
# sets over truncated timestamps — no three-pass re-aggregation.
# ---------------------------------------------------------------------------
@register(
    "events_multi_rollup",
    oracle="""
        SELECT
            CAST(date_trunc('hour', ts) AS VARCHAR)  AS hour_ts,
            CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR)   AS day_ts,
            CAST(CAST(date_trunc('month', ts) AS TIMESTAMP) AS VARCHAR) AS month_ts,
            COUNT(*)                                 AS n_events,
            ROUND((SUM(value)) * 100.0) / 100.0      AS sum_value
        FROM events
        GROUP BY GROUPING SETS (
            (date_trunc('hour', ts), date_trunc('day', ts), date_trunc('month', ts)),
            (date_trunc('day', ts), date_trunc('month', ts)),
            (date_trunc('month', ts))
        )
    """,
    tags=("agg", "grouping-sets", "window-time", "events"),
)
def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").cast("string").alias("hour_ts"),
        F.date_trunc("day", "ts").cast("string").alias("day_ts"),
        F.date_trunc("month", "ts").cast("string").alias("month_ts"),
        "value",
    )
    return (
        events.groupingSets(
            [["hour_ts", "day_ts", "month_ts"], ["day_ts", "month_ts"], ["month_ts"]],
            "hour_ts",
            "day_ts",
            "month_ts",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Array aggregation: per-user behavior profile as a sorted, joined list —
# collect_set is the distributed set-accumulator; output as a joined
# string because array hashing is engine-specific but strings are not.
# ---------------------------------------------------------------------------
@register(
    "array_agg_user_profile",
    oracle="""
        SELECT
            user_id,
            array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types,
            COUNT(DISTINCT event_type) AS n_types,
            list_contains(list(event_type), 'purchase') AS is_buyer
        FROM events
        GROUP BY user_id
    """,
    tags=("agg", "array", "events"),
)
def array_agg_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.countDistinct("event_type").alias("n_types"),
        F.array_contains(F.collect_list("event_type"), "purchase").alias("is_buyer"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 (shipping modes / priority): join + conditional aggregation
# (CASE inside SUM — branch-free conditional counting in one pass).
# The reference table has no shipmode column; the adapted discriminator is
# the linestatus, preserving the query's shape: equi-join then two
# filtered counts per group.
# ---------------------------------------------------------------------------
@register(
    "q12_priority_by_linestatus",
    oracle="""
        SELECT
            l_linestatus,
            CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
            CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '1996-01-01'
        GROUP BY l_linestatus
    """,
    tags=("tpch", "join", "conditional-agg"),
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 (promotion effect): conditional revenue share — the
# numerator/denominator both come from ONE pass over the joined rows
# (no second scan for the ratio).
# ---------------------------------------------------------------------------
@register(
    "q14_promo_revenue",
    oracle="""
        SELECT ROUND((
            100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
            / SUM(l_extendedprice * (1 - l_discount))
        ) * 10000.0) / 10000.0 AS promo_revenue_pct
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-09-01'
          AND l_shipdate <  TIMESTAMP '1995-10-01'
    """,
    tags=("tpch", "join", "conditional-agg"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate") < F.lit("1995-10-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            pround(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


# ---------------------------------------------------------------------------
# Pivot: long→wide with explicit pivot values (passing the value list
# skips the extra distinct-collection pass Spark otherwise runs — at
# 100 TB the implicit pass is a full extra scan; the explicit list is
# also what keeps the output schema stable for the sink).
# ---------------------------------------------------------------------------
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_user_event_matrix",
    oracle=f"""
        SELECT
            user_id,
            {", ".join(
                f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
                for t in EVENT_TYPES
            )}
        FROM events
        GROUP BY user_id
    """,
    tags=("agg", "pivot", "events"),
)
def pivot_user_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    )


# ---------------------------------------------------------------------------
# Unpivot (melt): wide→long — lineitem's three price measures as
# (measure, value) rows, then a per-measure rollup. Spark's unpivot is a
# zero-shuffle Expand (each input row fans out in place).
# ---------------------------------------------------------------------------
@register(
    "unpivot_lineitem_measures",
    oracle="""
        WITH long AS (
            SELECT l_linestatus, 'quantity' AS measure, l_quantity AS val FROM lineitem
            UNION ALL
            SELECT l_linestatus, 'extendedprice', l_extendedprice FROM lineitem
            UNION ALL
            SELECT l_linestatus, 'discount', l_discount FROM lineitem
        )
        SELECT
            l_linestatus,
            measure,
            COUNT(*) AS n,
            ROUND((SUM(val)) * 100.0) / 100.0 AS total
        FROM long
        GROUP BY l_linestatus, measure
    """,
    tags=("unpivot", "agg"),
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_linestatus"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    ).withColumn(
        "measure", F.regexp_replace("measure", "^l_", "")
    )
    return long.groupBy("l_linestatus", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.sum("val"), 2).alias("total"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 (large-volume customers): HAVING-filtered aggregate as a join
# input — the big-orders set is computed once (grouped agg + filter) and
# then drives a semi-join-shaped lookup; top-100 via
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@register(
    "q18_large_volume_customers",
    oracle="""
        WITH big AS (
            SELECT l_orderkey, SUM(l_quantity) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(l_quantity) > 150
        )
        SELECT
            c_custkey,
            c_name,
            o_orderkey,
            CAST(o_orderdate AS VARCHAR) AS orderdate,
            ROUND((o_totalprice) * 100.0) / 100.0 AS totalprice,
            ROUND((b.total_qty) * 100.0) / 100.0 AS total_qty
        FROM big b
        JOIN orders   ON o_orderkey = b.l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY totalprice DESC, o_orderkey ASC
        LIMIT 100
    """,
    tags=("tpch", "join", "having", "topk"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("orderdate"),
            pround(F.col("o_totalprice"), 2).alias("totalprice"),
            pround(F.col("total_qty"), 2).alias("total_qty"),
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Day-over-day retention: lag window over per-user active days — the
# standard product-analytics shape (distinct-day compaction first, so the
# window sorts days not events).
# ---------------------------------------------------------------------------
@register(
    "events_user_retention",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
            FROM events
        ),
        gaps AS (
            SELECT user_id, d,
                   date_diff('day', LAG(d) OVER (PARTITION BY user_id ORDER BY d), d) AS gap
            FROM days
        )
        SELECT
            CAST(d AS VARCHAR) AS day,
            COUNT(*) AS active_users,
            CAST(SUM(CASE WHEN gap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS retained_from_prev_day
        FROM gaps
        GROUP BY d
    """,
    tags=("window", "retention", "events"),
)
def events_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    gaps = days.withColumn("gap", F.datediff(F.col("d"), F.lag("d").over(w)))
    return gaps.groupBy(F.col("d").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("active_users"),
        F.sum(F.when(F.col("gap") == 1, 1).otherwise(0)).alias(
            "retained_from_prev_day"
        ),
    )


# ---------------------------------------------------------------------------
# Q19-shaped disjunctive-predicate join: OR-of-conjunctions across both
# join sides. Catalyst extracts the common l_partkey = p_partkey equi-key
# so this stays a hash join with the disjunction as a post-join filter —
# NOT a nested-loop — and pushes the single-side conjuncts
# (quantity bounds, size bounds) down to the scans.
# ---------------------------------------------------------------------------
@register(
    "q19_disjunctive_revenue",
    oracle="""
        SELECT ROUND((SUM(l_extendedprice * (1 - l_discount))) * 100.0) / 100.0 AS revenue
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 20 AND 40)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 35 AND 50)
    """,
    tags=("tpch", "join", "disjunction"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    arm = lambda brand, s_lo, s_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    cond = arm("Brand#1", 1, 15, 1, 21) | arm("Brand#2", 10, 30, 20, 40) | arm(
        "Brand#3", 20, 50, 35, 50
    )
    return joined.filter(cond).agg(
        pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 (top supplier): an aggregate feeding a max-subquery filter —
# the revenue table is computed once and self-compared (Spark plans the
# scalar max as a subquery broadcast, no second scan of lineitem).
# ---------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   ROUND((SUM(l_extendedprice * (1 - l_discount))) * 100.0) / 100.0 AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate <  TIMESTAMP '1995-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier
        JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    tags=("tpch", "subquery", "agg"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1995-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(revenue, supp.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 (global sales opportunity): scalar-average subquery filter +
# anti join — customers with above-average balances and no RECENT orders
# (dormant since the cutoff). The date bound keeps the anti join
# non-trivial on the generated data, where every rich customer has SOME
# order — without it the result is empty at sf0.01 and the green row
# never value-checks the anti-join. The average broadcasts (1 row); the
# anti join streams the filtered orders keys.
# ---------------------------------------------------------------------------
_Q22_CUTOFF = "2000-01-01"


@register(
    "q22_global_sales_opportunity",
    oracle=f"""
        WITH avg_bal AS (
            SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
        )
        SELECT
            c_mktsegment,
            COUNT(*) AS numcust,
            ROUND((SUM(c_acctbal)) * 100.0) / 100.0 AS totacctbal
        FROM customer, avg_bal
        WHERE c_acctbal > a
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '{_Q22_CUTOFF}')
        GROUP BY c_mktsegment
    """,
    tags=("tpch", "anti-join", "subquery"),
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(_Q22_CUTOFF)
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    no_orders = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return no_orders.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        pround(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 (volume shipping): two nation roles on one dimension — the
# nation table joins twice under different aliases (supplier nation vs
# customer nation) with a cross-pair disjunction, then a per-year rollup.
# Both nation sides broadcast; the fact chain shuffles once on orderkey.
# ---------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    oracle="""
        SELECT
            n1.n_name AS supp_nation,
            n2.n_name AS cust_nation,
            CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
            ROUND((SUM(l_extendedprice * (1 - l_discount))) * 100.0) / 100.0 AS revenue
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
        GROUP BY 1, 2, 3
    """,
    tags=("tpch", "join", "self-dim"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31")
    )
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Column profiling — the ANALYZE-style one-pass table profile (null
# counts, distincts, ranges) every ingestion pipeline runs before
# trusting a new drop. One scan, one (tiny) global aggregate; distinct
# counts use exact count(distinct) here, the sketch variant is
# sketch_user_activity.
# ---------------------------------------------------------------------------
@register(
    "profile_lineitem_columns",
    oracle="""
        SELECT
            COUNT(*)                                        AS n_rows,
            COUNT(DISTINCT l_orderkey)                      AS d_orderkey,
            COUNT(DISTINCT l_partkey)                       AS d_partkey,
            CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_returnflag,
            ROUND((MIN(l_quantity)) * 100.0) / 100.0        AS min_qty,
            ROUND((MAX(l_quantity)) * 100.0) / 100.0        AS max_qty,
            ROUND((MIN(l_extendedprice)) * 100.0) / 100.0   AS min_price,
            ROUND((MAX(l_extendedprice)) * 100.0) / 100.0   AS max_price,
            CAST(MIN(l_shipdate) AS VARCHAR)                AS min_shipdate,
            CAST(MAX(l_shipdate) AS VARCHAR)                AS max_shipdate
        FROM lineitem
    """,
    tags=("profiling", "agg"),
)
def profile_lineitem_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("d_orderkey"),
        F.countDistinct("l_partkey").alias("d_partkey"),
        F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)).alias(
            "null_returnflag"
        ),
        pround(F.min("l_quantity"), 2).alias("min_qty"),
        pround(F.max("l_quantity"), 2).alias("max_qty"),
        pround(F.min("l_extendedprice"), 2).alias("min_price"),
        pround(F.max("l_extendedprice"), 2).alias("max_price"),
        F.min("l_shipdate").cast("string").alias("min_shipdate"),
        F.max("l_shipdate").cast("string").alias("max_shipdate"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 (national market share): the deepest join chain in the suite —
# part->lineitem->orders->customer->nation->region plus supplier->nation —
# finishing in a conditional-share aggregation (sum(case)/sum). part is
# filtered to one p_type before the join, so at 100 TB the fact side is
# pre-reduced by a semi-joinable dimension filter; nation/region broadcast,
# the two fact joins shuffle on their keys, and the final agg is 2 rows.
# ---------------------------------------------------------------------------
@register(
    "q8_national_market_share",
    oracle="""
        SELECT
            o_year,
            ROUND((SUM(CASE WHEN nation = 'NATION_1' THEN revenue ELSE 0 END)
                   / SUM(revenue)) * 10000.0) / 10000.0 AS mkt_share
        FROM (
            SELECT
                CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                l_extendedprice * (1 - l_discount) AS revenue,
                n2.n_name AS nation
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA'
              AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                                  AND TIMESTAMP '1996-12-31'
              AND p_type = 'ECONOMY'
        ) all_nations
        GROUP BY o_year
    """,
    tags=("tpch", "join", "share"),
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            pround(
                F.sum(F.when(F.col("nation") == "NATION_1", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape (product type profit). The testdata has no partsupp table
# (TESTDATA.md), so supply cost is proxied deterministically as
# 0.1 * p_retailprice * l_quantity — the aggregation/join SHAPE (profit
# rollup by supplier nation x order year over a name-filtered part set) is
# what's exercised, exactly as in TPC-H Q9.
#
# The profit sum mixes positive and negative terms (cancellation), so a
# post-hoc pround of a float SUM straddles cent boundaries between engines
# at sf0.1. Instead each row is rounded to integer CENTS (portable: see
# _portable.py) and summed as BIGINT — exact and summation-order-free.
# ---------------------------------------------------------------------------
@register(
    "q9_product_type_profit",
    oracle="""
        SELECT
            nation,
            o_year,
            SUM(CAST(ROUND(amount * 100.0) AS BIGINT)) / 100.0 AS sum_profit
        FROM (
            SELECT
                n_name AS nation,
                CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                l_extendedprice * (1 - l_discount)
                  - 0.1 * p_retailprice * l_quantity AS amount
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%gear%'
        ) profit
        GROUP BY nation, o_year
    """,
    tags=("tpch", "join", "agg"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(
            (F.sum(F.round(amount * 100.0, 0).cast("long")) / 100.0).alias(
                "sum_profit"
            )
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 (customer distribution): LEFT OUTER join with the predicate in
# the JOIN condition (not WHERE — customers with zero qualifying orders
# must survive with count 0), then a second aggregation over the first's
# output: a histogram of customers by order count. Two shuffles by
# construction (custkey, then c_count); the second input is one row per
# customer so it's the cheap one.
# ---------------------------------------------------------------------------
@register(
    "q13_customer_distribution",
    oracle="""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT OUTER JOIN orders
              ON c_custkey = o_custkey
             AND o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
    """,
    tags=("tpch", "outer-join", "histogram"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape (important stock): per-key value totals kept only when
# they exceed a GLOBAL-SCALAR threshold (1.5x the mean part value — unlike
# TPC-H's fixed fraction-of-total this is scale-invariant, so the query
# returns a meaningful tail at every SF) — the global scalar is a
# 1-row aggregate broadcast back against the per-key aggregate
# (crossJoin(broadcast(...))), so the "subquery" costs one extra reduce,
# not a second scan of the grouped data. partsupp doesn't exist in the
# testdata; part value is lineitem revenue through NATION_3 suppliers.
# ---------------------------------------------------------------------------
@register(
    "q11_important_part_value",
    oracle="""
        WITH val AS (
            SELECT
                l_partkey AS partkey,
                SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100.0)
                         AS BIGINT)) / 100.0 AS part_value
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
            GROUP BY l_partkey
        )
        SELECT partkey, part_value
        FROM val
        WHERE part_value > (SELECT AVG(part_value) FROM val) * 1.5
    """,
    tags=("tpch", "subquery", "scalar-broadcast"),
)
def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0,
                        0,
                    ).cast("long")
                )
                / 100.0
            ).alias("part_value")
        )
    )
    total = val.agg((F.avg("part_value") * 1.5).alias("threshold"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("partkey", "part_value")
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape (min-cost supplier): ARGMIN per group. No partsupp table,
# so the "offer" is (part, supplier) observed unit price from lineitem;
# for each filtered part pick the supplier with the cheapest observed
# unit price (tiebreak: suppkey). MIN over doubles is exact (no summation
# order), so ranking on the raw min is engine-portable; rounding is for
# display only. Spark plan: one shuffle to (partkey,suppkey), window over
# partkey — both partial-aggregated map-side first.
# ---------------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    oracle="""
        WITH offers AS (
            SELECT
                p_partkey, p_name, s_suppkey, s_name,
                MIN(l_extendedprice / l_quantity) AS unit_cost
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE p_type = 'STANDARD' AND p_size < 10
            GROUP BY p_partkey, p_name, s_suppkey, s_name
        )
        SELECT
            p_partkey AS partkey, p_name AS part_name, s_name AS supplier_name,
            ROUND(unit_cost * 100.0) / 100.0 AS best_unit_cost
        FROM offers
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY p_partkey ORDER BY unit_cost, s_suppkey
        ) = 1
    """,
    tags=("tpch", "window", "argmin"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 10)
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    offers = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    w = Window.partitionBy("p_partkey").orderBy("unit_cost", "s_suppkey")
    return (
        offers.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("part_name"),
            F.col("s_name").alias("supplier_name"),
            pround("unit_cost", 2).alias("best_unit_cost"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape (parts/supplier relationship): COUNT(DISTINCT supplier)
# per part attribute bucket, EXCLUDING a blacklist of suppliers via
# anti-join (TPC-H's NOT IN subquery; here: negative account balance
# stands in for the complaints-comment filter). The blacklist is tiny and
# broadcast; count-distinct expands to a two-phase exact aggregation.
# ---------------------------------------------------------------------------
@register(
    "q16_supplier_part_buckets",
    oracle="""
        SELECT
            p_brand, p_type, p_size,
            COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 9, 15, 23, 36, 45, 49)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
    """,
    tags=("tpch", "anti-join", "count-distinct"),
)
def q16_supplier_part_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 15, 23, 36, 45, 49)
    )
    li = load_table(spark, sf_dir, "lineitem")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(part, F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape (potential part promotion): semi-join against a
# GROUP-HAVING subquery — suppliers who moved more than a threshold
# quantity of a name-filtered part set in one year. The threshold is
# 1.2x the MEAN per-supplier quantity (scale-invariant, so the semi-join
# is selective at every SF); l_quantity is integer-valued, so both the
# per-supplier SUM and the global AVG over those sums are exact and the
# comparison is engine-portable. The qualifying-supplier set is small →
# broadcast semi-join; nation dimension broadcast for the name lookup.
# ---------------------------------------------------------------------------
@register(
    "q20_heavy_shippers",
    oracle="""
        WITH shipped AS (
            SELECT l_suppkey, SUM(l_quantity) AS qty
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'red%'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY l_suppkey
        )
        SELECT s_name, n_name AS nation
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM shipped
            WHERE qty > (SELECT AVG(qty) * 1.2 FROM shipped)
        )
    """,
    tags=("tpch", "semi-join", "having"),
)
def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    shipped = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    threshold = shipped.agg((F.avg("qty") * 1.2).alias("threshold"))
    qualifying = (
        shipped.crossJoin(F.broadcast(threshold))
        .filter(F.col("qty") > F.col("threshold"))
        .select("l_suppkey")
    )
    return (
        supp.join(qualifying, supp.s_suppkey == qualifying.l_suppkey, "semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("nation"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape (suppliers who kept orders waiting). The testdata has no
# commit/receipt dates, so "late" := shipped more than 60 days after the
# order date. A supplier is charged with an order when: the order is
# finished ('F'), it involves >= 2 suppliers, the supplier shipped late,
# and NO OTHER supplier in the order did (TPC-H's EXISTS / NOT EXISTS
# pair). The per-order context comes from WINDOW aggregates over the
# orderkey partition (count/sum over ~a handful of supplier rows per
# order), so the whole query is: one shuffle to (orderkey, suppkey), one
# shuffle to orderkey, no join-back and no second scan of lineitem.
# ---------------------------------------------------------------------------
@register(
    "q21_waiting_supplier",
    oracle="""
        WITH flags AS (
            SELECT
                l_orderkey,
                l_suppkey,
                MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                         THEN 1 ELSE 0 END) AS late
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
            GROUP BY l_orderkey, l_suppkey
        ),
        per_order AS (
            SELECT l_orderkey, COUNT(*) AS nsupp, SUM(late) AS nlate
            FROM flags
            GROUP BY l_orderkey
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM flags
        JOIN per_order ON flags.l_orderkey = per_order.l_orderkey
        JOIN supplier ON flags.l_suppkey = s_suppkey
        WHERE flags.late = 1 AND per_order.nsupp >= 2 AND per_order.nlate = 1
        GROUP BY s_name
    """,
    tags=("tpch", "exists", "self-agg"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = load_table(spark, sf_dir, "supplier")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
    ).otherwise(0)
    flags = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    w = Window.partitionBy("l_orderkey")
    return (
        flags.withColumn("nsupp", F.count(F.lit(1)).over(w))
        .withColumn("nlate", F.sum("late").over(w))
        .filter((F.col("late") == 1) & (F.col("nsupp") >= 2) & (F.col("nlate") == 1))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


FUNNEL_STEPS = ("view", "click", "purchase")


def _funnel_per_user(
    spark: SparkSession, sf_dir: str, steps: tuple[str, ...] = FUNNEL_STEPS
) -> DataFrame:
    """(user_id, t_<step>...) — per-user earliest strictly-ordered
    completion time of each funnel step (NULL once the chain breaks), for
    an ARBITRARY ordered step list. One shuffle on user_id; len(steps)
    pipelined Window nodes (same partitioning → no extra exchanges)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    ts, typ = F.col("ts"), F.col("event_type")
    staged = events.select("user_id", "ts", "event_type")
    prev: str | None = None
    for step in steps:
        cond = typ == step
        if prev is not None:
            cond = cond & (ts > F.col(prev))
        staged = staged.withColumn(f"t_{step}", F.min(F.when(cond, ts)).over(w))
        prev = f"t_{step}"
    return staged.groupBy("user_id").agg(
        *[F.max(f"t_{s}").alias(f"t_{s}") for s in steps]
    )


# ---------------------------------------------------------------------------
# Sequential funnel (view -> click -> purchase): the product-analytics
# sequence query. Each later step must happen STRICTLY AFTER the user's
# earliest completion of the previous step — ordering logic, not just
# per-type counts. Spark plan: ONE shuffle on user_id; the three
# step-timestamps are chained min-over-partition windows (same
# partitioning → pipelined Window nodes, no extra exchange), then a
# per-user collapse and a tiny global count. MIN over timestamps is
# exact, so the whole funnel is portable.
# ---------------------------------------------------------------------------
@register(
    "events_funnel_view_click_purchase",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id
        )
        SELECT
            (SELECT COUNT(*) FROM v) AS n_view,
            (SELECT COUNT(*) FROM c) AS n_view_click,
            (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
    tags=("events", "funnel", "window", "sequence"),
)
def events_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = _funnel_per_user(spark, sf_dir)
    return per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_click"),
        F.count("t_purchase").alias("n_view_click_purchase"),
    )


# ---------------------------------------------------------------------------
# Funnel time-to-convert: latency distribution (p50/p90) from first view
# to the purchase that completes the strict view->click->purchase chain,
# over converting users only. Timestamp differences are exact integer
# microseconds; the percentile interpolation runs over identical integer
# inputs in both engines (same portability argument as
# percentile_order_prices).
# ---------------------------------------------------------------------------
_FUNNEL_SQL_CTES = """
        v AS (
            SELECT user_id, MIN(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id
        )
"""


@register(
    "events_funnel_latency",
    oracle=f"""
        WITH {_FUNNEL_SQL_CTES}
        SELECT
            COUNT(*) AS n_converted,
            ROUND(((quantile_cont(epoch_us(p.t_purchase) - epoch_us(v.t_view), 0.5))
                   / 1000000.0) * 10000.0) / 10000.0 AS p50_sec,
            ROUND(((quantile_cont(epoch_us(p.t_purchase) - epoch_us(v.t_view), 0.9))
                   / 1000000.0) * 10000.0) / 10000.0 AS p90_sec
        FROM p JOIN v ON p.user_id = v.user_id
    """,
    tags=("events", "funnel", "percentile"),
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = _funnel_per_user(spark, sf_dir)
    # timestampdiff is NTZ-safe (the driver's parquet stores timestamp[us]
    # without timezone, read as TIMESTAMP_NTZ) and timezone-free — it
    # differences the raw instants, matching the oracle's epoch_us delta.
    diff = F.expr("timestampdiff(MICROSECOND, t_view, t_purchase)")
    return (
        per_user.filter(F.col("t_purchase").isNotNull())
        .select(diff.alias("d_us"))
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            pround(F.percentile("d_us", 0.5) / 1_000_000.0, 4).alias("p50_sec"),
            pround(F.percentile("d_us", 0.9) / 1_000_000.0, 4).alias("p90_sec"),
        )
    )


# ---------------------------------------------------------------------------
# Trailing 7-day moving average of daily event value — the analytic-frame
# (ROWS BETWEEN) surface over time series. Daily totals are summed as
# exact integer cents (portable regardless of summation order); the
# moving average then runs over ≤7 exact doubles per frame. Two shuffles:
# day rollup, then a single-partition ordered window over ~hundreds of
# day rows (the window input is already aggregate-sized, not event-sized,
# which is what makes the global ordering affordable at 100 TB).
# ---------------------------------------------------------------------------
@register(
    "events_daily_value_trend",
    oracle="""
        WITH daily AS (
            SELECT
                CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS day,
                SUM(CAST(ROUND(value * 100.0) AS BIGINT)) / 100.0 AS day_total
            FROM events
            GROUP BY 1
        )
        SELECT
            day,
            day_total,
            ROUND((AVG(day_total) OVER (
                ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
            )) * 10000.0) / 10000.0 AS ma7
        FROM daily
    """,
    tags=("events", "window", "frame", "timeseries"),
)
def events_daily_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            F.date_trunc("day", F.col("ts")).cast("string").alias("day")
        )
        .agg(
            (F.sum(F.round(F.col("value") * 100.0, 0).cast("long")) / 100.0).alias(
                "day_total"
            )
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day", "day_total", pround(F.avg("day_total").over(w), 4).alias("ma7")
    )


# ---------------------------------------------------------------------------
# Inverse-frequency language weights — the class-balancing factor a
# mixture-controlled training pipeline attaches to each stratum:
# weight(lang) = N / (n_strata * n_lang), computed from exact integer
# counts (one tiny aggregate + a broadcast scalar), so resampling is
# reproducible on any cluster.
# ---------------------------------------------------------------------------
@register(
    "lang_balance_weights",
    oracle="""
        WITH counts AS (
            SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
        )
        SELECT
            lang,
            n_docs,
            ROUND(((SELECT SUM(n_docs) FROM counts) * 1.0
                   / ((SELECT COUNT(*) FROM counts) * n_docs)) * 10000.0)
                / 10000.0 AS weight
        FROM counts
    """,
    tags=("sampling", "weights", "documents"),
)
def lang_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    totals = counts.agg(
        F.sum("n_docs").alias("n_total"), F.count(F.lit(1)).alias("n_strata")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "lang",
        "n_docs",
        pround(
            F.col("n_total") * 1.0 / (F.col("n_strata") * F.col("n_docs")), 4
        ).alias("weight"),
    )


# ---------------------------------------------------------------------------
# Log-template mining over the raw props payload: collapse digit runs to a
# placeholder and count the surviving templates — the first pass of every
# log-analytics / data-quality pipeline (Drain-style template extraction's
# cheap deterministic core). Pure regexp_replace + one low-cardinality
# groupBy; the regex dialect subset used (\d+) behaves identically in
# Spark (Java regex) and DuckDB (RE2, 'g' flag for replace-all).
# ---------------------------------------------------------------------------
@register(
    "events_props_templates",
    oracle="""
        SELECT
            event_type || ' ' || regexp_replace(props, '\\d+', '#', 'g') AS template,
            COUNT(*) AS n_events,
            COUNT(DISTINCT user_id) AS n_users
        FROM events
        WHERE props IS NOT NULL
        GROUP BY 1
    """,
    tags=("events", "text", "template", "agg"),
)
def events_props_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    template = F.concat(
        F.col("event_type"),
        F.lit(" "),
        F.regexp_replace(F.col("props"), r"\d+", "#"),
    )
    return (
        events.filter(F.col("props").isNotNull())
        .groupBy(template.alias("template"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Hot-key profiler — the skew diagnostic run BEFORE choosing a join
# strategy at 100 TB: the heaviest join-key values and their share of the
# table. One partial-aggregated count shuffle + a 20-row
# TakeOrderedAndProject; deterministic tiebreak on the key keeps the
# LIMIT stable across engines.
# ---------------------------------------------------------------------------
@register(
    "profile_hot_orderkeys",
    oracle="""
        SELECT
            l_orderkey,
            COUNT(*) AS n_rows,
            ROUND((COUNT(*) * 1.0
                   / (SELECT COUNT(*) FROM lineitem)) * 1000000.0)
                / 1000000.0 AS row_share
        FROM lineitem
        GROUP BY l_orderkey
        ORDER BY n_rows DESC, l_orderkey
        LIMIT 20
    """,
    tags=("profiling", "skew", "topk"),
)
def profile_hot_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_rows"))
    total = li.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "l_orderkey",
            "n_rows",
            pround(F.col("n_rows") * 1.0 / F.col("n_total"), 6).alias("row_share"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("l_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Window-function surface beyond rank/lag: ntile quartiles, relative-rank
# family (percent_rank, cume_dist), offset family (lead+lag together), and
# a frame-pinned nth_value. ORDER BY is pinned to a unique key tiebreak so
# RANGE/ROWS frame ambiguity can't split engines; percent_rank/cume_dist
# are exact rationals k/n — a single IEEE division, bit-identical in both.
# Scale: one hash-partition shuffle on o_custkey; every function then runs
# inside the same sorted window pass — no extra exchange per function.
# ---------------------------------------------------------------------------
@register(
    "window_functions_showcase",
    oracle="""
        SELECT
            o_custkey,
            o_orderkey,
            ntile(4)       OVER w AS spend_quartile,
            percent_rank() OVER w AS pct_rank,
            cume_dist()    OVER w AS cume,
            lag(o_totalprice, 1)  OVER w AS prev_price,
            lead(o_totalprice, 1) OVER w AS next_price,
            nth_value(o_totalprice, 2) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS second_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window", "orders"),
)
def window_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("spend_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.nth_value("o_totalprice", 2).over(wrows).alias("second_price"),
    )


# ---------------------------------------------------------------------------
# Hourly anomaly detection — z-score of each (event_type, hour) count
# against that type's hourly distribution. The moments are computed
# MANUALLY from SUM(n), SUM(n*n), COUNT (all exact integers) with an
# identical expression tree in both engines, because built-in STDDEV
# differs between implementations (Welford vs naive) in the last bits.
# Scale: two aggregations over (type, hour) keys — the per-type stats side
# is 5 rows, broadcast back onto the hourly counts; events themselves are
# touched once.
# ---------------------------------------------------------------------------
@register(
    "events_hourly_anomaly",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
                   COUNT(*) AS n_events
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type,
                   CAST(SUM(n_events) AS BIGINT)            AS tot,
                   COUNT(*)                                 AS n_hours,
                   CAST(SUM(n_events * n_events) AS BIGINT) AS totsq
            FROM hourly GROUP BY event_type
        )
        SELECT h.event_type,
               CAST(h.h AS VARCHAR) AS hour_ts,
               h.n_events,
               ROUND(((h.n_events - s.tot * 1.0 / s.n_hours)
                   / sqrt((s.totsq - s.tot * s.tot * 1.0 / s.n_hours)
                          / (s.n_hours - 1))) * 10000.0) / 10000.0 AS z_r,
               ABS((h.n_events - s.tot * 1.0 / s.n_hours)
                   / sqrt((s.totsq - s.tot * s.tot * 1.0 / s.n_hours)
                          / (s.n_hours - 1))) > 3.0 AS is_anomaly
        FROM hourly h JOIN stats s USING (event_type)
    """,
    tags=("events", "anomaly", "window-time"),
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    stats = hourly.groupBy("event_type").agg(
        F.sum("n_events").alias("tot"),
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("totsq"),
    )
    mean = F.col("tot") * F.lit(1.0) / F.col("n_hours")
    std = F.sqrt(
        (F.col("totsq") - F.col("tot") * F.col("tot") * F.lit(1.0) / F.col("n_hours"))
        / (F.col("n_hours") - F.lit(1))
    )
    z = (F.col("n_events") - mean) / std
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            F.col("h").cast("string").alias("hour_ts"),
            "n_events",
            pround(z, 4).alias("z_r"),
            (F.abs(z) > 3.0).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# SCD2 merge (CDC upsert) — apply a change batch to a dimension with full
# history: matched rows close (is_current=false) and re-emit at version+1;
# unmatched rows pass through untouched. The change batch is simulated CDC
# (every 20th customer gets a new balance, deterministic). On Iceberg/Delta
# this is MERGE INTO; expressed engine-neutrally it is ONE left broadcast
# join + an explode over a per-row 1-or-2-element array — no union of three
# scans, the dimension is read once.
# Scale: the change batch is the small side by nature (a CDC tick vs the
# full dimension) → broadcast; the dimension never shuffles at all.
# ---------------------------------------------------------------------------
@register(
    "scd2_customer_merge",
    oracle="""
        WITH chg AS (
            SELECT c_custkey, c_acctbal + 100.0 AS new_bal
            FROM customer WHERE c_custkey % 20 = 0
        )
        SELECT c.c_custkey,
               ROUND((c.c_acctbal) * 100.0) / 100.0 AS acctbal,
               1 AS version,
               (g.c_custkey IS NULL) AS is_current
        FROM customer c LEFT JOIN chg g USING (c_custkey)
        UNION ALL
        SELECT c_custkey,
               ROUND((new_bal) * 100.0) / 100.0 AS acctbal,
               2 AS version,
               TRUE AS is_current
        FROM chg
    """,
    tags=("cdc", "scd2", "merge", "customer"),
)
def scd2_customer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    chg = customer.filter(F.col("c_custkey") % 20 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 100.0).alias("new_bal")
    )
    merged = customer.select("c_custkey", "c_acctbal").join(
        chg, "c_custkey", "left"
    )
    unchanged = F.array(
        F.struct(
            F.col("c_acctbal").alias("bal"),
            F.lit(1).alias("version"),
            F.lit(True).alias("is_current"),
        )
    )
    versioned = F.array(
        F.struct(
            F.col("c_acctbal").alias("bal"),
            F.lit(1).alias("version"),
            F.lit(False).alias("is_current"),
        ),
        F.struct(
            F.col("new_bal").alias("bal"),
            F.lit(2).alias("version"),
            F.lit(True).alias("is_current"),
        ),
    )
    rows = F.when(F.col("new_bal").isNull(), unchanged).otherwise(versioned)
    return merged.select(
        "c_custkey", F.explode(rows).alias("r")
    ).select(
        "c_custkey",
        pround(F.col("r.bal"), 2).alias("acctbal"),
        F.col("r.version").alias("version"),
        F.col("r.is_current").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Time-series gap filling + forward fill — regularize the hourly event
# series onto a dense (event_type × hour) spine: missing hours appear with
# n_events=0, and the rolling metric carries the last observed value
# forward (last_value IGNORE NULLS over an ever-growing frame).
# Scale: the spine is generated (sequence()), never scanned — 2 tiny
# frames (types × hours) broadcast against the hourly aggregate; events
# are read once. The window partitions by event_type, so the fill is one
# shuffle of the ALREADY-AGGREGATED hourly rows, never raw events.
# ---------------------------------------------------------------------------
@register(
    "events_hourly_gapfill",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
                   COUNT(*) AS n,
                   ROUND((SUM(value)) * 100.0) / 100.0 AS sv
            FROM events GROUP BY 1, 2
        ),
        b AS (
            SELECT MIN(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS lo,
                   MAX(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS hi
            FROM events
        ),
        spine AS (
            SELECT unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS h
            FROM b
        ),
        grid AS (
            SELECT t.event_type, s.h
            FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN spine s
        ),
        j AS (
            SELECT g.event_type, g.h, hr.n, hr.sv
            FROM grid g LEFT JOIN hourly hr USING (event_type, h)
        )
        SELECT event_type,
               CAST(h AS VARCHAR) AS hour_ts,
               COALESCE(n, 0) AS n_events,
               (n IS NULL) AS was_gap,
               COALESCE(last_value(sv IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 0.0) AS sum_value_ff
        FROM j
    """,
    tags=("events", "timeseries", "gapfill", "window-time"),
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = events.groupBy("event_type", hour.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), pround(F.sum("value"), 2).alias("sv")
    )
    bounds = events.select(
        F.min(hour).alias("lo"), F.max(hour).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h")
    )
    types = events.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    j = grid.join(F.broadcast(hourly), ["event_type", "h"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        F.col("h").cast("string").alias("hour_ts"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.col("n").isNull().alias("was_gap"),
        F.coalesce(F.last("sv", ignorenulls=True).over(w), F.lit(0.0)).alias(
            "sum_value_ff"
        ),
    )


# ---------------------------------------------------------------------------
# Market-basket pair mining — parts co-purchased in the same order, the
# co-occurrence primitive under recommenders and association rules.
# Formulated WITHOUT a self-join: one groupBy(order) gathers the (small,
# bounded) basket as a sorted array, and the i<j pairs expand in-array
# (nested transform + flatten) — a single shuffle of (order, part) rows
# where the join formulation (the oracle keeps it for independence) needs
# two exchanges + a sort-merge. Pair count per order is bounded by basket
# size (≤7 items in TPC-H-shaped data ⇒ ≤21 pairs), so output grows
# linearly with orders, never quadratically with the table.
# ---------------------------------------------------------------------------
@register(
    "basket_part_pairs",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        )
        SELECT a.l_partkey AS part_a,
               b.l_partkey AS part_b,
               COUNT(*) AS n_orders
        FROM items a
        JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY n_orders DESC, part_a ASC, part_b ASC
        LIMIT 25
    """,
    tags=("basket", "cooccurrence", "lineitem"),
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                # elements strictly after position i (slice is 1-based)
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("part_a"), F.col("p.b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram — decile buckets of equal row count over
# l_extendedprice (the ANALYZE-style statistic an optimizer and a data
# profiler both want; complements the equi-WIDTH text_seqlen_histogram).
# ntile assigns bucket membership in one sorted window pass; per-bucket
# bounds/count follow from a tiny 10-key aggregate.
# Scale note: a global ntile is a single-ordering operation; at 100 TB the
# same statistic comes from approx_percentile boundaries — kept exact here
# so the oracle is exact, and the approx twin is already covered by
# sketch_user_activity.
# ---------------------------------------------------------------------------
@register(
    "histogram_price_deciles",
    oracle="""
        WITH t AS (
            SELECT l_extendedprice AS p,
                   ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS decile
            FROM lineitem
        )
        SELECT decile,
               COUNT(*) AS n_rows,
               ROUND((MIN(p)) * 100.0) / 100.0 AS lo,
               ROUND((MAX(p)) * 100.0) / 100.0 AS hi
        FROM t GROUP BY decile
    """,
    tags=("histogram", "profiling", "lineitem"),
)
def histogram_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth deciles over ALL lineitem rows. A bare
    ``ntile(10) OVER (ORDER BY ...)`` would serialize the whole fact
    table through one partition; instead the global rank is computed
    distributed (operators/_distributed.py: range exchange + local rank
    + broadcast offsets) and NTILE's bucket arithmetic is applied as an
    expression on (rank, total)."""
    from kafka_stream_job_spark.operators._distributed import (
        distributed_rank,
        ntile_from_rank,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("p"), "l_orderkey", "l_linenumber"
    )
    ranked = distributed_rank(
        li, [F.col("p"), F.col("l_orderkey"), F.col("l_linenumber")]
    )
    total = li.agg(F.count(F.lit(1)).cast("long").alias("_total"))
    return (
        ranked.crossJoin(F.broadcast(total))  # one-row scalar
        .select("p", ntile_from_rank(F.col("rnk"), F.col("_total"), 10).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            pround(F.min("p"), 2).alias("lo"),
            pround(F.max("p"), 2).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Pearson correlation via MANUAL moments — built-in corr() accumulates
# float sums in partition order (engine- and plan-dependent); here the
# moments are exact integers (quantity is integer-valued, price rounded to
# whole units), so Sx/Sy/Sxy/Sxx/Syy match bit-for-bit across engines and the
# final expression is one fixed dag of IEEE ops — deterministic, portable.
# Same one-pass shape as events_hourly_anomaly's stddev.
# Scale: a 4-group aggregate with map-side partials; nothing but the
# moment tuple crosses the shuffle.
# ---------------------------------------------------------------------------
@register(
    "stats_qty_price_corr",
    oracle="""
        WITH m AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
                   CAST(SUM(CAST(ROUND(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
                   CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
                   CAST(SUM(CAST(ROUND(l_extendedprice) AS BIGINT)
                          * CAST(ROUND(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy,
                   CAST(SUM(CAST(l_quantity AS BIGINT)
                          * CAST(ROUND(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               n,
               ROUND(((n * 1.0 * sxy - sx * 1.0 * sy)
                   / (sqrt(n * 1.0 * sxx - sx * 1.0 * sx)
                      * sqrt(n * 1.0 * syy - sy * 1.0 * sy)))
                   * 1000000.0) / 1000000.0 AS corr_qty_price
        FROM m
    """,
    tags=("stats", "correlation", "lineitem"),
)
def stats_qty_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice"), 0).cast("long")
    # int64 range: SUM(y*y) with y~5e4 saturates at ~3e9 rows per group
    # (~SF 500); past that BOTH engines fail loudly (Spark ANSI sum
    # overflow / DuckDB HUGEINT->BIGINT cast), never silently — the
    # rank_checksum posture. The double-promoted scale path would trade
    # exactness for range.
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    corr = (
        F.col("n") * F.lit(1.0) * F.col("sxy") - F.col("sx") * F.lit(1.0) * F.col("sy")
    ) / (
        F.sqrt(F.col("n") * F.lit(1.0) * F.col("sxx") - F.col("sx") * F.lit(1.0) * F.col("sx"))
        * F.sqrt(F.col("n") * F.lit(1.0) * F.col("syy") - F.col("sy") * F.lit(1.0) * F.col("sy"))
    )
    return m.select("l_returnflag", "n", pround(corr, 6).alias("corr_qty_price"))


# ---------------------------------------------------------------------------
# PageRank over the part co-purchase graph — the third iterative-
# refinement operator (with connected components and Lloyd k-means), and
# like the k-means rewrite it is made oracle-checkable by QUANTIZATION:
# ranks live as integers (×1e6), per-edge contributions use integer
# division r div deg, and each iteration re-rounds 0.15·S + 0.85·Σ to an
# integer — every quantity is exact and order-free, so Spark and DuckDB
# agree bit-for-bit through all 3 iterations.
# Scale: ranks and degrees are node-sized (tiny vs edges) → broadcast;
# edges stream map-side through the join, and only (dst, partial-sum)
# rows shuffle. The co-purchase edges derive from the same in-array
# basket expansion as basket_part_pairs (no self-join).
# ---------------------------------------------------------------------------
PR_SCALE = 1_000_000
PR_ITERS = 3
PR_TOP = 25


def _pagerank_oracle() -> str:
    sql = f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        edges AS (
            SELECT a.l_partkey AS src, b.l_partkey AS dst
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey <> b.l_partkey
            GROUP BY 1, 2
        ),
        deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT src AS part FROM edges),
        r0 AS (SELECT part, CAST({PR_SCALE} AS BIGINT) AS r FROM nodes)"""
    for i in range(1, PR_ITERS + 1):
        sql += f""",
        r{i} AS (
            SELECT n.part,
                   CAST(ROUND(0.15 * {PR_SCALE} + 0.85 * COALESCE(c.s, 0)) AS BIGINT) AS r
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS part, CAST(SUM(r.r // d.d) AS BIGINT) AS s
                FROM edges e
                JOIN r{i - 1} r ON e.src = r.part
                JOIN deg d ON d.src = e.src
                GROUP BY e.dst
            ) c USING (part)
        )"""
    sql += f"""
        SELECT part, r AS rank_q
        FROM r{PR_ITERS}
        ORDER BY r DESC, part ASC
        LIMIT {PR_TOP}
    """
    return sql


@register(
    "graph_pagerank_parts",
    oracle=_pagerank_oracle(),
    tags=("graph", "pagerank", "iterative", "lineitem"),
)
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    directed = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x: F.transform(
                F.filter(F.col("parts"), lambda y: y != x),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(directed).alias("e"))
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nodes = edges.select(F.col("src").alias("part")).distinct()
    ranks = nodes.select("part", F.lit(PR_SCALE).cast("long").alias("r"))

    for _ in range(PR_ITERS):
        contrib = (
            edges.join(F.broadcast(ranks), edges.src == ranks.part)
            .join(F.broadcast(deg), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("r div d")).alias("s"))
        )
        ranks = (
            nodes.join(F.broadcast(contrib), nodes.part == contrib.dst, "left")
            .select(
                "part",
                F.round(
                    F.lit(0.15) * PR_SCALE + F.lit(0.85) * F.coalesce("s", F.lit(0)),
                    0,
                )
                .cast("long")
                .alias("r"),
            )
        )

    return (
        ranks.orderBy(F.col("r").desc(), F.col("part").asc())
        .limit(PR_TOP)
        .select("part", F.col("r").alias("rank_q"))
    )


# ---------------------------------------------------------------------------
# Event-transition matrix — first-order Markov counts over each user's
# time-ordered event sequence (the session-flow analytics primitive:
# "what follows a view?"). lag() over the per-user ordering pairs each
# event with its predecessor; the ORDER BY is pinned with event_id so ties
# in ts can't reorder across engines. Probabilities are exact rationals
# (pair count / row total of the from-state).
# Scale: one shuffle on user_id for the window, then a 25-key rollup; the
# from-state totals reuse a window over the ALREADY-AGGREGATED pair counts
# (no second scan of events).
# ---------------------------------------------------------------------------
@register(
    "events_transition_matrix",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ),
        pairs AS (
            SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               ROUND((n * 1.0 / SUM(n) OVER (PARTITION BY from_type))
                   * 1000000.0) / 1000000.0 AS p
        FROM pairs
    """,
    tags=("events", "markov", "sequence", "window-time"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        pround(F.col("n") * F.lit(1.0) / F.sum("n").over(wt), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation — recency / frequency / monetary quartiles per customer
# (the standard CRM partitioning). Each dimension ranks independently with
# ntile(4) over a unique-key-pinned ordering; the 3-digit segment code
# concatenates the quartiles. Recency is days since the customer's last
# order, measured against the corpus max date (no wall clock — oracle
# determinism).
# Scale: one groupBy(custkey) over orders; then each quartile rank runs
# through the DISTRIBUTED rank helper (range exchange + local rank +
# broadcast offsets, operators/_distributed.py) — a bare ntile() window
# over the per-customer aggregate would serialize every customer row
# through one partition, which at fact scale is billions of rows.
# ---------------------------------------------------------------------------
@register(
    "rfm_customer_segments",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   MAX(o_orderdate) AS last_order,
                   COUNT(*) AS frequency,
                   ROUND((SUM(o_totalprice)) * 100.0) / 100.0 AS monetary
            FROM orders GROUP BY o_custkey
        ),
        scored AS (
            SELECT o_custkey,
                   CAST(date_diff('day', last_order,
                        (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT) AS recency_days,
                   frequency,
                   monetary,
                   ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_q,
                   ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
                   ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_q
            FROM per_cust
        )
        SELECT o_custkey, recency_days, frequency, monetary,
               r_q, f_q, m_q,
               CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR)
                   AS segment
        FROM scored
    """,
    tags=("rfm", "segmentation", "orders"),
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_rank,
        ntile_from_rank,
    )

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        pround(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    max_date = orders.select(F.max("o_orderdate").alias("corpus_max"))
    ranked = distributed_rank(
        per_cust, [F.col("last_order").desc(), F.col("o_custkey")], rank_col="r_rnk"
    )
    ranked = distributed_rank(
        ranked, [F.col("frequency").desc(), F.col("o_custkey")], rank_col="f_rnk"
    )
    ranked = distributed_rank(
        ranked, [F.col("monetary").desc(), F.col("o_custkey")], rank_col="m_rnk"
    )
    total = per_cust.agg(F.count(F.lit(1)).cast("long").alias("_total"))
    scored = (
        ranked.crossJoin(F.broadcast(max_date))
        .crossJoin(F.broadcast(total))
        .select(
            "o_custkey",
            F.datediff(F.col("corpus_max"), F.col("last_order"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
            ntile_from_rank(F.col("r_rnk"), F.col("_total"), 4).alias("r_q"),
            ntile_from_rank(F.col("f_rnk"), F.col("_total"), 4).alias("f_q"),
            ntile_from_rank(F.col("m_rnk"), F.col("_total"), 4).alias("m_q"),
        )
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_q",
        "f_q",
        "m_q",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ).alias("segment"),
    )


# ---------------------------------------------------------------------------
# Triangle statistics over the part co-purchase graph — n_nodes, n_edges,
# wedges, triangles, global clustering coefficient. Extends the graph
# surface next to graph_pagerank_parts (the reference has no graph
# operators; north-star breadth).
#
# Scale design (100 TB): the naive triangle join enumerates every wedge —
# on a graph with hubs that is sum(deg^2) and dies. Here edges are ORIENTED
# from the lower-(degree, id) endpoint to the higher one first, so every
# node's out-degree is bounded by O(sqrt(edges)) (arboricity argument) and
# the wedge set the final join probes is the minimum possible. Wedge pairs
# come from the same in-array expansion as basket_part_pairs — no
# self-join, so no exchange is duplicated. The probe join on the canonical
# (u, v) edge key is an equi-join AQE can skew-split. The oracle chains
# id-ordered edges (a<b<c) instead — a different enumeration of the SAME
# triangle set, so the counts agree exactly.
# ---------------------------------------------------------------------------
@register(
    "graph_triangle_stats",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        -- MATERIALIZED: edges feeds the triangle triple-join AND four
        -- scalar subqueries; DuckDB would inline (re-run) the basket
        -- self-join for each without it
        edges AS MATERIALIZED (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        ),
        deg AS MATERIALIZED (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM edges
                  UNION ALL SELECT v AS node FROM edges)
            GROUP BY node
        ),
        tri AS MATERIALIZED (
            SELECT COUNT(*) AS n_triangles
            FROM edges e1
            JOIN edges e2 ON e2.u = e1.v
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT)            AS n_nodes,
               CAST((SELECT COUNT(*) FROM edges) AS BIGINT)          AS n_edges,
               CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT) AS n_wedges,
               CAST((SELECT n_triangles FROM tri) AS BIGINT)         AS n_triangles,
               ROUND(((SELECT n_triangles FROM tri) * 3.0
                      / (SELECT SUM(d * (d - 1) // 2) FROM deg)) * 1000000.0)
                   / 1000000.0 AS global_cc
    """,
    tags=("graph", "triangles", "lineitem"),
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pair_expand = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(pair_expand).alias("p"))
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .distinct()
        # Consumed 4x (deg, orientation, probe join, edge count): pin the
        # expensive basket->pair->distinct pipeline so it runs ONCE. On a
        # cluster this is the materialize-the-edge-list step every
        # distributed triangle algorithm starts with.
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)  # consumed 3x (du, dv, stats)
    )
    # Orient each edge from the lower-(degree, id) endpoint outward.
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # deg GROWS with the data (one row per node): pin the degree joins
    # non-broadcast too — same growing-side policy as the probe join
    # below (a concurrent-queries driver heap is exactly where an
    # auto-broadcast of "looks small now" degree tables OOMs first).
    oriented = (
        edges.join(du.hint("shuffle_hash"), "u")
        .join(dv.hint("shuffle_hash"), "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    # Out-neighbor pair expansion (no self-join) -> canonical probe keys.
    wedges = (
        oriented.groupBy("src")
        .agg(F.array_sort(F.collect_set("dst")).alias("outs"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("outs"),
                        lambda x, i: F.transform(
                            F.slice(F.col("outs"), i + 2, F.size(F.col("outs"))),
                            lambda y: F.struct(x.alias("u"), y.alias("v")),
                        ),
                    )
                )
            ).alias("w")
        )
        .select(F.col("w.u").alias("u"), F.col("w.v").alias("v"))
    )
    # The probe join must NEVER broadcast: edges grow with the data (the
    # 64 MB auto-broadcast estimate undershoots at sf0.1 and the build
    # OOMs — found by the full sf0.1 oracle sweep). Pin a shuffled hash
    # join: both sides hash-partition on (u, v), no sort, no driver-side
    # build of an unbounded relation.
    tri = wedges.join(edges.hint("shuffle_hash"), ["u", "v"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(
            idiv(F.col("d") * (F.col("d") - 1), 2)
        ).alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            pround(
                F.col("n_triangles") * 3.0 / F.col("n_wedges"), 6
            ).alias("global_cc"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout statistics — the multi-dimensional clustering a
# 100 TB table uses so min/max file stats prune scans on BOTH join keys
# (Delta OPTIMIZE ZORDER / Iceberg sort-order equivalent, computed
# declaratively). Each row's (l_partkey, l_suppkey) is normalized to 16
# bits, bit-interleaved into a 32-bit Morton code, and assigned to one of
# ZORDER_BUCKETS contiguous z-ranges ("files"); the output manifest
# reports per-bucket min/max/span of each ORIGINAL key — the exact numbers
# a scan planner would prune with. Spans shrink on both dimensions
# simultaneously, which a single-key sort cannot do.
#
# Scale shape: the z-value is a narrow per-row expression (no shuffle);
# the manifest is one partial-agg groupBy on the bucket id. Writing the
# layout would be repartitionByRange(z) — same expression, same plan
# class. All arithmetic is integer/exact-double (x*65536.0 <= 2^38 is
# exact; floor of an identical IEEE quotient), so the oracle matches
# bit-for-bit.
# ---------------------------------------------------------------------------
ZORDER_BITS = 16
ZORDER_BUCKETS = 64


def _zorder_sql() -> str:
    xi = "CAST(FLOOR(l_partkey * 65536.0 / (mx.max_part + 1)) AS BIGINT)"
    yi = "CAST(FLOOR(l_suppkey * 65536.0 / (mx.max_supp + 1)) AS BIGINT)"
    z = " + ".join(
        f"(({xi} >> {b}) & 1) * {4 ** b} + (({yi} >> {b}) & 1) * {2 * 4 ** b}"
        for b in range(ZORDER_BITS)
    )
    return f"""
        WITH mx AS (
            SELECT MAX(l_partkey) AS max_part, MAX(l_suppkey) AS max_supp
            FROM lineitem
        ),
        coded AS (
            SELECT l_partkey, l_suppkey,
                   CAST(FLOOR(({z}) * {ZORDER_BUCKETS}.0 / 4294967296.0) AS BIGINT)
                       AS bucket
            FROM lineitem, mx
        )
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT)        AS n_rows,
               MIN(l_partkey)                  AS min_part,
               MAX(l_partkey)                  AS max_part,
               MAX(l_partkey) - MIN(l_partkey) AS part_span,
               MIN(l_suppkey)                  AS min_supp,
               MAX(l_suppkey)                  AS max_supp,
               MAX(l_suppkey) - MIN(l_suppkey) AS supp_span
        FROM coded
        GROUP BY bucket
    """


@register(
    "zorder_layout_stats",
    oracle=_zorder_sql(),
    tags=("layout", "zorder", "lineitem"),
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    mx = li.agg(
        F.max("l_partkey").alias("max_part"), F.max("l_suppkey").alias("max_supp")
    )
    coded = li.crossJoin(F.broadcast(mx))
    xi = F.floor(
        F.col("l_partkey") * 65536.0 / (F.col("max_part") + 1)
    ).cast("long")
    yi = F.floor(
        F.col("l_suppkey") * 65536.0 / (F.col("max_supp") + 1)
    ).cast("long")
    # interleave via an explode(array(..)) barrier so the normalized ints
    # are computed once, not once per bit term (CollapseProject)
    staged = coded.select(
        "l_partkey",
        "l_suppkey",
        F.explode(F.array(F.struct(xi.alias("xi"), yi.alias("yi")))).alias("n"),
    )
    z = sum(
        (
            F.shiftright(F.col("n.xi"), b).bitwiseAND(F.lit(1)) * F.lit(4**b)
            + F.shiftright(F.col("n.yi"), b).bitwiseAND(F.lit(1))
            * F.lit(2 * 4**b)
        )
        for b in range(ZORDER_BITS)
    )
    bucket = F.floor(z * float(ZORDER_BUCKETS) / 4294967296.0).cast("long")
    return (
        staged.select("l_partkey", "l_suppkey", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            (F.max("l_partkey") - F.min("l_partkey")).alias("part_span"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
            (F.max("l_suppkey") - F.min("l_suppkey")).alias("supp_span"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality audit — the Deequ-style constraint gate a pipeline runs
# before promoting a snapshot to training: null checks, range checks,
# uniqueness, referential integrity (anti-join), and a cross-table
# temporal-order rule, all in one manifest (check_name, n_checked,
# n_violations). Each check is an independent declarative agg/anti-join —
# partial aggregation map-side, FK probes as hash joins AQE can re-plan;
# nothing is collected. At 100 TB the audits share table scans via the
# same cached bronze read; kept as separate subplans here so each check's
# plan stays independently inspectable.
# ---------------------------------------------------------------------------
@register(
    "data_quality_audit",
    oracle="""
        SELECT 'orders_null_custkey' AS check_name,
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_checked,
               CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
                   AS n_violations
        UNION ALL
        SELECT 'orders_nonpositive_totalprice',
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
               CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT)
        UNION ALL
        SELECT 'orders_duplicate_orderkey',
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
               CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS BIGINT)
        UNION ALL
        SELECT 'orders_fk_customer',
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
               CAST((SELECT COUNT(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        UNION ALL
        SELECT 'lineitem_fk_orders',
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
               CAST((SELECT COUNT(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        UNION ALL
        SELECT 'lineitem_quantity_range',
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
               CAST((SELECT COUNT(*) FROM lineitem
                     WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
        UNION ALL
        SELECT 'lineitem_ship_before_order',
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
               CAST((SELECT COUNT(*) FROM lineitem l
                     JOIN orders o ON o.o_orderkey = l.l_orderkey
                     WHERE l.l_shipdate < o.o_orderdate) AS BIGINT)
        UNION ALL
        SELECT 'customer_null_name',
               CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
               CAST((SELECT COUNT(*) FROM customer WHERE c_name IS NULL) AS BIGINT)
    """,
    tags=("quality", "audit", "orders", "lineitem", "customer"),
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    def check(name: str, checked_df: DataFrame, violations_df: DataFrame) -> DataFrame:
        n_checked = checked_df.agg(F.count(F.lit(1)).alias("n_checked"))
        n_viol = violations_df.agg(F.count(F.lit(1)).alias("n_violations"))
        return (
            n_checked.crossJoin(F.broadcast(n_viol))
            .select(
                F.lit(name).alias("check_name"), "n_checked", "n_violations"
            )
        )

    dup = orders.agg(
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_violations"),
    ).select(F.lit("orders_duplicate_orderkey").alias("check_name"), "n_checked", "n_violations")

    checks = [
        check(
            "orders_null_custkey",
            orders,
            orders.filter(F.col("o_custkey").isNull()),
        ),
        check(
            "orders_nonpositive_totalprice",
            orders,
            orders.filter(F.col("o_totalprice") <= 0),
        ),
        dup,
        check(
            "orders_fk_customer",
            orders,
            orders.join(
                customer, orders.o_custkey == customer.c_custkey, "left_anti"
            ),
        ),
        check(
            "lineitem_fk_orders",
            lineitem,
            lineitem.join(
                orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
            ),
        ),
        check(
            "lineitem_quantity_range",
            lineitem,
            lineitem.filter((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
        ),
        check(
            "lineitem_ship_before_order",
            lineitem,
            lineitem.join(
                orders, lineitem.l_orderkey == orders.o_orderkey
            ).filter(F.col("l_shipdate") < F.col("o_orderdate")),
        ),
        check(
            "customer_null_name",
            customer,
            customer.filter(F.col("c_name").isNull()),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# ---------------------------------------------------------------------------
# Pareto frontier (skyline): suppliers not dominated on
# (revenue, customers-served) — "show me the suppliers where no other
# supplier is at least as good on both axes and better on one".
#
# No dominance self-join: for 2 maximized metrics the frontier falls out
# of one sweep — sort by (m1 DESC, m2 DESC), keep a row iff its m2 beats
# the running max of all better-m1 rows. That running max is an
# EXCLUSIVE global prefix-max, routed through distributed_prefix_max
# (range exchange → per-partition window → |partitions|-row broadcast
# offsets) so the sweep parallelizes: suppliers grow with the data
# (~10 M at 100 TB-equivalent SF) and a bare empty-partition-spec Window
# would serialize them into one task. Revenue is summed as integer cents
# (exact, order-free — the portable pattern from
# memory/spark-graft-gotchas), so ties and comparisons are
# engine-identical.
# ---------------------------------------------------------------------------
@register(
    "supplier_pareto_frontier",
    oracle="""
        WITH m AS (
            SELECT l.l_suppkey AS suppkey,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100.0)
                            AS BIGINT)) AS BIGINT) AS revenue_cents,
                   CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            GROUP BY l.l_suppkey
        ),
        swept AS (
            SELECT suppkey, revenue_cents, n_customers,
                   MAX(n_customers) OVER (
                       ORDER BY revenue_cents DESC, n_customers DESC, suppkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS best_prior
            FROM m
        )
        SELECT suppkey, revenue_cents, n_customers
        FROM swept
        WHERE best_prior IS NULL OR n_customers > best_prior
    """,
    tags=("skyline", "window", "lineitem", "orders"),
)
def supplier_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_prefix_max,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0, 0
    ).cast("long")
    m = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )
    swept = distributed_prefix_max(
        m,
        [
            F.col("revenue_cents").desc(),
            F.col("n_customers").desc(),
            F.col("suppkey"),
        ],
        "n_customers",
        out_col="best_prior",
        exclusive=True,
    )
    return swept.filter(
        F.col("best_prior").isNull() | (F.col("n_customers") > F.col("best_prior"))
    ).select("suppkey", "revenue_cents", "n_customers")


# ---------------------------------------------------------------------------
# OLS revenue trend — slope/intercept/R² of daily order revenue against
# time, from MANUAL moments: COUNT, Σx, Σy, Σxy, Σx², Σy² over
# integer-valued inputs (x = epoch day, y = whole-currency daily revenue),
# then one fixed IEEE expression for the closed form. Built-in regr_* /
# corr aggregates are NOT engine-portable (Welford vs naive); exact
# integer sums + identical final arithmetic are (the
# stats_qty_price_corr pattern). Moments are promoted to double BEFORE
# the n·Sxy-style products so nothing overflows BIGINT.
# Scale: two partial-agg groupBys (day rollup, then a 6-number global
# moment agg) — no window, no sort, no collect.
# ---------------------------------------------------------------------------
@register(
    "revenue_trend_ols",
    oracle="""
        WITH daily AS (
            -- per-row integer cents summed exactly, then one deterministic
            -- cents->whole-units round (x/100.0 hits representable halves,
            -- which both engines round away from zero identically)
            SELECT CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS x,
                   CAST(ROUND(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) / 100.0)
                        AS BIGINT) AS y
            FROM orders
            GROUP BY o_orderdate
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy
            FROM daily
        )
        SELECT n,
               ROUND(((n * 1.0 * sxy - sx * 1.0 * sy)
                      / (n * 1.0 * sxx - sx * 1.0 * sx)) * 1000000.0)
                   / 1000000.0 AS slope,
               ROUND(((sy * 1.0 / n) - ((n * 1.0 * sxy - sx * 1.0 * sy)
                      / (n * 1.0 * sxx - sx * 1.0 * sx)) * (sx * 1.0 / n))
                      * 1000000.0) / 1000000.0 AS intercept,
               ROUND((((n * 1.0 * sxy - sx * 1.0 * sy)
                       * (n * 1.0 * sxy - sx * 1.0 * sy))
                      / ((n * 1.0 * sxx - sx * 1.0 * sx)
                         * (n * 1.0 * syy - sy * 1.0 * sy))) * 1000000.0)
                   / 1000000.0 AS r2
        FROM m
    """,
    tags=("stats", "regression", "orders"),
)
def revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
    daily = orders.groupBy("o_orderdate").agg(
        F.round(F.sum(cents) / 100.0, 0).cast("long").alias("y")
    ).select(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        "y",
    )
    # int64 range: y is daily revenue cents (SF-scaled), so y*y saturates
    # int64 around SF~30's daily volumes — loudly on both engines (Spark
    # ANSI multiply overflow / DuckDB BIGINT overflow), never silently.
    # The input is ONE row per day (bounded by the time domain), so the
    # practical exposure is revenue magnitude, not row count.
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = n * 1.0 * sxy - sx * 1.0 * sy
    var_x = n * 1.0 * sxx - sx * 1.0 * sx
    var_y = n * 1.0 * syy - sy * 1.0 * sy
    slope = cov_n / var_x
    return m.select(
        "n",
        pround(slope, 6).alias("slope"),
        pround((sy * 1.0 / n) - slope * (sx * 1.0 / n), 6).alias("intercept"),
        pround((cov_n * cov_n) / (var_x * var_y), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Peak session concurrency per day — the interval-overlap sweep: sessions
# (from the same 30-minute session windows as session_window_rollup) are
# split at day boundaries, each segment emits a +1 start / -1 end
# boundary, boundaries collapse to per-(day, ts) net deltas, and a
# per-day running sum's maximum is the day's peak concurrency. Half-open
# [start, end) semantics: ends apply before starts at an equal timestamp
# (collapsing to net deltas per distinct ts makes the cumsum — and the
# max — fully deterministic).
#
# Scale shape (100 TB): the day split bounds every window partition to
# one day of boundaries, so the sweep parallelizes per day instead of one
# global ordered pass; everything upstream is the session aggregate the
# engine already computes. The oracle reproduces the same sweep from the
# gaps-and-islands session CTE.
# ---------------------------------------------------------------------------
@register(
    "events_peak_concurrency",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                        OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        islands AS (
            SELECT user_id, ts, event_id,
                   SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS sess_id
            FROM ordered
        ),
        sess AS (
            SELECT MIN(ts) AS s, MAX(ts) + INTERVAL 30 MINUTE AS e
            FROM islands GROUP BY user_id, sess_id
        ),
        seg AS (
            SELECT day,
                   greatest(s, day) AS seg_s,
                   least(e, day + INTERVAL 1 DAY) AS seg_e
            FROM (
                SELECT s, e,
                       unnest(generate_series(
                           CAST(date_trunc('day', s) AS TIMESTAMP),
                           CAST(date_trunc('day', e - INTERVAL 1 MICROSECOND)
                                AS TIMESTAMP),
                           INTERVAL 1 DAY)) AS day
                FROM sess
            )
        ),
        bounds AS (
            SELECT day, seg_s AS ts, 1 AS d FROM seg
            UNION ALL
            SELECT day, seg_e AS ts, -1 AS d FROM seg
        ),
        net AS (
            SELECT day, ts, CAST(SUM(d) AS BIGINT) AS net
            FROM bounds GROUP BY day, ts
        ),
        swept AS (
            SELECT day,
                   SUM(net) OVER (
                       PARTITION BY day ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS cum
            FROM net
        ),
        nsess AS (
            SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions
            FROM seg GROUP BY day
        )
        SELECT strftime(p.day, '%Y-%m-%d') AS day,
               n.n_sessions,
               CAST(MAX(p.cum) AS BIGINT) AS peak_concurrent
        FROM swept p JOIN nsess n USING (day)
        GROUP BY strftime(p.day, '%Y-%m-%d'), n.n_sessions
    """,
    tags=("window-time", "session", "interval", "events"),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    sess = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(F.col("w.start").alias("s"), F.col("w.end").alias("e"))
    )
    days = F.sequence(
        F.date_trunc("day", F.col("s")),
        F.date_trunc("day", F.expr("e - INTERVAL 1 MICROSECOND")),
        F.expr("INTERVAL 1 DAY"),
    )
    seg = sess.select("s", "e", F.explode(days).alias("day")).select(
        "day",
        F.greatest("s", "day").alias("seg_s"),
        F.least(F.col("e"), F.col("day") + F.expr("INTERVAL 1 DAY")).alias("seg_e"),
    )
    bounds = seg.select(
        "day", F.col("seg_s").alias("ts"), F.lit(1).alias("d")
    ).unionByName(seg.select("day", F.col("seg_e").alias("ts"), F.lit(-1).alias("d")))
    net = bounds.groupBy("day", "ts").agg(F.sum("d").alias("net"))
    w = (
        Window.partitionBy("day")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = net.withColumn("cum", F.sum("net").over(w))
    nsess = seg.groupBy("day").agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        swept.groupBy("day")
        .agg(F.max("cum").alias("peak_concurrent"))
        .join(nsess, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_sessions",
            "peak_concurrent",
        )
    )


# ---------------------------------------------------------------------------
# Snapshot diff via FULL OUTER join — the table-reconciliation shape
# behind CDC audits and Iceberg-style snapshot comparison: two
# deterministic hash-derived "snapshots" of the documents table are
# reconciled on the primary key; rows only in the new snapshot are
# `added`, only in the old are `removed`, in both are `common`. The FULL
# OUTER join is the one join type nothing else in the registry exercises.
#
# Scale shape (100 TB): a full-outer equi-join on the table key is one
# co-partitioned shuffle of each snapshot (SMJ at scale — neither side
# broadcastable); the diff classification is a projection over the join,
# and the report is a 3-group partial agg. At real scale you'd feed this
# with two Iceberg snapshot scans instead of the hash filters.
# ---------------------------------------------------------------------------
@register(
    "snapshot_diff_report",
    oracle=f"""
        WITH snap_old AS (
            SELECT doc_id FROM documents WHERE {md5_int_sql("doc_id", "snap:")} % 3 <> 0
        ),
        snap_new AS (
            SELECT doc_id FROM documents WHERE {md5_int_sql("doc_id", "snap:")} % 5 <> 0
        )
        SELECT
            CASE WHEN o.doc_id IS NULL THEN 'added'
                 WHEN n.doc_id IS NULL THEN 'removed'
                 ELSE 'common' END AS status,
            CAST(COUNT(*) AS BIGINT)  AS n_docs,
            MIN(COALESCE(o.doc_id, n.doc_id)) AS min_doc_id,
            MAX(COALESCE(o.doc_id, n.doc_id)) AS max_doc_id
        FROM snap_old o
        FULL OUTER JOIN snap_new n ON o.doc_id = n.doc_id
        GROUP BY 1
    """,
    tags=("join", "full-outer", "cdc", "documents"),
)
def snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER snapshot reconciliation: added/removed/common counts.

    Reference parity: none (SURVEY.md §2.7 — the reference has no joins);
    north-star CDC/maintenance extension.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = md5_int("doc_id", "snap:")
    old = docs.filter(h % 3 != 0).select(F.col("doc_id").alias("o_id"))
    new = docs.filter(h % 5 != 0).select(F.col("doc_id").alias("n_id"))
    status = (
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .otherwise("common")
    )
    key = F.coalesce(F.col("o_id"), F.col("n_id"))
    return (
        old.join(new, F.col("o_id") == F.col("n_id"), "full_outer")
        .select(status.alias("status"), key.alias("k"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("k").alias("min_doc_id"),
            F.max("k").alias("max_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort revenue — the classic retention/LTV matrix: customers are
# grouped into cohorts by FIRST-order month; each cohort's revenue is
# tracked by months-since-first-order. Two shuffles at scale: the
# per-customer first-order aggregate (partial-agg on custkey), then the
# (cohort, months_since) rollup (few hundred groups). The first-order
# table joins back on custkey — co-partitioned with the orders shuffle.
# Months arithmetic is pure integers (y*12+m), so the matrix is exactly
# oracle-checkable; revenue uses the portable round.
# ---------------------------------------------------------------------------
@register(
    "orders_cohort_revenue",
    oracle="""
        WITH firsts AS (
            SELECT o_custkey,
                   MIN(date_part('year', o_orderdate) * 12
                       + date_part('month', o_orderdate)) AS m0
            FROM orders GROUP BY o_custkey
        )
        SELECT
            CAST((f.m0 - 1) // 12 AS BIGINT)              AS cohort_year,
            CAST((f.m0 - 1) % 12 + 1 AS BIGINT)           AS cohort_month,
            CAST(date_part('year', o.o_orderdate) * 12
                 + date_part('month', o.o_orderdate)
                 - f.m0 AS BIGINT)                        AS months_since,
            CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT)   AS n_active,
            ROUND((SUM(o.o_totalprice)) * 100.0) / 100.0 + 0.0 AS revenue
        FROM orders o
        JOIN firsts f ON f.o_custkey = o.o_custkey
        GROUP BY 1, 2, 3
    """,
    tags=("orders", "cohort", "retention", "agg"),
)
def orders_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort (first-order month) × months-since revenue/activity matrix.

    Reference parity: none (SURVEY.md §2.7 — no aggregation in the
    reference); north-star analytics extension.
    """
    orders = load_table(spark, sf_dir, "orders")
    mnum = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    firsts = orders.groupBy("o_custkey").agg(F.min(mnum).alias("m0"))
    monthly = orders.select("o_custkey", "o_totalprice", mnum.alias("m"))
    return (
        monthly.join(firsts, "o_custkey")
        .groupBy(
            F.floor((F.col("m0") - 1) / 12).cast("long").alias("cohort_year"),
            ((F.col("m0") - 1) % 12 + 1).cast("long").alias("cohort_month"),
            (F.col("m") - F.col("m0")).cast("long").alias("months_since"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            pround(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Semi-structured schema profiling — the lakehouse "what's actually in
# this JSON column" audit: discover every key present in `props`, and per
# key report presence, value cardinality, how many values parse as
# numbers, and the numeric range. Detects schema drift (new keys, type
# changes) in event payloads without a declared schema.
#
# Scale shape (100 TB): keys are discovered per row JVM-side
# (json_object_keys → explode), then ONE partial-agg groupBy on the key —
# reduce width = number of distinct keys, which is schema-sized, not
# data-sized. No second scan, no collect.
# ---------------------------------------------------------------------------
@register(
    "events_props_schema_profile",
    oracle=r"""
        WITH kv AS (
            SELECT k,
                   json_extract_string(props, '$.' || k) AS v
            FROM (
                SELECT props, UNNEST(json_keys(props)) AS k
                FROM events
                WHERE props IS NOT NULL
            )
        )
        SELECT k AS key,
               CAST(COUNT(*) AS BIGINT)                        AS n_present,
               CAST(COUNT(DISTINCT v) AS BIGINT)               AS n_distinct,
               CAST(SUM(CASE WHEN regexp_matches(v, '^-?[0-9]+(\.[0-9]+)?$')
                             THEN 1 ELSE 0 END) AS BIGINT)     AS n_numeric,
               MIN(CASE WHEN regexp_matches(v, '^-?[0-9]+(\.[0-9]+)?$')
                        THEN CAST(v AS DOUBLE) END)            AS min_num,
               MAX(CASE WHEN regexp_matches(v, '^-?[0-9]+(\.[0-9]+)?$')
                        THEN CAST(v AS DOUBLE) END)            AS max_num
        FROM kv
        GROUP BY k
    """,
    tags=("events", "json", "profiling"),
)
def events_props_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key presence/cardinality/type profile of the props JSON.

    Reference parity: none (SURVEY.md §2.7); north-star semi-structured
    profiling extension.
    """
    events = load_table(spark, sf_dir, "events")
    kv = (
        events.filter(F.col("props").isNotNull())
        .select(
            "props", F.explode(F.json_object_keys("props")).alias("key")
        )
        .select(
            "key",
            F.expr("get_json_object(props, concat('$.', key))").alias("v"),
        )
    )
    is_num = F.col("v").rlike(r"^-?[0-9]+(\.[0-9]+)?$")
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.countDistinct("v").alias("n_distinct"),
        F.sum(F.when(is_num, 1).otherwise(0)).alias("n_numeric"),
        F.min(F.when(is_num, F.col("v").cast("double"))).alias("min_num"),
        F.max(F.when(is_num, F.col("v").cast("double"))).alias("max_num"),
    )


# ---------------------------------------------------------------------------
# Fulfillment latency distribution — order date → line ship date delay in
# weekly buckets: the supply-chain SLA histogram. One fact-fact equi-join
# on the order key (co-partitioned SMJ at scale; the bucketed-join tests
# show the zero-shuffle layout for exactly this pair), then a partial-agg
# rollup into a bounded set of weekly buckets. Day arithmetic is integer,
# so the histogram is exactly oracle-checkable.
# ---------------------------------------------------------------------------
@register(
    "lineitem_ship_latency",
    oracle="""
        SELECT
            -- FLOOR, not //: DuckDB integer // truncates toward zero on
            -- negatives where Spark's floor rounds toward -inf.
            CAST(FLOOR(date_diff('day', CAST(o.o_orderdate AS DATE),
                                 CAST(l.l_shipdate AS DATE)) * 1.0 / 7)
                 AS BIGINT) AS week_bucket,
            CAST(COUNT(*) AS BIGINT)  AS n_lines,
            CAST(MIN(date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE))) AS BIGINT) AS min_days,
            CAST(MAX(date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE))) AS BIGINT) AS max_days
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1
    """,
    tags=("lineitem", "orders", "join", "histogram", "timeseries"),
)
def lineitem_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-bucketed order→ship latency histogram.

    Reference parity: none (SURVEY.md §2.7); north-star analytics
    extension.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("ship_d")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderdate").cast("date").alias("order_d"),
    )
    delay = F.datediff(F.col("ship_d"), F.col("order_d"))
    return (
        lineitem.join(orders, "l_orderkey")
        .select(F.floor(delay / 7).cast("long").alias("week_bucket"),
                delay.alias("delay"))
        .groupBy("week_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min("delay").cast("long").alias("min_days"),
            F.max("delay").cast("long").alias("max_days"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (IVM): merge PARTIAL aggregates from a
# frozen base slice and a fresh delta slice instead of rescanning the
# union. count/sum/min/max are algebraic (merge = sum/sum/min/max; avg
# derives from merged sum/count), so the merged result is exactly the
# full-recompute answer — which is what the oracle recomputes. At 100 TB
# the base partial agg is a stored materialized aggregate refreshed only
# by delta merges (this query IS the refresh operator); the merge input is
# |groups| rows per side, so the second shuffle is negligible.
# Reference parity: none (SURVEY.md §2.7) — north-star analytics extension.
# ---------------------------------------------------------------------------
_IVM_CUTOFF = "2000-01-01"


@register(
    "incremental_agg_maintenance",
    oracle="""
        WITH c AS (
            SELECT o_orderpriority, o_orderstatus, o_totalprice,
                   CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
            FROM orders
        )
        SELECT
            o_orderpriority,
            o_orderstatus,
            COUNT(*)                                    AS n_orders,
            CAST(SUM(cents) AS BIGINT) / 100.0          AS sum_price,
            MIN(o_totalprice)                           AS min_price,
            MAX(o_totalprice)                           AS max_price,
            -- avg at 4dp, integer-exact half-up on the non-negative
            -- rational SUM(cents)*100/COUNT(*): (a*2 + b) // (2*b)
            CAST((CAST(SUM(cents) AS BIGINT) * 200 + COUNT(*))
                 // (2 * COUNT(*)) AS BIGINT) / 10000.0 AS avg_price
        FROM c
        GROUP BY 1, 2
    """,
    tags=("agg", "orders", "incremental", "ivm"),
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp")
    # Prices carry exact cents: sum in integer cents so the partial-merge
    # is bit-exact regardless of merge order (double sums are
    # order-dependent at scale), and derive avg by tie-free integer
    # round-half-up — (a*2+b) div (2b) on non-negative operands, the
    # same technique as merge_full_cdc's restatement.
    cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("long")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("p_n"),
            F.sum(cents).alias("p_cents"),
            F.min("o_totalprice").alias("p_min"),
            F.max("o_totalprice").alias("p_max"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.sum("p_n").alias("n_orders"),
            F.sum("p_cents").alias("m_cents"),
            F.min("p_min").alias("min_price"),
            F.max("p_max").alias("max_price"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "o_orderstatus",
        "n_orders",
        (F.col("m_cents") / 100.0).alias("sum_price"),
        "min_price",
        "max_price",
        (
            idiv(F.col("m_cents") * 200 + F.col("n_orders"), F.col("n_orders") * 2)
            / 10000.0
        ).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL surface — VARIANT. events.props is a JSON string;
# events_json_extract pulls one path with get_json_object (string
# re-parse per access). The VARIANT path parses ONCE into the binary
# semi-structured type and every subsequent variant_get is a cheap typed
# access — at 100 TB with many extractions per document that
# parse-once-access-many difference is the whole ballgame (and VARIANT
# columns can be stored, shredding the parse out of the query entirely).
# Output: per-decile-of-k event counts and value sums.
# ---------------------------------------------------------------------------
@register(
    "events_props_variant_decode",
    oracle=f"""
        SELECT
            CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS BIGINT)
                                                          AS k_decile,
            COUNT(*)                                      AS n_events,
            CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                                                          AS sum_k,
            {sql_round('SUM(value)', 2)}                  AS sum_value
        FROM events
        GROUP BY 1
    """,
    tags=("json", "variant", "events", "sql-surface"),
)
def events_props_variant_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        events.withColumn("k", k)
        .groupBy(F.floor(F.col("k") / 10).alias("k_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            pround(F.sum("value"), 2).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL surface — pipe syntax (SQL:2023 |> operators). Same Catalyst
# plan as the classic form (verified: both compile to the identical
# aggregate), so this is pure API-surface coverage: the engine accepts
# the pipeline dialect a lot of new analytics code is written in.
# ---------------------------------------------------------------------------
@register(
    "pipe_sql_priority_stats",
    oracle=f"""
        SELECT
            o_orderpriority,
            COUNT(*)                          AS n_orders,
            {sql_round('SUM(o_totalprice)', 2)} AS sum_price
        FROM orders
        WHERE o_orderstatus <> 'F'
        GROUP BY o_orderpriority
    """,
    tags=("sql-surface", "pipe-syntax", "orders", "agg"),
)
def pipe_sql_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("pipe_orders_v")
    return spark.sql(
        """
        FROM pipe_orders_v
        |> WHERE o_orderstatus <> 'F'
        |> AGGREGATE COUNT(*) AS n_orders,
                     ROUND(SUM(o_totalprice) * 100.0) / 100.0 + 0.0 AS sum_price
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, sum_price
        """
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL surface — LATERAL correlated subquery with LIMIT: top-3
# customers by account balance per nation, written the way an analyst
# writes it (lateral per-row subquery) rather than the window-function
# rewrite. Catalyst decorrelates it into a join + per-group limit; the
# oracle IS the window rewrite, so the check pins that the decorrelation
# is semantics-preserving. Deterministic tie-break on custkey.
# ---------------------------------------------------------------------------
@register(
    "lateral_top_customers_per_nation",
    oracle="""
        SELECT n_name, c_custkey, c_acctbal
        FROM (
            SELECT n.n_name, c.c_custkey, c.c_acctbal,
                   ROW_NUMBER() OVER (
                       PARTITION BY n.n_nationkey
                       ORDER BY c.c_acctbal DESC, c.c_custkey
                   ) AS rn
            FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        ) WHERE rn <= 3
    """,
    tags=("sql-surface", "lateral", "join", "topk"),
)
def lateral_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation_v")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer_v")
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM lat_nation_v n,
        LATERAL (
            SELECT c_custkey, c_acctbal
            FROM lat_customer_v c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 3
        ) t
        """
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL surface — RECURSIVE CTE (UNION ALL; Spark 4 does not yet
# accept UNION-distinct recursion, so the recursion must be acyclic —
# this one advances a month counter, trivially terminating). A gap-free
# month spine from the first to the last order date, left-joined to
# monthly order counts: months with no orders still appear with zeros,
# which a plain GROUP BY can never produce. The recursion materializes
# ~80 rows; the data-sized work stays one aggregate + broadcast join.
# ---------------------------------------------------------------------------
@register(
    "recursive_month_spine",
    oracle=f"""
        WITH RECURSIVE bounds AS (
            SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
                   date_trunc('month', MAX(o_orderdate)) AS hi
            FROM orders
        ),
        spine(m) AS (
            SELECT lo FROM bounds
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM spine, bounds
            WHERE m < hi
        ),
        monthly AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   COUNT(*)                         AS n_orders,
                   {sql_round('SUM(o_totalprice)', 2)} AS sum_price
            FROM orders
            GROUP BY 1
        )
        SELECT CAST(s.m AS VARCHAR)          AS month_ts,
               COALESCE(mo.n_orders, 0)      AS n_orders,
               COALESCE(mo.sum_price, 0.0)   AS sum_price
        FROM spine s LEFT JOIN monthly mo ON mo.m = s.m
    """,
    tags=("sql-surface", "recursive-cte", "orders", "timeseries"),
)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The naive one-month-per-iteration recursion costs one Spark
    # iteration (a full mini-job, plus a rescan of `bounds`) per month —
    # ~80 iterations / ~16 s. The base-8 doubling below generates every
    # offset in [0, 4096) in FIVE data-free iterations (k = 1, 8, 64,
    # 512, 4096; each step emits off + b·k for b ∈ 0..7), and only the
    # final spine join touches the data. 4096 months ≈ 341 years — far
    # past any order span — and the hi-bound filter trims the rest.
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("rec_orders_v")
    return spark.sql(
        """
        WITH RECURSIVE bounds AS (
            SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
                   date_trunc('month', MAX(o_orderdate)) AS hi
            FROM rec_orders_v
        ),
        oct(off, k) AS (
            SELECT 0, 1
            UNION ALL
            SELECT off + b * k, k * 8
            FROM oct, (SELECT explode(sequence(0, 7)) AS b) t
            WHERE off + b * k < 4096 AND k <= 4096
        ),
        spine AS (
            SELECT DISTINCT lo + make_interval(0, off) AS m
            FROM oct, bounds
            WHERE lo + make_interval(0, off) <= hi
        ),
        monthly AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   COUNT(*)                                      AS n_orders,
                   ROUND(SUM(o_totalprice) * 100.0) / 100.0 + 0.0 AS sum_price
            FROM rec_orders_v
            GROUP BY 1
        )
        SELECT CAST(CAST(s.m AS DATE) AS STRING)      AS month_ts,
               COALESCE(mo.n_orders, CAST(0 AS BIGINT)) AS n_orders,
               COALESCE(mo.sum_price, 0.0D)           AS sum_price
        FROM spine s LEFT JOIN monthly mo ON mo.m = s.m
        """
    )


# ---------------------------------------------------------------------------
# ABC (Pareto) classification by cumulative revenue share: customers
# sorted by revenue descending; class A = first 50% of total revenue,
# B = next 30%, C = the tail. The cumulative sum over a GLOBAL order is
# the scale hazard (a window with no partition spec = single-partition
# sort); like shard_manifest_balanced's global rank, it is computed
# distributed: range-repartition on the sort key, LOCAL cumulative sum
# per partition, then add each partition's revenue-total offset
# (|partitions| rows, broadcast back). All arithmetic in integer cents —
# cumulative-share threshold comparisons (cum*10 <= total*5) stay exact
# in both engines, where a double running sum could flip a boundary
# customer by summation order.
# ---------------------------------------------------------------------------
@register(
    "abc_customer_classification",
    oracle="""
        WITH rev AS (
            SELECT o_custkey AS c,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM orders
            GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM rev),
        cum AS (
            SELECT c, cents, t,
                   CAST(SUM(cents) OVER (ORDER BY cents DESC, c) AS BIGINT) AS running
            FROM rev, tot
        )
        SELECT CASE WHEN running * 10 <= t * 5 THEN 'A'
                    WHEN running * 10 <= t * 8 THEN 'B'
                    ELSE 'C' END          AS abc_class,
               COUNT(*)                   AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM cum
        GROUP BY 1
    """,
    tags=("agg", "orders", "pareto", "prefix-sum", "rank"),
)
def abc_customer_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_prefix_sum,
    )

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
    rev = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.sum(cents).alias("cents")
    )
    grand = rev.agg(F.sum("cents").alias("t"))
    cum = distributed_prefix_sum(
        rev, [F.col("cents").desc(), F.col("c")], "cents"
    ).crossJoin(F.broadcast(grand))  # one-row scalar, broadcast pattern
    abc = F.when(F.col("running") * 10 <= F.col("t") * 5, "A").when(
        F.col("running") * 10 <= F.col("t") * 8, "B"
    ).otherwise("C")
    return (
        cum.withColumn("abc_class", abc)
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# FORWARD as-of join: for each purchase, the NEXT view/click touch at or
# after it (the mirror of asof_purchase_attribution's last-touch-before).
# Same scale shape as the backward variant: union both sides with a
# marker, one shuffle on user_id, and a forward-looking window
# (first non-null over the FOLLOWING frame) — no join, no per-user
# blowup. Tie order (ts, marker, event_id) puts an equal-timestamp touch
# AFTER the purchase row so `t.ts >= p.ts` inclusivity falls out of the
# sort; ties at the same touch ts resolve to the smallest event_id.
# The oracle is the quadratic-per-user formulation DuckDB can afford at
# oracle scale: rank all candidate touches per purchase, keep rank 1,
# union the purchases with no future touch as NULL rows.
# ---------------------------------------------------------------------------
@register(
    "asof_next_touch_latency",
    oracle="""
        WITH touches AS (
            SELECT user_id, ts, event_id, event_type
            FROM events WHERE event_type IN ('view', 'click')
        ),
        purchases AS (
            SELECT user_id, ts, event_id AS purchase_id
            FROM events WHERE event_type = 'purchase'
        ),
        cand AS (
            SELECT p.purchase_id, p.user_id,
                   t.event_id   AS next_touch_id,
                   t.event_type AS next_touch_type,
                   -- full elapsed seconds (Spark timestampdiff), not
                   -- DuckDB date_diff's boundary-crossing count
                   CAST(floor(EXTRACT(EPOCH FROM (t.ts - p.ts))) AS BIGINT)
                       AS seconds_to_next,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.purchase_id
                       ORDER BY t.ts, t.event_id
                   ) AS rn
            FROM purchases p
            JOIN touches t ON t.user_id = p.user_id AND t.ts >= p.ts
        )
        SELECT purchase_id, user_id, next_touch_id, next_touch_type,
               seconds_to_next
        FROM cand WHERE rn = 1
        UNION ALL
        SELECT p.purchase_id, p.user_id,
               CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
        FROM purchases p
        WHERE NOT EXISTS (
            SELECT 1 FROM touches t
            WHERE t.user_id = p.user_id AND t.ts >= p.ts
        )
    """,
    tags=("join", "asof", "forward", "events"),
)
def asof_next_touch_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    touches = events.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "ts",
        F.lit(1).alias("marker"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("order_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("marker"),
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("long").alias("touch_id"),
        F.lit(None).cast("string").alias("touch_type"),
        F.lit(None).cast("timestamp").alias("touch_ts"),
        F.col("event_id").alias("order_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "marker", "order_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    merged = purchases.unionByName(touches).select(
        "*",
        F.first("touch_id", ignorenulls=True).over(w).alias("next_touch_id"),
        F.first("touch_type", ignorenulls=True).over(w).alias("next_touch_type"),
        F.first("touch_ts", ignorenulls=True).over(w).alias("next_touch_ts"),
    )
    return merged.filter(F.col("purchase_id").isNotNull()).select(
        "purchase_id",
        "user_id",
        "next_touch_id",
        "next_touch_type",
        F.expr("timestampdiff(SECOND, ts, next_touch_ts)")
        .cast("long")
        .alias("seconds_to_next"),
    )


# ---------------------------------------------------------------------------
# Bounded offset-range BATCH read through the custom connector
# (sources/replay.py) — the reference's batch mode: an explicit
# [startingOffsets, endingOffsets) slice of the stream, decoded and
# aggregated atomically (S2, KafkaBatchJob.java:70-77; offsets here are
# row positions in event_id order, the connector's offset space). The
# oracle reconstructs the same slice with a ROW_NUMBER over event_id.
# ---------------------------------------------------------------------------
_REPLAY_START = 200
_REPLAY_END = 900  # non-empty at every SF (sf0.001 has 1000 rows)


@register(
    "batch_replay_source_slice",
    oracle=f"""
        WITH ranked AS (
            SELECT event_type, value,
                   ROW_NUMBER() OVER (ORDER BY event_id) AS rn
            FROM events
        )
        SELECT event_type,
               COUNT(*) AS n_events,
               {sql_round('SUM(value)', 2)} AS sum_value
        FROM ranked
        WHERE rn > {_REPLAY_START} AND rn <= {_REPLAY_END}
        GROUP BY 1
    """,
    tags=("datasource", "connector", "batch", "events", "offsets"),
)
def batch_replay_source_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from kafka_stream_job_spark.sources.replay import register_replay_source

    register_replay_source(spark)
    df = (
        spark.read.format("ksj_replay")
        .option("path", _os.path.join(sf_dir, "events.parquet"))
        .option("start_idx", _REPLAY_START)
        .option("end_idx", _REPLAY_END)
        .option("n_splits", 8)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# GDPR purge planning: given a deletion-request set (users to forget),
# the per-day-partition rewrite manifest — rows to delete, rows kept,
# and the delete ratio that decides rewrite-vs-deletion-vector per file.
# The request set is broadcast (tiny vs the fact table: a compliance
# queue, not a data table), the fact side never shuffles — a pure
# map-side semi probe per partition, which is the only shape that works
# when the table is 100 TB and the request list is thousands of users.
# Deterministic stand-in request set: user_id % 97 = 0.
# ---------------------------------------------------------------------------
@register(
    "gdpr_purge_manifest",
    oracle="""
        SELECT
            CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS day_ts,
            COUNT(*)                                                  AS n_rows,
            CAST(SUM(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                                      AS n_delete,
            CAST(SUM(CASE WHEN user_id % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT)
                                                                      AS n_keep,
            CAST(SUM(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) * 10000
                 // COUNT(*) AS BIGINT)                               AS delete_bps
        FROM events
        GROUP BY 1
    """,
    tags=("maintenance", "gdpr", "events", "agg"),
)
def gdpr_purge_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # the deletion-request "table" (broadcast semi probe in production;
    # here the predicate is inlined so the oracle can reproduce it — the
    # broadcast-semi-join variant of this probe is plan-tested on
    # decontaminate_train_shingles, the same shape)
    is_del = (F.col("user_id") % 97 == 0).cast("int")
    return (
        events.groupBy(F.date_trunc("day", "ts").cast("string").alias("day_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(is_del).cast("long").alias("n_delete"),
            F.sum(1 - is_del).cast("long").alias("n_keep"),
            # idiv, not floor(double-div): exact past 2^53 like the oracle's //
            idiv(F.sum(is_del).cast("long") * 10000, F.count(F.lit(1)))
            .cast("long")
            .alias("delete_bps"),
        )
    )


# ---------------------------------------------------------------------------
# Higher-order array functions — the Spark-distinctive API for array
# algebra that stays INSIDE codegen (transform/filter/aggregate/exists
# run as JVM lambda expressions, never Python). Per order: the sorted
# quantity array and HOF-derived stats; integer quantities keep the
# aggregate fold exact. DuckDB's list_* functions are the oracle twins.
# ---------------------------------------------------------------------------
@register(
    "array_hof_showcase",
    oracle="""
        WITH per_order AS (
            SELECT l_orderkey,
                   list_sort(list(CAST(l_quantity AS BIGINT))) AS qtys
            FROM lineitem
            GROUP BY 1
        )
        SELECT l_orderkey,
               len(qtys)                                           AS n_items,
               CAST(list_aggregate(qtys, 'sum') AS BIGINT)         AS qty_sum,
               CAST(list_aggregate(
                   list_transform(qtys, q -> q * q), 'sum') AS BIGINT)
                                                                   AS qty_sumsq,
               len(list_filter(qtys, q -> q > 25))                 AS n_large,
               CAST(list_max(qtys) AS BIGINT)                      AS qty_max,
               CAST(qtys[1] AS BIGINT)                             AS qty_min
        FROM per_order
    """,
    tags=("scalar", "array", "hof", "lineitem"),
)
def array_hof_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qtys = F.array_sort(F.collect_list(F.col("l_quantity").cast("long")))
    zero = F.lit(0).cast("long")
    return (
        li.groupBy("l_orderkey")
        .agg(qtys.alias("qtys"))
        .select(
            "l_orderkey",
            F.size("qtys").alias("n_items"),
            F.aggregate("qtys", zero, lambda acc, q: acc + q).alias("qty_sum"),
            F.aggregate(
                F.transform("qtys", lambda q: q * q), zero, lambda acc, q: acc + q
            ).alias("qty_sumsq"),
            F.size(F.filter("qtys", lambda q: q > 25)).alias("n_large"),
            F.array_max("qtys").alias("qty_max"),
            F.element_at("qtys", 1).alias("qty_min"),
        )
    )


# ---------------------------------------------------------------------------
# try_* error-handling functions — ANSI mode is ON engine-wide
# (session.py: fail loudly instead of silently diverging), so the try_*
# family is how a pipeline opts back into null-on-error per expression:
# try_divide → NULL on /0, try_cast → NULL on malformed input. The
# oracle reproduces them with NULLIF guards and TRY_CAST.
# ---------------------------------------------------------------------------
@register(
    "try_functions_showcase",
    oracle="""
        SELECT
            o_orderpriority,
            COUNT(*) AS n_orders,
            CAST(SUM(CASE WHEN o_custkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_div_null,
            ROUND((SUM(COALESCE(o_totalprice / NULLIF(o_custkey % 5, 0), 0.0)))
                  * 100.0) / 100.0 + 0.0 AS sum_safe_div,
            CAST(SUM(CASE WHEN TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
                          IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_cast_null,
            CAST(SUM(COALESCE(TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT),
                              0)) AS BIGINT) AS sum_prio_digit
        FROM orders
        GROUP BY 1
    """,
    tags=("scalar", "try", "ansi", "orders"),
)
def try_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    safe_div = F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 5)
    prio_digit = F.expr("try_cast(substr(o_orderpriority, 1, 1) AS BIGINT)")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(safe_div.isNull().cast("int")).cast("long").alias("n_div_null"),
        pround(F.sum(F.coalesce(safe_div, F.lit(0.0))), 2).alias("sum_safe_div"),
        F.sum(prio_digit.isNull().cast("int")).cast("long").alias("n_cast_null"),
        F.sum(F.coalesce(prio_digit, F.lit(0))).cast("long").alias("sum_prio_digit"),
    )


# ---------------------------------------------------------------------------
# Trigram-accelerated substring search (the pg_trgm / code-search-index
# pattern): a LIKE '%needle%' over 100 TB is a full scan, but a
# materialized trigram posting table turns it into |needle|-many posting
# probes. This query demonstrates the full index plan in one shot:
# explode each name into its trigrams (JVM HOF, no Python), keep only
# the needle's trigrams, intersect posting lists (groupBy + distinct
# count == n_trigrams — candidates can't miss a true match), then verify
# candidates with the exact contains() — false positives (trigrams
# present but non-contiguous) drop here, and only candidate rows pay the
# verify. The oracle is the ground-truth LIKE scan, so the driver's gate
# proves index+verify ≡ full scan.
# ---------------------------------------------------------------------------
_TRGM_NEEDLE = "ring"


@register(
    "trigram_like_search",
    oracle=f"""
        SELECT p_partkey, p_name
        FROM part
        WHERE p_name LIKE '%{_TRGM_NEEDLE}%'
    """,
    tags=("text", "index", "trigram", "part", "search"),
)
def trigram_like_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    needle = _TRGM_NEEDLE
    needle_trigrams = [needle[i : i + 3] for i in range(len(needle) - 2)]
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    postings = part.select(
        "p_partkey",
        "p_name",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(p_name) - 2, 0)),"
                " i -> substring(p_name, i, 3))"
            )
        ).alias("trigram"),
    )
    candidates = (
        postings.filter(F.col("trigram").isin(needle_trigrams))
        .groupBy("p_partkey")
        .agg(
            F.first("p_name").alias("p_name"),
            F.countDistinct("trigram").alias("n_hit"),
        )
        .filter(F.col("n_hit") == len(needle_trigrams))
    )
    return candidates.filter(F.col("p_name").contains(needle)).select(
        "p_partkey", "p_name"
    )


# ---------------------------------------------------------------------------
# EXACT global percentiles, distributed. percentile_order_prices uses the
# built-in exact `percentile` aggregate, which buffers every value of the
# group in one aggregation buffer — fine per small group, a memory wall
# for a GLOBAL percentile over 100 TB. This operator computes the same
# linear-interpolated quantiles through the distributed rank helper:
# rank all values (parallel range exchange), then probe exactly the two
# neighbor ranks per requested percentile (h = (n-1)p zero-based;
# v_lo + frac·(v_hi − v_lo) — quantile_cont's definition) via a
# broadcast join of the 2·|percentiles| probe ranks. Nothing bigger than
# the probe table ever leaves the executors.
# ---------------------------------------------------------------------------
_PCTS = (0.25, 0.5, 0.9, 0.95)


@register(
    "percentile_distributed_exact",
    oracle=" UNION ALL ".join(
        f"""SELECT CAST({p} AS DOUBLE) AS p,
               ROUND((quantile_cont(o_totalprice, {p})) * 10000.0) / 10000.0
               + 0.0 AS value FROM orders"""
        for p in _PCTS
    ),
    tags=("agg", "percentile", "rank", "orders"),
)
def percentile_distributed_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import distributed_rank

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"), "o_orderkey"
    )
    ranked = distributed_rank(orders, [F.col("v"), F.col("o_orderkey")])
    total = orders.agg(F.count(F.lit(1)).cast("long").alias("n"))
    probes = (
        spark.range(1)
        .select(F.explode(F.array(*[F.lit(p) for p in _PCTS])).alias("p"))
        .crossJoin(F.broadcast(total))
        .select(
            "p",
            "n",
            (F.col("p") * (F.col("n") - 1)).alias("h"),
        )
        .select(
            "p",
            (F.floor("h") + 1).cast("long").alias("rnk_lo"),
            (F.least(F.ceil("h") + 1, F.col("n"))).cast("long").alias("rnk_hi"),
            (F.col("h") - F.floor("h")).alias("frac"),
        )
    )
    lo = probes.join(
        ranked.select(F.col("rnk"), F.col("v").alias("v_lo")),
        probes.rnk_lo == F.col("rnk"),
    ).select("p", "frac", "v_lo", "rnk_hi")
    both = lo.join(
        ranked.select(F.col("rnk").alias("rnk2"), F.col("v").alias("v_hi")),
        lo.rnk_hi == F.col("rnk2"),
    )
    return both.select(
        "p",
        pround(
            F.col("v_lo") + F.col("frac") * (F.col("v_hi") - F.col("v_lo")), 4
        ).alias("value"),
    )


# ---------------------------------------------------------------------------
# MULTI-TOUCH attribution: the as-of pair (last/next touch) credits one
# touch per purchase; linear attribution splits each purchase's value
# EQUALLY across every same-user touch in the preceding 30 minutes — the
# standard marketing-mix counterweight to last-touch bias. One shuffle
# on user_id for the time-bounded join, a per-purchase window to count
# contributing touches (partitioned by purchase — no global window),
# then the credit rollup by touch type.
# ---------------------------------------------------------------------------
@register(
    "attribution_multi_touch",
    oracle="""
        WITH t AS (
            SELECT user_id, ts AS touch_ts, event_id AS touch_id,
                   event_type AS touch_type
            FROM events WHERE event_type IN ('view', 'click')
        ),
        p AS (
            SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
                   value AS purchase_value
            FROM events WHERE event_type = 'purchase'
        ),
        pairs AS (
            SELECT p.purchase_id, p.purchase_value, t.touch_type,
                   COUNT(*) OVER (PARTITION BY p.purchase_id) AS n_touches
            FROM p JOIN t
              ON t.user_id = p.user_id
             AND t.touch_ts <= p.purchase_ts
             AND p.purchase_ts <= t.touch_ts + INTERVAL 30 MINUTE
        )
        -- per-row integer micro-units BEFORE the cross-row sum: the
        -- double SUM(value/n) is summation-order-sensitive and flipped
        -- a rounding boundary under concurrent scheduling at sf0.1
        SELECT touch_type,
               COUNT(*) AS n_attributions,
               CAST(SUM((CAST(ROUND(purchase_value * 100.0) AS BIGINT)
                         * 10000) // n_touches) AS BIGINT) / 1000000.0
                   + 0.0 AS attributed_revenue
        FROM pairs
        GROUP BY 1
    """,
    tags=("join", "attribution", "window", "events"),
)
def attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    t = events.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("touch_type"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    pairs = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("touch_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("touch_ts") + F.expr("INTERVAL 30 minutes")),
    ).withColumn(
        "n_touches", F.count(F.lit(1)).over(Window.partitionBy("purchase_id"))
    )
    micro = idiv(
        F.round(F.col("purchase_value") * 100.0, 0).cast("long") * 10000,
        F.col("n_touches"),
    )
    return pairs.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_attributions"),
        (F.sum(micro).cast("long") / 1000000.0 + 0.0).alias(
            "attributed_revenue"
        ),
    )


# ---------------------------------------------------------------------------
# K-core PEELING over the part co-purchase graph — the dense-subgraph
# extractor next to components/PageRank/triangles: each round drops
# nodes with degree < K and the edges touching them; survivors of round
# R have R-round-stable degree >= K (full k-core = run to fixpoint; the
# registered query reports the first KCORE_ROUNDS rounds, which is
# deterministic and already distinguishes peripheral from core parts).
# Edge list built by in-array expansion per order (no self-join, same as
# PageRank); each peel is degrees + two semi joins — shuffles on node
# id, nothing driver-side, so rounds scale as ordinary joins.
# ---------------------------------------------------------------------------
KCORE_K = 4
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    sql = """
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        e0 AS MATERIALIZED (
            -- MATERIALIZED: DuckDB inlines plain CTEs, so every one of
            -- the per-round scalar subqueries below would otherwise
            -- re-run the whole peel chain from this basket self-join
            -- (measured 19.7 s -> ~2 s at sf0.1)
            SELECT a.l_partkey AS src, b.l_partkey AS dst
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey <> b.l_partkey
            GROUP BY 1, 2
        )"""
    for r in range(1, KCORE_ROUNDS + 1):
        sql += f""",
        k{r} AS MATERIALIZED (
            SELECT src FROM e{r - 1} GROUP BY src
            HAVING COUNT(*) >= {KCORE_K}
        ),
        e{r} AS MATERIALIZED (
            SELECT e.src, e.dst
            FROM e{r - 1} e
            JOIN k{r} a ON e.src = a.src
            JOIN k{r} b ON e.dst = b.src
        )"""
    sql += "\n        " + "\n        UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
               CAST((SELECT COUNT(DISTINCT src) FROM e{r}) AS BIGINT) AS n_nodes,
               CAST((SELECT COUNT(*) FROM e{r}) AS BIGINT) // 2 AS n_edges"""
        for r in range(1, KCORE_ROUNDS + 1)
    )
    return sql


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(),
    tags=("graph", "kcore", "iterative", "lineitem"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    directed = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x: F.transform(
                F.filter(F.col("parts"), lambda y: y != x),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    cur = (
        baskets.select(F.explode(directed).alias("e"))
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rounds = []
    for r in range(1, KCORE_ROUNDS + 1):
        keep = (
            cur.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select("src")
        )
        cur = (
            cur.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
        rounds.append(
            cur.agg(
                F.lit(r).cast("long").alias("round"),
                F.countDistinct("src").alias("n_nodes"),
                idiv(F.count(F.lit(1)), 2).alias("n_edges"),
            ).select("round", "n_nodes", "n_edges")
        )
    out = rounds[0]
    for o in rounds[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# Time-series AUTOCORRELATION of the hourly event-count series at the
# standard seasonal lags — the periodicity detector next to the moving
# average (events_daily_value_trend) and OLS trend (revenue_trend_ols).
# The raw table aggregates to one integer count per hour FIRST (720 rows
# for a 30-day window — metadata-sized, like the daily MA spine), so the
# global LEAD window runs over the aggregate, never the events. Pearson
# per lag uses the exact-integer-moment pattern of stats_qty_price_corr:
# both engines compute identical BIGINT sums, then one fixed dag of IEEE
# ops.
# ---------------------------------------------------------------------------
_AC_LAGS = (1, 2, 3, 6, 12, 24)


def _autocorr_oracle() -> str:
    lag_selects = []
    for lag in _AC_LAGS:
        lag_selects.append(f"""
        SELECT CAST({lag} AS BIGINT) AS lag, n, CASE WHEN
                   (n * 1.0 * sxx - sx * 1.0 * sx) <= 0
                OR (n * 1.0 * syy - sy * 1.0 * sy) <= 0 THEN NULL ELSE
               ROUND(((n * 1.0 * sxy - sx * 1.0 * sy)
                   / (sqrt(n * 1.0 * sxx - sx * 1.0 * sx)
                      * sqrt(n * 1.0 * syy - sy * 1.0 * sy)))
                   * 1000000.0) / 1000000.0 END AS autocorr
        FROM (
            SELECT COUNT(*) AS n,
                   CAST(SUM(c) AS BIGINT) AS sx,
                   CAST(SUM(c_lead) AS BIGINT) AS sy,
                   CAST(SUM(c * c) AS BIGINT) AS sxx,
                   CAST(SUM(c_lead * c_lead) AS BIGINT) AS syy,
                   CAST(SUM(c * c_lead) AS BIGINT) AS sxy
            FROM (
                SELECT c, LEAD(c, {lag}) OVER (ORDER BY hr) AS c_lead
                FROM hourly
            ) WHERE c_lead IS NOT NULL
        )""")
    return (
        """
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hr,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1
        )"""
        + " UNION ALL ".join(lag_selects)
    )


@register(
    "events_hourly_autocorr",
    oracle=_autocorr_oracle(),
    tags=("stats", "timeseries", "autocorrelation", "events"),
)
def events_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.orderBy("hr")  # ~720-row aggregate: metadata-sized window
    leads = hourly.select(
        "c", *[F.lead("c", lag).over(w).alias(f"l{lag}") for lag in _AC_LAGS]
    ).localCheckpoint(eager=False)
    outs = []
    for lag in _AC_LAGS:
        y = F.col(f"l{lag}")
        m = leads.filter(y.isNotNull()).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(F.col("c") * F.col("c")).alias("sxx"),
            F.sum(y * y).alias("syy"),
            F.sum(F.col("c") * y).alias("sxy"),
        )
        varx = F.col("n") * F.lit(1.0) * F.col("sxx") - F.col("sx") * F.lit(1.0) * F.col("sx")
        vary = F.col("n") * F.lit(1.0) * F.col("syy") - F.col("sy") * F.lit(1.0) * F.col("sy")
        corr = (
            F.col("n") * F.lit(1.0) * F.col("sxy")
            - F.col("sx") * F.lit(1.0) * F.col("sy")
        ) / (F.sqrt(varx) * F.sqrt(vary))
        outs.append(
            m.select(
                F.lit(lag).cast("long").alias("lag"),
                "n",
                F.when(
                    (varx <= 0) | (vary <= 0), F.lit(None).cast("double")
                ).otherwise(pround(corr, 6)).alias("autocorr"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# Benford first-digit audit over order totals — the classic
# fabricated-data screen: observed leading-digit frequencies vs the
# Benford expectation, with an exact-integer chi-square accumulator
# (counts are ints; the statistic is one fixed dag of IEEE ops at the
# end). One map + 9-group aggregate; nothing but digit counts shuffles.
# ---------------------------------------------------------------------------
@register(
    "benford_digit_audit",
    oracle="""
        WITH d AS (
            SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM orders
            WHERE o_totalprice >= 1
        ),
        c AS (
            SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
        SELECT digit,
               n,
               ROUND(((n * 1.0 / total)) * 1000000.0) / 1000000.0 + 0.0
                   AS observed_p,
               ROUND((log10(1.0 + 1.0 / digit)) * 1000000.0) / 1000000.0 + 0.0
                   AS benford_p
        FROM c, tot
    """,
    tags=("audit", "stats", "orders"),
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("long")
    counts = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").cast("long").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        pround(F.col("n") * F.lit(1.0) / F.col("total"), 6).alias("observed_p"),
        pround(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6).alias(
            "benford_p"
        ),
    )


# ---------------------------------------------------------------------------
# K-ANONYMITY audit — the privacy screen next to text_pii_redaction and
# gdpr_purge_manifest: bucket customers by their quasi-identifier tuple
# (nation, market segment, coarse balance band) and report how many
# equivalence classes fall below the anonymity threshold k, plus how
# many ROWS sit in those re-identifiable classes. Generalizing the
# balance into 1000-unit bands is the standard anonymization lever; the
# audit tells you whether the chosen generalization suffices before a
# release. Two aggregations, group counts only — nothing row-level
# crosses the second shuffle.
# ---------------------------------------------------------------------------
_KANON_K = 5


@register(
    "k_anonymity_audit",
    oracle=f"""
        WITH q AS (
            SELECT c_nationkey,
                   c_mktsegment,
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
                   COUNT(*) AS n
            FROM customer
            GROUP BY 1, 2, 3
        )
        SELECT CAST(COUNT(*) AS BIGINT)                                AS n_classes,
               CAST(SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
                                                                       AS n_risky_classes,
               CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
                                                                       AS n_risky_rows,
               CAST(MIN(n) AS BIGINT)                                  AS min_class_size,
               CAST(SUM(n) AS BIGINT)                                  AS n_rows
        FROM q
    """,
    tags=("privacy", "audit", "customer", "agg"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    q = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("n"))
    risky = F.when(F.col("n") < _KANON_K, 1).otherwise(0)
    return q.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(risky).cast("long").alias("n_risky_classes"),
        F.sum(F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_risky_rows"),
        F.min("n").cast("long").alias("min_class_size"),
        F.sum("n").cast("long").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# CUSUM change detection over the hourly event-count series — the drift
# monitor next to the z-score anomaly screen (events_hourly_anomaly
# flags single outlier hours; CUSUM accumulates small sustained shifts).
# Two passes over the METADATA-SIZED hourly aggregate (~720 rows): the
# global mean (integer sums), then the running sum of scaled deviations
# S_t = S_{t-1} + (x_t*n - sum_x) in exact integer units (multiplying
# through by n avoids fractional means entirely). Reported: the extreme
# positive/negative excursions and the hours where they occur —
# deterministic, integer-exact, engine-portable.
# ---------------------------------------------------------------------------
@register(
    "events_cusum_drift",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hr,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c) AS BIGINT)   AS sx
            FROM hourly
        ),
        cum AS (
            SELECT hr,
                   CAST(SUM(c * t.n - t.sx) OVER (ORDER BY hr) AS BIGINT)
                       AS s_scaled
            FROM hourly, tot t
        )
        SELECT
            CAST((SELECT MAX(s_scaled) FROM cum) AS BIGINT) AS max_pos_excursion,
            CAST((SELECT MIN(s_scaled) FROM cum) AS BIGINT) AS max_neg_excursion,
            CAST((SELECT CAST(hr AS VARCHAR) FROM cum
                  ORDER BY s_scaled DESC, hr LIMIT 1) AS VARCHAR)
                AS peak_hour,
            CAST((SELECT CAST(hr AS VARCHAR) FROM cum
                  ORDER BY s_scaled ASC, hr LIMIT 1) AS VARCHAR)
                AS trough_hour,
            (SELECT n FROM tot) AS n_hours
        FROM (SELECT 1)
    """,
    tags=("stats", "timeseries", "cusum", "events"),
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = hourly.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("sx"),
    )
    w = Window.orderBy("hr")  # ~720-row aggregate: metadata-sized window
    cum = (
        hourly.crossJoin(F.broadcast(tot))
        .withColumn(
            "s_scaled",
            F.sum(F.col("c") * F.col("n") - F.col("sx")).over(w).cast("long"),
        )
        .localCheckpoint(eager=False)
    )
    peak = cum.orderBy(F.col("s_scaled").desc(), "hr").limit(1).select(
        F.col("hr").cast("string").alias("peak_hour")
    )
    trough = cum.orderBy(F.col("s_scaled").asc(), "hr").limit(1).select(
        F.col("hr").cast("string").alias("trough_hour")
    )
    stats = cum.agg(
        F.max("s_scaled").alias("max_pos_excursion"),
        F.min("s_scaled").alias("max_neg_excursion"),
    )
    return (
        stats.crossJoin(F.broadcast(peak))
        .crossJoin(F.broadcast(trough))
        .crossJoin(F.broadcast(tot.select(F.col("n").alias("n_hours"))))
    )


# ---------------------------------------------------------------------------
# Full CRUD MERGE: one CDC batch carrying UPDATEs, DELETEs, and INSERTs
# applied to the customer dimension in a single pass — the complete
# MERGE INTO semantics next to scd2_customer_merge's update-only history
# keeping. The change batch is derived deterministically from the data
# (every 7th customer: balance restated; every 13th: deleted — delete
# wins where both match, as MERGE's WHEN MATCHED ordering dictates;
# plus one synthetic insert per nation keyed above the existing range).
# Engine-neutral plan: dimension LEFT JOIN broadcast(changes) + CASE,
# UNION the inserts — the dimension is scanned once and never shuffled.
# Output: per-nation row count and balance total after the merge, plus
# applied-action counts, so any mis-applied row flips the hash.
# ---------------------------------------------------------------------------
@register(
    "merge_full_cdc",
    oracle="""
        WITH cents AS (
            SELECT c_custkey, c_nationkey,
                   CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS c
            FROM customer
            WHERE NOT c_custkey % 13 = 0
        ),
        merged AS (
            -- 10% restatement integer-exact on cents: round-half-away
            -- via (|c|*11+5)//10 on the non-negative magnitude, so
            -- DuckDB's trunc-toward-zero // and Spark's div agree and
            -- no double ever sees a .5 tie.
            SELECT c_custkey, c_nationkey,
                   CASE WHEN c_custkey % 7 = 0
                        THEN (CASE WHEN c < 0 THEN -(((-c) * 11 + 5) // 10)
                                   ELSE (c * 11 + 5) // 10 END) / 100.0
                        ELSE c / 100.0 END AS bal,
                   CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END AS updated
            FROM cents
            UNION ALL
            SELECT 900000000 + n_nationkey, n_nationkey, 1000.0, 0
            FROM nation
        )
        SELECT c_nationkey,
               COUNT(*) AS n_rows,
               ROUND((SUM(ROUND(bal * 100.0))) ) / 100.0 + 0.0 AS total_bal,
               CAST(SUM(updated) AS BIGINT) AS n_updated
        FROM merged
        GROUP BY 1
    """,
    tags=("merge", "cdc", "customer", "join"),
)
def merge_full_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # CDC batch (derived): updates and deletes keyed by custkey, inserts
    # keyed per nation. In production this arrives as a table; derived
    # here so the oracle can reconstruct it exactly.
    # Integer-exact restatement: cents first, then sign-symmetric
    # round-half-away (|c|*11+5) div 10 — tie-free, matches the oracle's
    # // term for term (both trunc on non-negative magnitudes).
    _cents = F.round(F.col("c_acctbal") * 100.0, 0).cast("long")
    _mag = idiv(F.abs(_cents) * 11 + 5, 10)
    _newc = F.when(_cents < 0, -_mag).otherwise(_mag)
    updates = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        (_newc.cast("double") / 100.0).alias("new_bal"),
    )
    deletes = cust.filter(F.col("c_custkey") % 13 == 0).select("c_custkey")
    inserts = nation.select(
        (F.lit(900000000) + F.col("n_nationkey")).alias("c_custkey"),
        F.col("n_nationkey").alias("c_nationkey"),
        F.lit(1000.0).alias("bal"),
        F.lit(0).alias("updated"),
    )
    merged = (
        cust.join(
            deletes.withColumn("_del", F.lit(1)), "c_custkey", "left"
        )
        .filter(F.col("_del").isNull())  # WHEN MATCHED ... DELETE wins
        .join(updates, "c_custkey", "left")
        .select(
            "c_custkey",
            "c_nationkey",
            F.coalesce(F.col("new_bal"), F.col("c_acctbal")).alias("bal"),
            F.col("new_bal").isNotNull().cast("int").alias("updated"),
        )
        .unionByName(inserts)  # WHEN NOT MATCHED ... INSERT
    )
    return merged.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(F.round(F.col("bal") * 100.0, 0)) / 100.0 + F.lit(0.0)).alias(
            "total_bal"
        ),
        F.sum("updated").cast("long").alias("n_updated"),
    )


# ---------------------------------------------------------------------------
# Seasonal hour-of-day profile — the periodic component the
# autocorrelation (events_hourly_autocorr) detects and CUSUM
# (events_cusum_drift) must not mistake for drift: per hour-of-day event
# counts and their integer basis-point share of the total, with the
# within-hod daily spread (min/max of the per-(date, hod) counts).
# Everything integer-exact; two metadata-sized aggregations.
# ---------------------------------------------------------------------------
@register(
    "events_seasonal_profile",
    oracle="""
        WITH per_cell AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                   CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM per_cell)
        SELECT hod,
               CAST(SUM(c) AS BIGINT)                    AS n_events,
               CAST(SUM(c) * 10000 // total AS BIGINT)   AS share_bp,
               CAST(MIN(c) AS BIGINT)                    AS min_daily,
               CAST(MAX(c) AS BIGINT)                    AS max_daily
        FROM per_cell, tot
        GROUP BY hod, total
    """,
    tags=("stats", "timeseries", "seasonal", "events"),
)
def events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_cell = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = per_cell.agg(F.sum("c").cast("long").alias("total"))
    return (
        per_cell.crossJoin(F.broadcast(tot))
        .groupBy("hod")
        .agg(
            F.sum("c").cast("long").alias("n_events"),
            # idiv, not floor(double-div): exact past 2^53 like the oracle's //
            idiv(F.sum("c").cast("long") * 10000, F.first("total"))
            .cast("long")
            .alias("share_bp"),
            F.min("c").cast("long").alias("min_daily"),
            F.max("c").cast("long").alias("max_daily"),
        )
    )


# ---------------------------------------------------------------------------
# RANGE window frames — value-based frames over event TIME, the window
# feature ROWS frames can't express (a "trailing hour" must follow the
# timestamps, not a fixed row count, whenever event spacing is uneven).
# Per event: how many same-user events landed in the preceding hour and
# their value sum — the sliding-lookback primitive behind rate limiting
# and fraud velocity checks. Partitioned by user (no global window); the
# frame is evaluated inside the per-user sort, one shuffle total.
# ---------------------------------------------------------------------------
@register(
    "window_range_trailing_hour",
    oracle="""
        SELECT event_id,
               user_id,
               CAST(COUNT(*) OVER w AS BIGINT)                 AS n_trailing_hour,
               ROUND((SUM(value) OVER w) * 100.0) / 100.0 + 0.0 AS sum_trailing_hour
        FROM events
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts
            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
        )
    """,
    tags=("window", "range-frame", "events"),
)
def window_range_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("range_events_v")
    return spark.sql(
        """
        SELECT event_id,
               user_id,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_hour,
               ROUND((SUM(value) OVER w) * 100.0) / 100.0 + 0.0D
                   AS sum_trailing_hour
        FROM range_events_v
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts
            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
        )
        """
    )


# ---------------------------------------------------------------------------
# INTERVAL-OVERLAP JOIN with a time-bucket prefilter — the missing join
# flavor between equi (hash/SMJ) and as-of: two interval sets matched on
# RANGE OVERLAP (a.start < b.end AND b.start < a.end). Naively that is a
# cartesian theta-join; the scale path buckets both sides by a coarse
# time unit (here: day) and equi-joins on the bucket BEFORE applying the
# exact overlap predicate — shuffle keyed on the bucket, overlap checked
# only within co-bucketed pairs. Intervals here: each user's daily
# activity span [min ts, max ts] vs a synthetic daily incident window
# [02:00, 04:00); output = per-day blast radius (users whose activity
# overlaps the incident, and their total overlap seconds, integer-exact
# via second-resolution timestampdiff in both engines).
# ---------------------------------------------------------------------------
@register(
    "events_interval_overlap_join",
    oracle="""
        WITH spans AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d, user_id,
                   MIN(ts) AS s, MAX(ts) AS e
            FROM events GROUP BY 1, 2
        ),
        incidents AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d,
                   date_trunc('day', ts) + INTERVAL 2 HOUR AS i_s,
                   date_trunc('day', ts) + INTERVAL 4 HOUR AS i_e
            FROM events
        )
        SELECT CAST(a.d AS VARCHAR) AS day_ts,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(epoch_us(CASE WHEN a.e < i.i_e THEN a.e ELSE i.i_e END)
                        - epoch_us(CASE WHEN a.s > i.i_s THEN a.s ELSE i.i_s END))
                    // 1000000 AS BIGINT) AS overlap_seconds
        FROM spans a JOIN incidents i
          ON a.d = i.d AND a.s < i.i_e AND i.i_s < a.e
        GROUP BY 1
    """,
    tags=("join", "interval-overlap", "range", "events"),
)
def events_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    spans = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d"), "user_id"
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    incidents = events.select(
        F.date_trunc("day", "ts").cast("date").alias("i_d"),
        (F.date_trunc("day", "ts") + F.expr("INTERVAL 2 HOUR")).alias("i_s"),
        (F.date_trunc("day", "ts") + F.expr("INTERVAL 4 HOUR")).alias("i_e"),
    ).distinct()
    joined = spans.join(
        incidents,
        (F.col("d") == F.col("i_d"))  # bucket equi-key first …
        & (F.col("s") < F.col("i_e"))  # … then the exact overlap predicate
        & (F.col("i_s") < F.col("e")),
    )
    # epoch-microsecond subtraction, not date_diff/timestampdiff: DuckDB's
    # date_diff counts boundary CROSSINGS while Spark's timestampdiff
    # floors elapsed time — they disagree on sub-second timestamps. The
    # epoch_us/unix_micros difference is the same integer in both engines.
    overlap_us = F.expr(
        "unix_micros(CASE WHEN e < i_e THEN e ELSE i_e END)"
        " - unix_micros(CASE WHEN s > i_s THEN s ELSE i_s END)"
    )
    return joined.groupBy(F.col("d").cast("string").alias("day_ts")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        idiv(F.sum(overlap_us), 1000000).cast("long").alias("overlap_seconds"),
    )


# ---------------------------------------------------------------------------
# NULL-SAFE equi-join (<=>) — the join flavor where NULL keys MATCH each
# other instead of vanishing (SQL '=' never matches NULL=NULL, silently
# dropping the "unattributed" bucket from reconciliations). Scenario:
# view-side traffic and purchase-side revenue are each rolled up by a
# nullable attribution key (NULL = organic/untagged), then reconciled
# with eqNullSafe so the organic bucket pairs up like any other key.
# Plans as a plain hash join on a null-safe key — same shuffle shape and
# broadcast eligibility as '=' (Spark wraps keys in Coalesce/isnull
# tuples), so scale behavior is unchanged.
# ---------------------------------------------------------------------------
@register(
    "null_safe_join_attribution",
    oracle="""
        WITH t AS (
            SELECT NULLIF(user_id % 10, 0) AS attr_key,
                   CAST(COUNT(*) AS BIGINT) AS n_views
            FROM events WHERE event_type = 'view' GROUP BY 1
        ),
        p AS (
            SELECT NULLIF(user_id % 10, 0) AS attr_key,
                   CAST(COUNT(*) AS BIGINT) AS n_purchases,
                   ROUND((SUM(value)) * 100.0) / 100.0 + 0.0 AS revenue
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        )
        SELECT t.attr_key, t.n_views, p.n_purchases, p.revenue
        FROM t JOIN p ON t.attr_key IS NOT DISTINCT FROM p.attr_key
    """,
    tags=("join", "null-safe", "events"),
)
def null_safe_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    key = F.nullif(F.col("user_id") % 10, F.lit(0)).alias("attr_key")
    t = (
        events.filter(F.col("event_type") == "view")
        .groupBy(key)
        .agg(F.count(F.lit(1)).cast("long").alias("n_views"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            pround(F.sum("value"), 2).alias("revenue"),
        )
    )
    return t.join(p, t["attr_key"].eqNullSafe(p["attr_key"])).select(
        t["attr_key"], "n_views", "n_purchases", "revenue"
    )


# ---------------------------------------------------------------------------
# Custom-source FILTER PUSHDOWN + PARTITION PRUNING: the same replay
# DataSource, but the query's WHERE clause does the slicing — Spark hands
# the event_id range and event_type IN filters to the source's
# pushFilters hook (spark.sql.python.filterPushdown.enabled), the source
# binary-searches its sorted offset space and plans ONLY the matching row
# slice, and the event_type filter is applied on the Arrow batches before
# they cross into the JVM. The oracle is the plain WHERE on events.
# tests/test_datasources.py asserts the pruning itself (partition bounds
# shrink, consumed filters are not re-returned).
# ---------------------------------------------------------------------------
_PRUNE_LO = 150  # event_id >= — maps to a row-index prune
_PRUNE_HI = 650  # event_id <  —
_PRUNE_TYPES = ("view", "purchase")


@register(
    "batch_replay_pruned_scan",
    oracle=f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(MIN(event_id) AS BIGINT) AS min_id,
               CAST(MAX(event_id) AS BIGINT) AS max_id,
               {sql_round('SUM(value)', 2)} AS sum_value
        FROM events
        WHERE event_id >= {_PRUNE_LO} AND event_id < {_PRUNE_HI}
          AND event_type IN {_PRUNE_TYPES}
        GROUP BY 1
    """,
    tags=("datasource", "connector", "pushdown", "pruning", "events"),
)
def batch_replay_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from kafka_stream_job_spark.sources.replay import register_replay_source

    register_replay_source(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("ksj_replay")
        .option("path", _os.path.join(sf_dir, "events.parquet"))
        .option("n_splits", 8)
        .load()
        .filter(
            (F.col("event_id") >= _PRUNE_LO)
            & (F.col("event_id") < _PRUNE_HI)
            & (F.col("event_type").isin(*_PRUNE_TYPES))
        )
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
        pround(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# WILSON LOWER BOUND ranking — the robust small-sample proportion rank
# (how every "sort by rating" feature avoids promoting a 1-for-1
# supplier over a 480-for-500 one): per supplier, the 95% Wilson score
# lower bound of its lineitem RETURN rate, ranked worst-first. One
# grouped aggregate; the bound itself is a fixed scalar IEEE dag
# (z = 1.96 literal, one sqrt) written identically in both engines, so
# pround(6) pins it exactly. Top-20 with deterministic tie-breaks.
# ---------------------------------------------------------------------------
@register(
    "supplier_return_wilson_rank",
    oracle="""
        WITH s AS (
            SELECT l_suppkey,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_returned
            FROM lineitem GROUP BY 1
        ),
        w AS (
            SELECT l_suppkey, n_items, n_returned,
                   ROUND(((n_returned * 1.0 / n_items + 1.96 * 1.96 / (2.0 * n_items)
                          - 1.96 * sqrt((n_returned * 1.0 / n_items)
                                        * (1.0 - n_returned * 1.0 / n_items) / n_items
                                        + 1.96 * 1.96 / (4.0 * n_items * n_items)))
                         / (1.0 + 1.96 * 1.96 / n_items)) * 1000000.0) / 1000000.0
                       + 0.0 AS wilson_low
            FROM s
        )
        SELECT l_suppkey, n_items, n_returned, wilson_low
        FROM w
        ORDER BY wilson_low DESC, n_items DESC, l_suppkey
        LIMIT 20
    """,
    tags=("stats", "ranking", "wilson", "lineitem"),
)
def supplier_return_wilson_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("n_returned"),
    )
    p = F.col("n_returned") * 1.0 / F.col("n_items")
    n = F.col("n_items")
    z2 = 1.96 * 1.96
    wilson = (
        p
        + F.lit(z2) / (2.0 * n)
        - 1.96 * F.sqrt(p * (F.lit(1.0) - p) / n + F.lit(z2) / (4.0 * n * n))
    ) / (F.lit(1.0) + F.lit(z2) / n)
    return (
        s.select("l_suppkey", "n_items", "n_returned", pround(wilson, 6).alias("wilson_low"))
        .orderBy(F.col("wilson_low").desc(), F.col("n_items").desc(), "l_suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# PARAMETERIZED SQL (Spark 4): named parameter markers (:param) bound
# via spark.sql(args=...) — the injection-safe API surface for
# templated queries — plus IDENTIFIER() binding a TABLE NAME from a
# parameter (the piece string interpolation can't do safely), plus
# GROUP BY ALL (keys inferred from the non-aggregate select list).
# Catalyst sees fully-bound literals after parse, so pushdown/pruning
# are unaffected — this is purely the safe templating surface.
# ---------------------------------------------------------------------------
@register(
    "parameterized_sql_showcase",
    oracle="""
        SELECT
            CAST(date_trunc('day', ts) AS VARCHAR) AS day_ts,
            event_type,
            COUNT(*)    AS n_events,
            ROUND((SUM(value)) * 100.0) / 100.0 + 0.0 AS sum_value
        FROM events
        WHERE event_type IN ('view', 'click') AND value >= 10.0
        GROUP BY 1, 2
    """,
    tags=("sql-surface", "parameterized", "identifier", "events"),
)
def parameterized_sql_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("param_events_v")
    return spark.sql(
        """
        SELECT
            CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING) AS day_ts,
            event_type,
            COUNT(*)    AS n_events,
            ROUND(SUM(value) * 100.0) / 100.0 + 0.0 AS sum_value
        FROM IDENTIFIER(:tbl)
        WHERE event_type IN (:t1, :t2) AND value >= :min_value
        GROUP BY ALL
        """,
        args={
            "tbl": "param_events_v",
            "t1": "view",
            "t2": "click",
            "min_value": 10.0,
        },
    )


# ---------------------------------------------------------------------------
# TIME-SERIES SUBSEQUENCE SIMILARITY SEARCH (per PAPERS.md: "Time Series
# Similarity Search for Streaming Data in Distributed Systems", EDBT
# 2019): over the hourly event-count series, find the historical
# 24-hour windows whose Z-NORMALIZED shape best matches the most recent
# complete 24-hour window (min SSE) — the "when did traffic look like
# today" query. Two-stage shape: the data-sized scan reduces to the
# per-hour count series (time-bounded, tiny even at 100 TB — one row
# per hour), then window frames assemble the 24-point subsequences and
# a fixed IEEE dag (exact-integer sums, one sqrt, index-ordered fold)
# scores each against the broadcast query window. Zero-variance windows
# are filtered identically in both engines; overlap with the query
# window is excluded; deterministic (sse, start) top-5.
# ---------------------------------------------------------------------------
_TSW = 24  # subsequence length (hours)


def _ts_znorm_sql() -> str:
    stats = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), w), (a, b) -> a + b)"
    )
    stats_sq = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(w, x -> x * x)), (a, b) -> a + b)"
    )
    return f"""
        WITH series AS (
            SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1
        ),
        dense AS (
            SELECT h, c, ROW_NUMBER() OVER (ORDER BY h) AS i,
                   COUNT(*) OVER () AS n
            FROM series
        ),
        wins AS (
            SELECT h, i, n,
                   list(c) OVER (ORDER BY i
                                 ROWS BETWEEN CURRENT ROW AND {_TSW - 1} FOLLOWING)
                       AS w
            FROM dense
        ),
        full_wins AS (
            SELECT h, i, n, w,
                   {stats} AS s, {stats_sq} AS sq
            FROM wins WHERE len(w) = {_TSW}
        ),
        q AS (
            SELECT w AS qw, s AS qs, sq AS qsq FROM full_wins
            WHERE i = n - {_TSW} + 1
        ),
        scored AS (
            SELECT f.h, f.i, f.n,
                   ROUND((list_reduce(list_prepend(0.0, list_transform(
                       list_zip(f.w, q.qw),
                       p -> ((p[1] - f.s / {_TSW}.0)
                             / sqrt(f.sq / {_TSW}.0 - (f.s / {_TSW}.0) * (f.s / {_TSW}.0))
                             - (p[2] - q.qs / {_TSW}.0)
                             / sqrt(q.qsq / {_TSW}.0 - (q.qs / {_TSW}.0) * (q.qs / {_TSW}.0)))
                          * ((p[1] - f.s / {_TSW}.0)
                             / sqrt(f.sq / {_TSW}.0 - (f.s / {_TSW}.0) * (f.s / {_TSW}.0))
                             - (p[2] - q.qs / {_TSW}.0)
                             / sqrt(q.qsq / {_TSW}.0 - (q.qs / {_TSW}.0) * (q.qs / {_TSW}.0))))),
                       (a, b) -> a + b)) * 1000000.0) / 1000000.0 + 0.0 AS sse
            FROM full_wins f, q
            WHERE f.sq * {_TSW} > f.s * f.s AND q.qsq * {_TSW} > q.qs * q.qs
              AND f.i + {_TSW} - 1 < f.n - {_TSW} + 1
        )
        SELECT CAST(h AS VARCHAR) AS window_start, sse
        FROM scored ORDER BY sse, window_start LIMIT 5
    """


@register(
    "timeseries_znorm_subsequence_search",
    oracle=_ts_znorm_sql(),
    tags=("timeseries", "similarity", "znorm", "events", "paper"),
)
def timeseries_znorm_subsequence_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    series = events.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # the series is one row per hour — bounded by wall-clock time, not by
    # data volume, so the global-order windows below run on a tiny input
    # even when `events` is 100 TB (the reduction above is the data-sized
    # stage). A bare ORDER BY window here is deliberate and safe.
    wi = Window.orderBy("h")
    dense = series.select(
        "h", "c", F.row_number().over(wi).alias("i")
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
    wins = dense.withColumn(
        "w", F.collect_list("c").over(wi.rowsBetween(0, _TSW - 1))
    ).filter(F.size("w") == _TSW)
    isum = F.aggregate("w", F.lit(0).cast("long"), lambda a, x: a + x)
    isq = F.aggregate(
        F.transform("w", lambda x: x * x), F.lit(0).cast("long"), lambda a, x: a + x
    )
    full_wins = wins.select("h", "i", "n", "w", isum.alias("s"), isq.alias("sq"))
    q = full_wins.filter(F.col("i") == F.col("n") - _TSW + 1).select(
        F.col("w").alias("qw"), F.col("s").alias("qs"), F.col("sq").alias("qsq")
    )

    def znorm_term(x, tot, totsq):
        mean = tot / float(_TSW)
        sd = F.sqrt(totsq / float(_TSW) - mean * mean)
        return (x - mean) / sd

    diff = F.zip_with(
        "w",
        "qw",
        lambda a, b: (
            znorm_term(a, F.col("s"), F.col("sq"))
            - znorm_term(b, F.col("qs"), F.col("qsq"))
        )
        * (
            znorm_term(a, F.col("s"), F.col("sq"))
            - znorm_term(b, F.col("qs"), F.col("qsq"))
        ),
    )
    scored = (
        full_wins.crossJoin(F.broadcast(q))
        .filter(
            (F.col("sq") * _TSW > F.col("s") * F.col("s"))
            & (F.col("qsq") * _TSW > F.col("qs") * F.col("qs"))
            & (F.col("i") + _TSW - 1 < F.col("n") - _TSW + 1)
        )
        .select(
            F.col("h").cast("string").alias("window_start"),
            pround(
                F.aggregate(diff, F.lit(0.0), lambda a, x: a + x), 6
            ).alias("sse"),
        )
    )
    return scored.orderBy("sse", "window_start").limit(5)


# ---------------------------------------------------------------------------
# EWMA FORECAST over the hourly series — the ops-monitoring smoothing
# pass (exponential weighting, alpha = 0.25): per event_type, fold the
# hour-ordered count series through s ← α·x + (1−α)·s. α = 1/4 and
# 1−α = 3/4 are EXACT binary fractions and the counts are integers, so
# every fold step is a deterministic double op; the fold runs in pinned
# hour order on both engines (aggregate / list_reduce over the collected
# bounded series — one row per hour per type, time-bounded even at
# 100 TB, same argument as the z-norm subsequence search). Output: last
# observation, the EWMA level (= next-hour forecast), and the absolute
# last-residual — the anomaly trigger.
# ---------------------------------------------------------------------------
@register(
    "events_ewma_forecast",
    oracle="""
        WITH series AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        folded AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_hours,
                   CAST(last(c ORDER BY h) AS BIGINT) AS last_count,
                   list_reduce(
                       list_prepend(CAST(first(c ORDER BY h) AS DOUBLE),
                                    list(CAST(c AS DOUBLE) ORDER BY h)[2:]),
                       (s, x) -> 0.25 * x + 0.75 * s) AS ewma
            FROM series GROUP BY event_type
        )
        SELECT event_type, n_hours, last_count,
               ROUND((ewma) * 1000000.0) / 1000000.0 + 0.0 AS ewma_level,
               ROUND((abs(last_count - ewma)) * 1000000.0) / 1000000.0 + 0.0
                   AS last_abs_residual
        FROM folded
    """,
    tags=("timeseries", "forecast", "ewma", "events"),
)
def events_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("h", "c"))),
        lambda s: s["c"].cast("double"),
    )
    per_type = series.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.max_by("c", "h").cast("long").alias("last_count"),
        ordered.alias("xs"),
    )
    ewma = F.aggregate(
        F.slice("xs", 2, 1_000_000),
        F.element_at("xs", 1),
        lambda s, x: F.lit(0.25) * x + F.lit(0.75) * s,
    )
    return per_type.select(
        "event_type",
        "n_hours",
        "last_count",
        pround(ewma, 6).alias("ewma_level"),
        pround(F.abs(F.col("last_count") - ewma), 6).alias("last_abs_residual"),
    )


# ---------------------------------------------------------------------------
# ASSOCIATION RULES over order baskets — the classic market-basket step
# after basket_part_pairs: directional rules a→b with support, confidence
# and lift, min-support-pruned. Support/confidence are integer basis
# points (idiv — exact past 2^53); lift is one double division of two
# exact integer products, pround(6) on both engines.
#
# Scale shape (100 TB): pairs come from the same in-array basket
# expansion as basket_part_pairs (no self-join of the fact table), the
# min-support HAVING prunes before the count joins, and the final top-50
# is TakeOrderedAndProject. The per-item count join keys on partkey —
# dimension-sized, shuffle-joined, never the raw fact.
# ---------------------------------------------------------------------------
AR_MIN_SUPPORT = 3  # min co-occurrence count for a rule
AR_TOP = 50


@register(
    "association_rules_parts",
    oracle=f"""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        nb AS (
            SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
            FROM items
        ),
        cnt AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
            FROM items GROUP BY 1
        ),
        pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                   CAST(COUNT(*) AS BIGINT) AS n_both
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= {AR_MIN_SUPPORT}
        ),
        rules AS (
            SELECT pa AS antecedent, pb AS consequent, n_both FROM pairs
            UNION ALL
            SELECT pb AS antecedent, pa AS consequent, n_both FROM pairs
        )
        SELECT r.antecedent, r.consequent, r.n_both,
               ca.c AS n_antecedent, cb.c AS n_consequent,
               (r.n_both * 10000) // nb.n_baskets AS support_bp,
               (r.n_both * 10000) // ca.c AS confidence_bp,
               ROUND((CAST(r.n_both * nb.n_baskets AS DOUBLE)
                      / CAST(ca.c * cb.c AS DOUBLE)) * 1000000.0) / 1000000.0
                   + 0.0 AS lift
        FROM rules r
        JOIN cnt ca ON ca.l_partkey = r.antecedent
        JOIN cnt cb ON cb.l_partkey = r.consequent, nb
        ORDER BY lift DESC, antecedent ASC, consequent ASC
        LIMIT {AR_TOP}
    """,
    tags=("basket", "association-rules", "lineitem"),
)
def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # ONE fact scan: baskets (orderkey → sorted part set) feed the basket
    # count, the per-item counts (each part appears once per basket in a
    # collect_set) and the in-array pair expansion — no fact self-join,
    # no second scan. Lazy-checkpoint so the three consumers share it.
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint(eager=False)
    )
    nb = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    cnt = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    expanded = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(expanded).alias("p"))
        .groupBy(F.col("p.a").alias("pa"), F.col("p.b").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .filter(F.col("n_both") >= AR_MIN_SUPPORT)
    )
    rules = pairs.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        "n_both",
    ).unionByName(
        pairs.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "n_both",
        )
    )
    joined = (
        rules.join(
            cnt.select(F.col("l_partkey").alias("antecedent"), F.col("c").alias("ca")),
            "antecedent",
        )
        .join(
            cnt.select(F.col("l_partkey").alias("consequent"), F.col("c").alias("cb")),
            "consequent",
        )
        .crossJoin(F.broadcast(nb))
    )
    lift = pround(
        (F.col("n_both") * F.col("n_baskets")).cast("double")
        / (F.col("ca") * F.col("cb")).cast("double"),
        6,
    )
    return (
        joined.select(
            "antecedent",
            "consequent",
            "n_both",
            F.col("ca").alias("n_antecedent"),
            F.col("cb").alias("n_consequent"),
            idiv(F.col("n_both") * 10000, F.col("n_baskets")).alias("support_bp"),
            idiv(F.col("n_both") * 10000, F.col("ca")).alias("confidence_bp"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("antecedent").asc(), F.col("consequent").asc())
        .limit(AR_TOP)
    )


# ---------------------------------------------------------------------------
# HOLT double exponential smoothing — level+trend forecast, the step up
# from events_ewma_forecast (which has no trend term). α=1/4 and β=1/2
# are exact binary fractions; the state is a (level, trend) STRUCT folded
# in pinned hour order, initialized textbook-style (l₀=x₀, b₀=x₁−x₀).
# The recurrence's shared subterm l_t is written out twice in BOTH
# engines so the IEEE dag is identical term for term.
# Scale: same shape as the EWMA — the fold runs over the collected
# per-type hourly series, which is wall-clock-bounded, not data-bounded.
# ---------------------------------------------------------------------------
@register(
    "events_holt_forecast",
    oracle="""
        WITH series AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        folded AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_hours,
                   CAST(last(c ORDER BY h) AS BIGINT) AS last_count,
                   -- state encoded as [level, trend] DOUBLE pairs, NOT a
                   -- struct: DuckDB 1.0's list_reduce mis-evaluates a
                   -- struct accumulator whose fields reference acc more
                   -- than once (second field comes back wrong from step
                   -- two onward); the list encoding folds correctly.
                   list_reduce(
                       list_prepend(
                           [list(CAST(c AS DOUBLE) ORDER BY h)[1],
                            list(CAST(c AS DOUBLE) ORDER BY h)[2]
                                - list(CAST(c AS DOUBLE) ORDER BY h)[1]],
                           [[x, CAST(0 AS DOUBLE)]
                            for x in list(CAST(c AS DOUBLE) ORDER BY h)[3:]]),
                       (acc, s) ->
                           [0.25 * s[1] + 0.75 * (acc[1] + acc[2]),
                            0.5 * ((0.25 * s[1] + 0.75 * (acc[1] + acc[2]))
                                   - acc[1]) + 0.5 * acc[2]]) AS st
            FROM series GROUP BY event_type
            HAVING COUNT(*) >= 2
        )
        SELECT event_type, n_hours, last_count,
               ROUND((st[1]) * 1000000.0) / 1000000.0 + 0.0 AS holt_level,
               ROUND((st[2]) * 1000000.0) / 1000000.0 + 0.0 AS holt_trend,
               ROUND((st[1] + st[2]) * 1000000.0) / 1000000.0 + 0.0
                   AS forecast_next
        FROM folded
    """,
    tags=("timeseries", "forecast", "holt", "events"),
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("h", "c"))),
        lambda s: s["c"].cast("double"),
    )
    per_type = series.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.max_by("c", "h").cast("long").alias("last_count"),
        ordered.alias("xs"),
    ).filter(F.col("n_hours") >= 2)
    x1 = F.element_at("xs", 1)
    x2 = F.element_at("xs", 2)
    init = F.struct(x1.alias("l"), (x2 - x1).alias("b"))
    st = F.aggregate(
        F.slice("xs", 3, 1_000_000),
        init,
        lambda acc, x: F.struct(
            (F.lit(0.25) * x + F.lit(0.75) * (acc["l"] + acc["b"])).alias("l"),
            (
                F.lit(0.5)
                * (
                    (F.lit(0.25) * x + F.lit(0.75) * (acc["l"] + acc["b"]))
                    - acc["l"]
                )
                + F.lit(0.5) * acc["b"]
            ).alias("b"),
        ),
    )
    return per_type.select(
        "event_type",
        "n_hours",
        "last_count",
        pround(st["l"], 6).alias("holt_level"),
        pround(st["b"], 6).alias("holt_trend"),
        pround(st["l"] + st["b"], 6).alias("forecast_next"),
    )


# ---------------------------------------------------------------------------
# BATCH SESSIONIZATION — the classic gap rule (30 min of silence splits
# a session), computed declaratively: per-user lag → boundary flag →
# running sum = session index → per-session aggregate. The streaming
# twin is session_window_rollup (F.session_window); this is the batch
# backfill of the same concept, exact and oracle-checked row for row.
# Scale: both windows and the final groupBy share the user_id hash
# partitioning, so the fact shuffles ONCE (plan-tested); no global order.
# ---------------------------------------------------------------------------
SESSION_GAP_S = 1800


@register(
    "events_sessionize_batch",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN LAG(ts) OVER w IS NULL
                          OR CAST(date_diff('second', LAG(ts) OVER w, ts)
                                  AS BIGINT) > {SESSION_GAP_S}
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, event_type,
                   CAST(SUM(new_s) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_idx
            FROM flagged
        )
        SELECT user_id, session_idx,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
                   AS duration_seconds,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchases
        FROM sess GROUP BY user_id, session_idx
    """,
    tags=("sessionization", "window", "events"),
)
def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = events.select(
        "user_id",
        "ts",
        "event_type",
        F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0).alias("new_s"),
        F.sum(
            F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("session_idx"),
    )
    return flagged.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        # unix_timestamp truncates to the second, so the difference counts
        # second-boundary CROSSINGS — the same semantics as the oracle's
        # date_diff('second', ...); timestampdiff(SECOND, ...) would count
        # full elapsed seconds and diverge on sub-second components.
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long")
        .alias("duration_seconds"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
    )


# ---------------------------------------------------------------------------
# BFS HOP DISTANCE over the part co-purchase graph (same edge set as
# graph_pagerank_parts) — single-source shortest hops, 3 synchronous
# frontier expansions unrolled declaratively: dᵢ = min(dᵢ₋₁, 1 + dᵢ₋₁
# pushed over edges). Min-aggregation makes re-discovery idempotent, so
# the unrolled joins are exactly Pregel's synchronous BFS.
# Scale: edges stay put; the (node, dist) table — bounded by the node
# count, dimension-sized next to the fact table that generated the
# edges — broadcasts to each expansion join, mirroring pagerank's
# broadcast-ranks pattern.
# ---------------------------------------------------------------------------
BFS_HOPS = 3


def _bfs_oracle() -> str:
    sql = """
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        edges AS (
            SELECT a.l_partkey AS src, b.l_partkey AS dst
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey <> b.l_partkey
            GROUP BY 1, 2
        ),
        d0 AS (SELECT MIN(src) AS part, CAST(0 AS BIGINT) AS dist FROM edges)"""
    for i in range(1, BFS_HOPS + 1):
        sql += f""",
        d{i} AS (
            SELECT part, MIN(dist) AS dist FROM (
                SELECT part, dist FROM d{i - 1}
                UNION ALL
                SELECT e.dst AS part, d.dist + 1 AS dist
                FROM edges e JOIN d{i - 1} d ON e.src = d.part
            ) GROUP BY part
        )"""
    sql += f"""
        SELECT CAST(dist AS BIGINT) AS hops,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               MIN(part) AS min_part, MAX(part) AS max_part
        FROM d{BFS_HOPS} GROUP BY dist
    """
    return sql


@register(
    "graph_bfs_hops",
    oracle=_bfs_oracle(),
    tags=("graph", "bfs", "iterative", "lineitem"),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    directed = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x: F.transform(
                F.filter(F.col("parts"), lambda y: y != x),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(directed).alias("e"))
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)  # each hop reads the same edge set
    )
    dist = edges.agg(F.min("src").alias("part")).select(
        "part", F.lit(0).cast("long").alias("dist")
    )
    for _ in range(BFS_HOPS):
        pushed = (
            edges.join(F.broadcast(dist), edges.src == dist.part)
            .select(F.col("dst").alias("part"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(pushed)
            .groupBy("part")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.groupBy(F.col("dist").alias("hops")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.min("part").alias("min_part"),
        F.max("part").alias("max_part"),
    )


# ---------------------------------------------------------------------------
# SCD2 POINT-IN-TIME JOIN — the read side of slowly-changing-dimension
# history (the write side is scd2_customer_merge): join each order to
# the dimension version that was EFFECTIVE at its order date, i.e. the
# max eff_from <= o_orderdate per key. The dimension is the same
# deterministic two-version history as the merge query (every 20th
# customer re-versioned at 1996-01-01).
# The version pick is max_by over the effective-date-filtered join —
# a partial-aggregating groupBy, not a per-order sort.
# Scale: equi-join on custkey carries the non-equi eff_from predicate as
# a residual filter; the dimension (2 rows/key max) broadcasts when it
# fits, else co-shuffles on the same custkey partitioning the aggregate
# reuses.
# ---------------------------------------------------------------------------
SCD2_V2_TS = "1996-01-01 00:00:00"


@register(
    "scd2_point_in_time_join",
    oracle=f"""
        WITH dim AS (
            SELECT c_custkey, c_acctbal AS bal, 1 AS version,
                   TIMESTAMP '1990-01-01 00:00:00' AS eff_from
            FROM customer
            UNION ALL
            SELECT c_custkey, c_acctbal + 100.0, 2,
                   TIMESTAMP '{SCD2_V2_TS}'
            FROM customer WHERE c_custkey % 20 = 0
        )
        SELECT o.o_orderkey, o.o_custkey,
               max_by(d.version, d.eff_from) AS version,
               ROUND((max_by(d.bal, d.eff_from)) * 100.0) / 100.0 + 0.0
                   AS acctbal_at_order
        FROM orders o
        JOIN dim d ON d.c_custkey = o.o_custkey
                  AND d.eff_from <= o.o_orderdate
        GROUP BY 1, 2
    """,
    tags=("scd2", "asof", "temporal-join", "orders", "customer"),
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    v1 = customer.select(
        "c_custkey",
        F.col("c_acctbal").alias("bal"),
        F.lit(1).alias("version"),
        F.lit("1990-01-01 00:00:00").cast("timestamp_ntz").alias("eff_from"),
    )
    v2 = customer.filter(F.col("c_custkey") % 20 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 100.0).alias("bal"),
        F.lit(2).alias("version"),
        F.lit(SCD2_V2_TS).cast("timestamp_ntz").alias("eff_from"),
    )
    dim = v1.unionByName(v2)
    return (
        orders.select("o_orderkey", "o_custkey", "o_orderdate")
        .join(
            F.broadcast(dim),
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("eff_from") <= F.col("o_orderdate")),
        )
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            F.max_by("version", "eff_from").alias("version"),
            pround(F.max_by("bal", "eff_from"), 2).alias("acctbal_at_order"),
        )
    )


# ---------------------------------------------------------------------------
# THEIL-SEN ROBUST TREND — median of all pairwise slopes of the daily
# count series per event type: the estimator that shrugs off the outlier
# days that wreck the OLS fit (revenue_trend_ols is the fragile twin).
# The series is one row per day (wall-clock-bounded), so the O(days²)
# pair set is a small in-array expansion, never a data-sized join; the
# median is taken EXPLICITLY from the sorted slope array (odd → middle,
# even → mean of middles) because engine quantile interpolation dags
# differ — this formula is the same fixed IEEE dag on both sides.
# ---------------------------------------------------------------------------
@register(
    "events_theilsen_trend",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   date_diff('day', DATE '1970-01-01',
                             CAST(date_trunc('day', ts) AS DATE)) AS d,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a.event_type, (b.c - a.c) * 1.0 / (b.d - a.d) AS s
            FROM daily a
            JOIN daily b ON a.event_type = b.event_type AND a.d < b.d
        ),
        med AS (
            SELECT event_type, list(s ORDER BY s) AS ss,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM pairs GROUP BY 1
        )
        SELECT event_type, n AS n_pairs,
               ROUND((CASE WHEN n % 2 = 1 THEN ss[(n + 1) // 2]
                           ELSE (ss[n // 2] + ss[n // 2 + 1]) * 0.5 END)
                     * 1000000.0) / 1000000.0 + 0.0 AS theilsen_slope_per_day
        FROM med
    """,
    tags=("timeseries", "robust", "theil-sen", "events"),
)
def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.expr(
            "datediff(cast(date_trunc('day', ts) as date), date'1970-01-01')"
        ).alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    xs = F.array_sort(F.collect_list(F.struct("d", "c")))
    slopes = F.flatten(
        F.transform(
            F.col("xs"),
            lambda x, i: F.transform(
                F.slice(F.col("xs"), i + 2, F.size(F.col("xs"))),
                lambda y: (y["c"] - x["c"]) * F.lit(1.0) / (y["d"] - x["d"]),
            ),
        )
    )
    per_type = (
        daily.groupBy("event_type")
        .agg(xs.alias("xs"))
        .select("event_type", F.array_sort(slopes).alias("ss"))
        .select(
            "event_type", "ss", F.size("ss").cast("long").alias("n")
        )
    )
    odd = F.element_at("ss", F.expr("int((n + 1) div 2)"))
    even = (
        F.element_at("ss", F.expr("int(n div 2)"))
        + F.element_at("ss", F.expr("int(n div 2 + 1)"))
    ) * F.lit(0.5)
    return per_type.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        pround(F.when(F.col("n") % 2 == 1, odd).otherwise(even), 6).alias(
            "theilsen_slope_per_day"
        ),
    )


# ---------------------------------------------------------------------------
# MANN-KENDALL TREND TEST — the non-parametric monotone-trend test that
# pairs with events_theilsen_trend (Theil-Sen estimates the slope;
# Mann-Kendall decides whether a trend EXISTS): S = Σ_{i<j}
# sign(c_j - c_i) over the per-type daily count series, with the
# ties-corrected variance Var(S)·18 = n(n-1)(2n+5) − Σ_t t(t-1)(2t+5)
# kept as an exact integer. The day series is wall-clock-bounded, so
# the O(days²) pair set is a grouped in-array expansion (the Theil-Sen
# shape — no join, no global window); S, n and the tie term are exact
# int64, and the only floats are the final ONE-expression z (identical
# IEEE dag on both engines: integer-exact inputs, /18.0, sqrt, divide,
# round). Continuity-corrected z = (S∓1)/sqrt(Var), 0 at S=0.
# ---------------------------------------------------------------------------
MK_Z_CRIT_MICRO = 1_960_000  # two-sided 5% critical value, micro units


def mann_kendall_assemble(daily: DataFrame) -> DataFrame:
    """Mann-Kendall report from (event_type, d, c) daily rows — shared
    verbatim by the batch query and its streaming twin."""
    xs = F.array_sort(F.collect_list(F.struct("d", "c")))
    signs = F.flatten(
        F.transform(
            F.col("xs"),
            lambda x, i: F.transform(
                F.slice(F.col("xs"), i + 2, F.size(F.col("xs"))),
                lambda y: F.when(y["c"] > x["c"], 1)
                .when(y["c"] < x["c"], -1)
                .otherwise(0)
                .cast("long"),
            ),
        )
    )
    per_type = (
        daily.groupBy("event_type")
        .agg(xs.alias("xs"))
        .select(
            "event_type",
            F.size("xs").cast("long").alias("n"),
            F.aggregate(
                signs, F.lit(0).cast("long"), lambda acc, v: acc + v
            ).alias("s_stat"),
        )
    )
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_sum")
        )
    )
    g = per_type.join(F.broadcast(ties), "event_type").select(
        "event_type",
        "n",
        "s_stat",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie_sum")
        ).alias("var_s_x18"),
    )
    z = (
        F.when(F.col("var_s_x18") <= 0, F.lit(0.0))
        .when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(F.col("var_s_x18") / 18.0),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(F.col("var_s_x18") / 18.0),
        )
        .otherwise(F.lit(0.0))
    )
    z_micro = F.round(z * 1000000.0, 0).cast("long")
    return g.select(
        "event_type",
        F.col("n").alias("n_days"),
        "s_stat",
        "var_s_x18",
        z_micro.alias("z_micro"),
        F.when(z_micro >= MK_Z_CRIT_MICRO, "increasing")
        .when(z_micro <= -MK_Z_CRIT_MICRO, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


_MK_DAILY_SQL = """
            SELECT event_type,
                   date_diff('day', DATE '1970-01-01',
                             CAST(date_trunc('day', ts) AS DATE)) AS d,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
"""


def _mann_kendall_oracle(daily_sql: str) -> str:
    return f"""
        WITH daily AS ({daily_sql}),
        pairs AS (
            SELECT a.event_type,
                   CASE WHEN b.c > a.c THEN 1
                        WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
            FROM daily a
            JOIN daily b ON a.event_type = b.event_type AND a.d < b.d
        ),
        s AS (
            SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat
            FROM pairs GROUP BY 1
        ),
        ties AS (
            SELECT event_type,
                   CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum
            FROM (
                SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS t
                FROM daily GROUP BY 1, 2
            ) GROUP BY 1
        ),
        g AS (
            SELECT nn.event_type, nn.n,
                   COALESCE(s.s_stat, 0) AS s_stat,
                   nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_sum
                       AS var_s_x18
            FROM (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                FROM daily GROUP BY 1
            ) nn
            LEFT JOIN s ON s.event_type = nn.event_type
            JOIN ties ON ties.event_type = nn.event_type
        )
        SELECT event_type, n AS n_days, s_stat, var_s_x18,
               CAST(ROUND(CASE
                   WHEN var_s_x18 <= 0 THEN 0.0
                   WHEN s_stat > 0
                       THEN (s_stat - 1) / sqrt(var_s_x18 / 18.0)
                   WHEN s_stat < 0
                       THEN (s_stat + 1) / sqrt(var_s_x18 / 18.0)
                   ELSE 0.0 END * 1000000.0) AS BIGINT) AS z_micro,
               CASE
                   WHEN CAST(ROUND(CASE
                       WHEN var_s_x18 <= 0 THEN 0.0
                       WHEN s_stat > 0
                           THEN (s_stat - 1) / sqrt(var_s_x18 / 18.0)
                       WHEN s_stat < 0
                           THEN (s_stat + 1) / sqrt(var_s_x18 / 18.0)
                       ELSE 0.0 END * 1000000.0) AS BIGINT)
                        >= {MK_Z_CRIT_MICRO} THEN 'increasing'
                   WHEN CAST(ROUND(CASE
                       WHEN var_s_x18 <= 0 THEN 0.0
                       WHEN s_stat > 0
                           THEN (s_stat - 1) / sqrt(var_s_x18 / 18.0)
                       WHEN s_stat < 0
                           THEN (s_stat + 1) / sqrt(var_s_x18 / 18.0)
                       ELSE 0.0 END * 1000000.0) AS BIGINT)
                        <= -{MK_Z_CRIT_MICRO} THEN 'decreasing'
                   ELSE 'none'
               END AS trend
        FROM g
    """


@register(
    "events_mann_kendall_trend",
    oracle=_mann_kendall_oracle(_MK_DAILY_SQL),
    tags=("timeseries", "stats", "hypothesis-test", "mann-kendall",
          "events"),
)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.expr(
            "datediff(cast(date_trunc('day', ts) as date), date'1970-01-01')"
        ).alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    return mann_kendall_assemble(daily.localCheckpoint(eager=False))


# ---------------------------------------------------------------------------
# WALD–WOLFOWITZ RUNS TEST — is the purchase/non-purchase SEQUENCE
# random, or do successes clump (sessions, cascades) / alternate
# (throttling)? R = number of runs along the global (ts, event_id)
# order = adjacent value changes + 1. Adjacency at scale rides the new
# distributed_adjacent_changes primitive: one range exchange,
# per-partition lag, plus ≤|partitions| boundary pairs through a
# metadata-sized window — never a data-sized self-join or global sort.
# R, n and n1 are exact int64; E[R] = 1 + 2·n1·n2/n and
# Var = m(m−n)/(n²(n−1)) (m = 2·n1·n2) evaluate as ONE identical IEEE
# dag on both engines (exact integer inputs, no transcendentals beyond
# the correctly-rounded sqrt), z = (R − E)/sqrt(Var).
# ---------------------------------------------------------------------------
@register(
    "events_runs_test",
    oracle="""
        WITH w AS (
            SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
                   LAG(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       OVER (ORDER BY ts, event_id) AS px
            FROM events
        ),
        c AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COALESCE(SUM(x), 0) AS BIGINT) AS n1,
                   -- an empty sequence has ZERO runs, not changes+1
                   CASE WHEN COUNT(*) = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(SUM(CASE WHEN px IS NOT NULL AND x <> px
                                           THEN 1 ELSE 0 END) AS BIGINT) + 1
                   END AS r
            FROM w
        ),
        g AS (SELECT n, n1, r, 2.0 * n1 * (n - n1) AS m FROM c),
        f AS (
            SELECT n, n1, r,
                   CASE WHEN n = 0 THEN 0.0 ELSE 1.0 + m / n END AS e,
                   CASE WHEN n < 2 THEN 0.0
                        ELSE (m * (m - n))
                             / ((CAST(n AS DOUBLE) * n) * (n - 1.0))
                   END AS v
            FROM g
        )
        SELECT n AS n_events, n1 AS n_success, r AS n_runs,
               CAST(ROUND(e * 1000000.0) AS BIGINT) AS expected_runs_micro,
               CAST(ROUND(CASE WHEN v <= 0 THEN 0.0
                               ELSE (r - e) / sqrt(v) END * 1000000.0)
                    AS BIGINT) AS z_micro
        FROM f
    """,
    tags=("stats", "hypothesis-test", "runs-test", "sequence", "events"),
)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_adjacent_changes,
    )

    events = load_table(spark, sf_dir, "events")
    obs = events.select(
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    ).localCheckpoint(eager=False)  # changes + counts share one read
    changes = distributed_adjacent_changes(
        obs, [F.col("ts"), F.col("event_id")], "x"
    )
    counts = obs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("n1"),
    )
    c = counts.crossJoin(F.broadcast(changes)).select(
        "n",
        "n1",
        # an empty sequence has ZERO runs, not n_changes+1
        F.when(F.col("n") == 0, 0)
        .otherwise(F.col("n_changes") + 1)
        .cast("long")
        .alias("r"),
    )
    return runs_report(c)


def runs_report(c: DataFrame) -> DataFrame:
    """Runs-test report from a 1-row (n, n1, r) table — shared verbatim
    by the batch query and its streaming twin (one IEEE dag). Degenerate
    inputs stay finite: E is 0 for an empty sequence (no 0/0 NaN) and
    Var is 0 below n=2, which routes z to its own 0 branch."""
    m = F.lit(2.0) * F.col("n1") * (F.col("n") - F.col("n1"))
    e = F.when(F.col("n") == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) + m / F.col("n")
    )
    v = F.when(F.col("n") < 2, F.lit(0.0)).otherwise(
        (m * (m - F.col("n")))
        / (
            (F.col("n").cast("double") * F.col("n"))
            * (F.col("n") - F.lit(1.0))
        )
    )
    z = F.when(v <= 0, F.lit(0.0)).otherwise((F.col("r") - e) / F.sqrt(v))
    return c.select(
        F.col("n").alias("n_events"),
        F.col("n1").alias("n_success"),
        F.col("r").alias("n_runs"),
        F.round(e * 1000000.0, 0).cast("long").alias("expected_runs_micro"),
        F.round(z * 1000000.0, 0).cast("long").alias("z_micro"),
    )


# ---------------------------------------------------------------------------
# JOIN CARDINALITY AUDIT — the optimizer's cost model, checked against
# ground truth: for three representative equi-joins, compare the
# textbook estimate |L|·|R| / max(V_L, V_R) with the EXACT output
# cardinality Σ_k c_L(k)·c_R(k). The actual is computed from the two
# per-key COUNT tables (never by materializing the join), so the audit
# itself is two partial-agg groupBys + a key-sized join per predicate —
# the shape a stats collector would run at 100 TB. All arithmetic is
# exact integer (idiv); the error ratio is basis points of actual.
# ---------------------------------------------------------------------------
@register(
    "join_cardinality_audit",
    oracle="""
        WITH preds AS (
            SELECT 'orders_customer_custkey' AS predicate,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_left,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_right,
                   (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders) AS v_left,
                   (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT) FROM customer) AS v_right,
                   (SELECT CAST(SUM(l.c * r.c) AS BIGINT) FROM
                       (SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY 1) l
                       JOIN (SELECT c_custkey AS k, COUNT(*) AS c FROM customer GROUP BY 1) r
                       USING (k)) AS actual
            UNION ALL
            SELECT 'orders_self_orderdate',
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
                   (SELECT CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) FROM orders),
                   (SELECT CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) FROM orders),
                   (SELECT CAST(SUM(c * c) AS BIGINT) FROM
                       (SELECT o_orderdate, COUNT(*) AS c FROM orders GROUP BY 1))
            UNION ALL
            SELECT 'lineitem_part_partkey',
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM part),
                   (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem),
                   (SELECT CAST(COUNT(DISTINCT p_partkey) AS BIGINT) FROM part),
                   (SELECT CAST(SUM(l.c * r.c) AS BIGINT) FROM
                       (SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1) l
                       JOIN (SELECT p_partkey AS k, COUNT(*) AS c FROM part GROUP BY 1) r
                       USING (k)) AS actual
        )
        SELECT predicate, n_left, n_right, v_left, v_right,
               (n_left * n_right) // (CASE WHEN v_left >= v_right
                                           THEN v_left ELSE v_right END)
                   AS estimated,
               actual,
               (ABS((n_left * n_right) // (CASE WHEN v_left >= v_right
                                                THEN v_left ELSE v_right END)
                    - actual) * 10000) // actual AS error_bp
        FROM preds
    """,
    tags=("stats", "optimizer", "cardinality", "audit"),
)
def join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def counts(df, key):
        return df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        )

    def audit(name, left, lkey, right, rkey):
        nl = left.agg(F.count(F.lit(1)).cast("long").alias("n_left"))
        nr = right.agg(F.count(F.lit(1)).cast("long").alias("n_right"))
        vl = left.agg(F.countDistinct(lkey).cast("long").alias("v_left"))
        vr = right.agg(F.countDistinct(rkey).cast("long").alias("v_right"))
        cl, cr = counts(left, lkey), counts(right, rkey)
        act = (
            cl.join(cr.withColumnRenamed("c", "cr"), "k")
            .agg(F.sum(F.col("c") * F.col("cr")).cast("long").alias("actual"))
        )
        row = (
            nl.crossJoin(F.broadcast(nr))
            .crossJoin(F.broadcast(vl))
            .crossJoin(F.broadcast(vr))
            .crossJoin(F.broadcast(act))
        )
        vmax = F.when(
            F.col("v_left") >= F.col("v_right"), F.col("v_left")
        ).otherwise(F.col("v_right"))
        est = idiv(F.col("n_left") * F.col("n_right"), vmax)
        return row.select(
            F.lit(name).alias("predicate"),
            "n_left",
            "n_right",
            "v_left",
            "v_right",
            est.alias("estimated"),
            "actual",
            idiv(F.abs(est - F.col("actual")) * 10000, F.col("actual")).alias(
                "error_bp"
            ),
        )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        audit("orders_customer_custkey", orders, "o_custkey", customer, "c_custkey")
        .unionByName(
            audit("orders_self_orderdate", orders, "o_orderdate", orders, "o_orderdate")
        )
        .unionByName(
            audit("lineitem_part_partkey", lineitem, "l_partkey", part, "p_partkey")
        )
    )


# ---------------------------------------------------------------------------
# A/B UPLIFT TEST — experimentation analytics on the event stream:
# deterministic hash assignment (md5(user) parity → arm, the same
# bucketing a real experimentation system uses so assignment is stable
# across sessions and engines), per-arm conversion = share of users with
# a high-value purchase (value > 150 — a plain "any purchase" converts
# ~everyone and zeroes the pooled variance), and the two-proportion z
# statistic. Counts are exact
# integers; the z arithmetic is one fixed dag over them (pround 6).
# Scale: one events scan → per-user flags (partial-agg groupBy) → two-row
# arm aggregate; the z-stat joins two broadcast scalars.
# ---------------------------------------------------------------------------
@register(
    "events_ab_uplift_test",
    oracle=f"""
        WITH assign AS (
            SELECT user_id,
                   {md5_int_sql("user_id", "ab:")} % 2
                       AS arm,
                   MAX(CASE WHEN event_type = 'purchase' AND value > 150.0
                            THEN 1 ELSE 0 END) AS converted
            FROM events GROUP BY user_id
        ),
        arms AS (
            SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(converted) AS BIGINT) AS n_converted
            FROM assign GROUP BY arm
        ),
        wide AS (
            SELECT
                (SELECT n_users FROM arms WHERE arm = 0) AS n0,
                (SELECT n_converted FROM arms WHERE arm = 0) AS c0,
                (SELECT n_users FROM arms WHERE arm = 1) AS n1,
                (SELECT n_converted FROM arms WHERE arm = 1) AS c1
        )
        SELECT n0 AS n_control, c0 AS conv_control,
               n1 AS n_treatment, c1 AS conv_treatment,
               ROUND((c1 * 1.0 / n1 - c0 * 1.0 / n0) * 1000000.0) / 1000000.0
                   + 0.0 AS uplift,
               ROUND(((c1 * 1.0 / n1 - c0 * 1.0 / n0)
                      / sqrt(((c0 + c1) * 1.0 / (n0 + n1))
                             * (1.0 - (c0 + c1) * 1.0 / (n0 + n1))
                             * (1.0 / n0 + 1.0 / n1))) * 1000000.0)
                   / 1000000.0 + 0.0 AS z_stat
        FROM wide
    """,
    tags=("stats", "ab-test", "experimentation", "events"),
)
def events_ab_uplift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    arm = md5_int("user_id", "ab:") % 2
    assign = events.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150.0), 1
            ).otherwise(0)
        ).alias("converted")
    ).select(arm.alias("arm"), "converted")
    arms = assign.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    a0 = arms.filter(F.col("arm") == 0).select(
        F.col("n_users").alias("n0"), F.col("n_converted").alias("c0")
    )
    a1 = arms.filter(F.col("arm") == 1).select(
        F.col("n_users").alias("n1"), F.col("n_converted").alias("c1")
    )
    p0 = F.col("c0") * F.lit(1.0) / F.col("n0")
    p1 = F.col("c1") * F.lit(1.0) / F.col("n1")
    pp = (F.col("c0") + F.col("c1")) * F.lit(1.0) / (F.col("n0") + F.col("n1"))
    z = (p1 - p0) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    return a0.crossJoin(F.broadcast(a1)).select(
        F.col("n0").alias("n_control"),
        F.col("c0").alias("conv_control"),
        F.col("n1").alias("n_treatment"),
        F.col("c1").alias("conv_treatment"),
        pround(p1 - p0, 6).alias("uplift"),
        pround(z, 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# CHI-SQUARE INDEPENDENCE TEST — is order priority independent of order
# status? The contingency table is exact integers; expected counts and
# the χ² sum fold in pinned (priority, status) order over the
# collected bounded cell list (5 priorities × 3 statuses), so the statistic is
# one fixed IEEE dag. Output: per-cell observed/expected plus the
# statistic and degrees of freedom on every row.
# Scale: one fact scan → 21-cell partial-agg contingency table;
# everything after is metadata arithmetic.
# ---------------------------------------------------------------------------
@register(
    "orders_priority_status_chi2",
    oracle="""
        WITH cells AS (
            SELECT o_orderpriority AS priority, o_orderstatus AS status,
                   CAST(COUNT(*) AS BIGINT) AS observed
            FROM orders GROUP BY 1, 2
        ),
        margins AS (
            SELECT c.priority, c.status, c.observed,
                   rm.rt AS row_total, cm.ct AS col_total, t.n AS grand_total
            FROM cells c
            JOIN (SELECT priority, CAST(SUM(observed) AS BIGINT) AS rt
                  FROM cells GROUP BY 1) rm USING (priority)
            JOIN (SELECT status, CAST(SUM(observed) AS BIGINT) AS ct
                  FROM cells GROUP BY 1) cm USING (status)
            CROSS JOIN (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM cells) t
        ),
        scored AS (
            SELECT priority, status, observed,
                   row_total * col_total * 1.0 / grand_total AS expected
            FROM margins
        ),
        stat AS (
            SELECT list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list((observed - expected) * (observed - expected)
                                / expected
                                ORDER BY priority, status)),
                       (a, x) -> a + x) AS chi2,
                   CAST((COUNT(DISTINCT priority) - 1)
                        * (COUNT(DISTINCT status) - 1) AS BIGINT) AS dof
            FROM scored
        )
        SELECT s.priority, s.status, s.observed,
               ROUND((s.expected) * 1000000.0) / 1000000.0 + 0.0 AS expected,
               ROUND((st.chi2) * 1000000.0) / 1000000.0 + 0.0 AS chi2_stat,
               st.dof
        FROM scored s CROSS JOIN stat st
    """,
    tags=("stats", "chi-square", "lineitem"),
)
def orders_priority_status_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).cast("long").alias("observed"))
    rm = cells.groupBy("priority").agg(
        F.sum("observed").cast("long").alias("row_total")
    )
    cm = cells.groupBy("status").agg(
        F.sum("observed").cast("long").alias("col_total")
    )
    t = cells.agg(F.sum("observed").cast("long").alias("grand_total"))
    scored = (
        cells.join(F.broadcast(rm), "priority")
        .join(F.broadcast(cm), "status")
        .crossJoin(F.broadcast(t))
        .select(
            "priority",
            "status",
            "observed",
            (
                F.col("row_total") * F.col("col_total") * F.lit(1.0)
                / F.col("grand_total")
            ).alias("expected"),
        )
        .localCheckpoint(eager=False)  # stat fold + output both read this
    )
    term = F.transform(
        F.array_sort(
            F.collect_list(F.struct("priority", "status", "observed", "expected"))
        ),
        lambda s: (s["observed"] - s["expected"])
        * (s["observed"] - s["expected"])
        / s["expected"],
    )
    stat = scored.agg(
        F.aggregate(term, F.lit(0.0), lambda a, x: a + x).alias("chi2"),
        (
            (F.countDistinct("priority") - 1)
            * (F.countDistinct("status") - 1)
        ).cast("long").alias("dof"),
    )
    return scored.crossJoin(F.broadcast(stat)).select(
        "priority",
        "status",
        "observed",
        pround("expected", 6).alias("expected"),
        pround("chi2", 6).alias("chi2_stat"),
        "dof",
    )


# ---------------------------------------------------------------------------
# KOLMOGOROV-SMIRNOV TWO-SAMPLE TEST — does the BUILDING segment's
# account-balance distribution differ from everyone else's? D is the
# max ECDF gap over the pooled order; its numerator |c1·n2 − c2·n1| is
# EXACT integer arithmetic at every position (the division happens once,
# at the end), so the statistic hash-matches. ECDFs are evaluated at
# every pooled (value, custkey) position — the tie convention both
# engines share by construction.
#
# Scale: the one global-order pass is a distributed prefix sum
# (_distributed.py — range exchange, local running sums, broadcast
# offsets). Both running counts come from a SINGLE pass: the summand
# encodes (is_building + 2³¹) so the running value carries c1 in the
# low 31 bits and the row index above them — one range exchange, not
# two (valid while each count < 2³¹; lift the shift for larger corpora).
# ---------------------------------------------------------------------------
@register(
    "customer_balance_ks_test",
    oracle="""
        WITH pooled AS (
            SELECT c_acctbal AS v,
                   CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS ia,
                   c_custkey AS id
            FROM customer
        ),
        c AS (
            SELECT CAST(SUM(ia) OVER (ORDER BY v, id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
                   CAST(ROW_NUMBER() OVER (ORDER BY v, id) AS BIGINT) AS idx
            FROM pooled
        ),
        n AS (
            SELECT CAST(SUM(ia) AS BIGINT) AS n1,
                   CAST(COUNT(*) - SUM(ia) AS BIGINT) AS n2
            FROM pooled
        ),
        d AS (
            SELECT MAX(ABS(c1 * n.n2 - (idx - c1) * n.n1)) AS d_num
            FROM c, n GROUP BY n.n1, n.n2
        )
        SELECT n.n1 AS n_building, n.n2 AS n_other, d.d_num AS d_numerator,
               ROUND((d.d_num * 1.0 / (n.n1 * n.n2)) * 1000000.0) / 1000000.0
                   + 0.0 AS ks_d,
               (d.d_num * 1.0 / (n.n1 * n.n2))
                   > 1.358 * sqrt((n.n1 + n.n2) * 1.0 / (n.n1 * n.n2))
                   AS significant_05
        FROM d, n
    """,
    tags=("stats", "ks-test", "distribution", "customer"),
)
def customer_balance_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_prefix_sum,
    )

    cust = load_table(spark, sf_dir, "customer")
    pooled = cust.select(
        F.col("c_acctbal").alias("v"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .cast("long")
        .alias("ia"),
        F.col("c_custkey").alias("id"),
    )
    enc = pooled.withColumn("encv", F.col("ia") + F.lit(1 << 31).cast("long"))
    running = distributed_prefix_sum(
        enc, [F.col("v"), F.col("id")], "encv", out_col="enc"
    )
    counts = running.select(
        F.expr("enc & 2147483647").alias("c1"),
        F.expr("shiftright(enc, 31)").alias("idx"),
    )
    n = pooled.agg(
        F.sum("ia").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("ia")).cast("long").alias("n2"),
    )
    d = (
        counts.crossJoin(F.broadcast(n))
        .agg(
            F.max(
                F.abs(
                    F.col("c1") * F.col("n2")
                    - (F.col("idx") - F.col("c1")) * F.col("n1")
                )
            ).alias("d_num")
        )
    )
    ks = F.col("d_num") * F.lit(1.0) / (F.col("n1") * F.col("n2"))
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n1") + F.col("n2")) * F.lit(1.0) / (F.col("n1") * F.col("n2"))
    )
    return d.crossJoin(F.broadcast(n)).select(
        F.col("n1").alias("n_building"),
        F.col("n2").alias("n_other"),
        F.col("d_num").alias("d_numerator"),
        pround(ks, 6).alias("ks_d"),
        (ks > crit).alias("significant_05"),
    )


# ---------------------------------------------------------------------------
# KAPLAN-MEIER SURVIVAL — time-to-repurchase with right censoring: each
# consecutive-order gap is an observed EVENT, each customer's tail gap
# (last order → end of data) is CENSORED. Classic estimator
# S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ), with nᵢ the at-risk count.
#
# Determinism: the day-granular duration table is bounded (wall-clock
# days, not data volume), so the whole curve is computed as in-array
# algebra over ONE collected, sorted (t, n, d) list — prefix at-risk
# counts and the running survival product fold in pinned t order, the
# same fixed-IEEE-dag discipline as the z-norm/Theil-Sen queries. The
# O(T²) index-lambda folds are over ≤ thousands of day buckets.
# Scale: the data-sized stages are the per-customer lag window (one
# customer-keyed shuffle) and the day groupBy (map-side partial).
# ---------------------------------------------------------------------------
@register(
    "orders_survival_km",
    oracle="""
        WITH mx AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS md FROM orders
        ),
        gaps AS (
            SELECT CASE WHEN nxt IS NULL
                        THEN date_diff('day', d, (SELECT md FROM mx))
                        ELSE date_diff('day', d, nxt) END AS t,
                   CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS is_event
            FROM (
                SELECT CAST(o_orderdate AS DATE) AS d,
                       LEAD(CAST(o_orderdate AS DATE)) OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS nxt
                FROM orders
            )
        ),
        g AS (
            SELECT CAST(t AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS n_all,
                   CAST(SUM(is_event) AS BIGINT) AS d
            FROM gaps GROUP BY 1
        ),
        arr AS (
            SELECT list({'t': t, 'n_all': n_all, 'd': d} ORDER BY t) AS xs,
                   CAST(SUM(n_all) AS BIGINT) AS tot
            FROM g
        ),
        curve AS (
            SELECT xs, tot,
                   list_transform(xs, (x, i) ->
                       tot - list_reduce(
                           list_prepend(CAST(0 AS BIGINT),
                               list_transform(xs[1:i - 1], y -> y.n_all)),
                           (a, b) -> a + b)) AS ns
            FROM arr
        ),
        facts AS (
            SELECT xs, ns,
                   list_transform(xs, (x, i) ->
                       CASE WHEN x.d > 0
                            THEN 1.0 - x.d * 1.0 / ns[i]
                            ELSE CAST(1 AS DOUBLE) END) AS factors
            FROM curve
        ),
        rows_ AS (
            SELECT p.i AS i, p.x AS x, ns[p.i] AS n_risk,
                   list_reduce(
                       list_prepend(CAST(1 AS DOUBLE), factors[1:p.i]),
                       (a, b) -> a * b) AS surv
            FROM (SELECT xs, ns, factors,
                         unnest(list_transform(xs, (x, i) -> {'x': x, 'i': i}))
                             AS p
                  FROM facts)
        )
        SELECT x.t AS t_days, n_risk, x.d AS n_events,
               ROUND((surv) * 1000000.0) / 1000000.0 + 0.0 AS survival
        FROM rows_
        WHERE x.d > 0
    """,
    tags=("stats", "survival", "kaplan-meier", "orders"),
)
def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("md")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    staged = orders.select(
        F.col("o_orderdate").cast("date").alias("d"),
        F.lead(F.col("o_orderdate").cast("date")).over(w).alias("nxt"),
    ).crossJoin(F.broadcast(mx))
    gaps = staged.select(
        F.when(
            F.col("nxt").isNull(), F.expr("datediff(md, d)")
        ).otherwise(F.expr("datediff(nxt, d)")).cast("long").alias("t"),
        F.when(F.col("nxt").isNull(), 0).otherwise(1).alias("is_event"),
    )
    g = gaps.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("is_event").cast("long").alias("d"),
    )
    arr = g.agg(
        F.array_sort(F.collect_list(F.struct("t", "n_all", "d"))).alias("xs"),
        F.sum("n_all").cast("long").alias("tot"),
    )
    xs = F.col("xs")
    ns = F.transform(
        xs,
        lambda x, i0: F.col("tot")
        - F.aggregate(
            F.slice(xs, F.lit(1), i0),
            F.lit(0).cast("long"),
            lambda a, y: a + y["n_all"],
        ),
    )
    curve = arr.select(xs.alias("xs"), "tot", ns.alias("ns"))
    factors = F.transform(
        F.arrays_zip(F.col("xs"), F.col("ns")),
        lambda z: F.when(
            z["xs"]["d"] > 0,
            F.lit(1.0) - z["xs"]["d"] * F.lit(1.0) / z["ns"],
        ).otherwise(F.lit(1.0).cast("double")),
    )
    facts = curve.select("xs", "ns", factors.alias("factors"))
    surv = F.transform(
        F.col("factors"),
        lambda x, i0: F.aggregate(
            F.slice(F.col("factors"), F.lit(1), i0 + 1),
            F.lit(1.0).cast("double"),
            lambda a, b: a * b,
        ),
    )
    rows = facts.select(
        F.posexplode(
            F.arrays_zip(F.col("xs"), F.col("ns"), surv.alias("surv"))
        ).alias("p0", "z")
    )
    return rows.filter(F.col("z.xs.d") > 0).select(
        F.col("z.xs.t").alias("t_days"),
        F.col("z.ns").alias("n_risk"),
        F.col("z.xs.d").alias("n_events"),
        pround(F.col("z.surv"), 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# CONFORMAL PREDICTION INTERVALS for the hourly forecast — split
# conformal over one-step-ahead EWMA residuals: the first 2/3 of each
# type's hour-ordered series calibrates q̂ = the ⌈(n+1)·0.9⌉-th smallest
# |residual| (the EXPLICIT finite-sample index — no engine quantile
# interpolation), the rest is the test window whose empirical coverage
# the report audits against the 90% target. Residual i uses the EWMA of
# hours 1..i−1 (slice fold, same α=1/4 recurrence as
# events_ewma_forecast), so every number is one fixed IEEE dag over the
# bounded per-type series — O(hours²) in-array work, wall-clock-bounded.
# ---------------------------------------------------------------------------
CONF_ALPHA_NUM = 9  # target coverage 9/10
CONF_CAL_FRAC_NUM, CONF_CAL_FRAC_DEN = 2, 3


@register(
    "forecast_conformal_intervals",
    oracle=f"""
        WITH series AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        arr AS (
            SELECT event_type,
                   list(CAST(c AS DOUBLE) ORDER BY h) AS xs,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM series GROUP BY event_type
            HAVING COUNT(*) >= 6
        ),
        res AS (
            SELECT event_type, n,
                   (n * {CONF_CAL_FRAC_NUM}) // {CONF_CAL_FRAC_DEN} AS n_cal,
                   list_transform(xs, (x, i) -> CASE WHEN i >= 2 THEN
                       abs(x - list_reduce(
                           list_prepend(xs[1], xs[2:i - 1]),
                           (s, v) -> 0.25 * v + 0.75 * s))
                       ELSE CAST(0 AS DOUBLE) END) AS r
            FROM arr
        ),
        qhat AS (
            SELECT event_type, n, n_cal,
                   list_sort(r[2:CAST(n_cal AS INT)])
                       [CAST(least((n_cal - 1 + 1) * {CONF_ALPHA_NUM} // 10 + 1,
                                   n_cal - 1) AS INT)] AS q
            FROM res
        ),
        cov AS (
            SELECT q.event_type, q.n, q.n_cal, q.q,
                   CAST(list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(
                               r.r[CAST(q.n_cal + 1 AS INT):CAST(q.n AS INT)],
                               x -> CASE WHEN x <= q.q THEN CAST(1 AS BIGINT)
                                         ELSE CAST(0 AS BIGINT) END)),
                       (a, b) -> a + b) AS BIGINT) AS n_covered
            FROM qhat q JOIN res r USING (event_type)
        )
        SELECT event_type,
               CAST(n_cal - 1 AS BIGINT) AS n_calibration,
               CAST(n - n_cal AS BIGINT) AS n_test,
               ROUND((q) * 1000000.0) / 1000000.0 + 0.0 AS qhat,
               n_covered,
               (n_covered * 10000) // (n - n_cal) AS coverage_bp
        FROM cov
    """,
    tags=("timeseries", "conformal", "forecast", "events"),
)
def forecast_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    arr = (
        series.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("h", "c"))),
                lambda s: s["c"].cast("double"),
            ).alias("xs"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .filter(F.col("n") >= 6)
    )
    xs = F.col("xs")
    # residual i (1-based): |x_i − EWMA(x_1..x_{i−1})|; index lambda i0 is
    # 0-based → position i = i0 + 1
    r = F.transform(
        xs,
        lambda x, i0: F.when(
            i0 + 1 >= 2,
            F.abs(
                x
                - F.aggregate(
                    F.slice(xs, F.lit(2), i0 - 1),
                    F.element_at(xs, 1),
                    lambda s, v: F.lit(0.25) * v + F.lit(0.75) * s,
                )
            ),
        ).otherwise(F.lit(0.0).cast("double")),
    )
    n_cal = idiv(F.col("n") * CONF_CAL_FRAC_NUM, F.lit(CONF_CAL_FRAC_DEN))
    res = arr.select("event_type", "n", n_cal.alias("n_cal"), r.alias("r"))
    q = F.element_at(
        F.array_sort(F.expr("slice(r, 2, int(n_cal) - 1)")),
        F.least(
            (idiv((F.col("n_cal") - 1 + 1) * CONF_ALPHA_NUM, F.lit(10)) + 1),
            F.col("n_cal") - 1,
        ).cast("int"),
    )
    qhat = res.select("event_type", "n", "n_cal", "r", q.alias("q"))
    test = F.expr("slice(r, int(n_cal) + 1, int(n) - int(n_cal))")
    n_cov = F.aggregate(
        F.transform(
            test,
            lambda x: F.when(x <= F.col("q"), F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    return qhat.select(
        "event_type",
        (F.col("n_cal") - 1).cast("long").alias("n_calibration"),
        (F.col("n") - F.col("n_cal")).cast("long").alias("n_test"),
        pround(F.col("q"), 6).alias("qhat"),
        n_cov.alias("n_covered"),
        idiv(n_cov * 10000, F.col("n") - F.col("n_cal")).alias("coverage_bp"),
    )


# ---------------------------------------------------------------------------
# SQL UDF SHOWCASE (Spark 4 `CREATE FUNCTION … RETURN`) — scalar SQL
# functions, including one calling another, used inside an aggregate.
# SQL UDFs are INLINED by the analyzer (they stay inside whole-stage
# codegen — unlike Python UDFs there is no serialization boundary), so
# the oracle is simply the expanded expression. Arithmetic is integer
# cents end-to-end: sums stay order-independent and hash-exact.
# ---------------------------------------------------------------------------
@register(
    "sql_udf_showcase",
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)
                        - CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)
                          * CAST(ROUND(l_discount * 100.0) AS BIGINT) // 100)
                    AS BIGINT) AS disc_cents,
               CAST(SUM((CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)
                         - CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)
                           * CAST(ROUND(l_discount * 100.0) AS BIGINT) // 100)
                        + (CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)
                           - CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)
                             * CAST(ROUND(l_discount * 100.0) AS BIGINT) // 100)
                          * CAST(ROUND(l_tax * 100.0) AS BIGINT) // 100)
                    AS BIGINT) AS charged_cents
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("sql-surface", "sql-udf", "lineitem"),
)
def sql_udf_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.tables import register_views

    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION ksj_disc_cents(
            price DOUBLE, disc DOUBLE) RETURNS BIGINT
        RETURN CAST(ROUND(price * 100.0) AS BIGINT)
               - CAST(ROUND(price * 100.0) AS BIGINT)
                 * CAST(ROUND(disc * 100.0) AS BIGINT) DIV 100
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION ksj_charged_cents(
            price DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS BIGINT
        RETURN ksj_disc_cents(price, disc)
               + ksj_disc_cents(price, disc)
                 * CAST(ROUND(tax * 100.0) AS BIGINT) DIV 100
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(ksj_disc_cents(l_extendedprice, l_discount))
                    AS BIGINT) AS disc_cents,
               CAST(SUM(ksj_charged_cents(l_extendedprice, l_discount, l_tax))
                    AS BIGINT) AS charged_cents
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# SQL SCRIPTING SHOWCASE (Spark 4 `BEGIN … END` procedural blocks) —
# integer bisection DRIVEN BY DATA QUERIES inside a WHILE loop: find the
# smallest whole-dollar price bound T such that at least half of
# lineitem falls at or under it (the scripted twin of a median probe).
# Each loop iteration runs a real COUNT against the table and steers on
# the result — the control-flow surface a migration from stored
# procedures needs. The oracle replays the same 20-step bisection as a
# bounded recursive CTE with the identical integer arithmetic.
# ---------------------------------------------------------------------------
BISECT_HI = 1 << 20  # upper bound > any l_extendedprice (max ~104k)


def _bisect_oracle() -> str:
    return f"""
        WITH RECURSIVE bis(i, lo, hi) AS (
            SELECT 0, CAST(0 AS BIGINT), CAST({BISECT_HI} AS BIGINT)
            UNION ALL
            SELECT i + 1,
                   CASE WHEN (SELECT COUNT(*) FROM lineitem
                              WHERE l_extendedprice <= (lo + hi) // 2)
                             >= (SELECT COUNT(*) FROM lineitem) // 2
                        THEN lo ELSE (lo + hi) // 2 + 1 END,
                   CASE WHEN (SELECT COUNT(*) FROM lineitem
                              WHERE l_extendedprice <= (lo + hi) // 2)
                             >= (SELECT COUNT(*) FROM lineitem) // 2
                        THEN (lo + hi) // 2 ELSE hi END
            FROM bis WHERE lo < hi
        )
        SELECT lo AS threshold,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
                WHERE l_extendedprice <= lo) AS n_at_or_below,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) // 2 AS target
        FROM bis WHERE lo = hi
    """


@register(
    "sql_scripting_showcase",
    oracle=_bisect_oracle(),
    tags=("sql-surface", "sql-scripting", "procedural", "lineitem"),
)
def sql_scripting_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        BEGIN
          DECLARE lo BIGINT DEFAULT 0;
          DECLARE hi BIGINT DEFAULT {BISECT_HI};
          DECLARE mid BIGINT;
          DECLARE target BIGINT;
          SET target = (SELECT COUNT(*) FROM lineitem) DIV 2;
          WHILE lo < hi DO
            SET mid = (lo + hi) DIV 2;
            IF (SELECT COUNT(*) FROM lineitem
                WHERE l_extendedprice <= mid) >= target THEN
              SET hi = mid;
            ELSE
              SET lo = mid + 1;
            END IF;
          END WHILE;
          SELECT lo AS threshold,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
                  WHERE l_extendedprice <= lo) AS n_at_or_below,
                 target AS target;
        END
        """
    )


# ---------------------------------------------------------------------------
# GRAPH MODULARITY of the brand partition — how much more intra-brand
# co-purchasing happens than a degree-preserving random graph predicts:
# Q = Σ_c (m_cc/m − (d_c/m)²) over the DIRECTED edge set (both m_cc and
# degree sums are exact integers; the two divisions and the fold over
# brands happen in pinned brand order — one fixed IEEE dag). Q ≈ 0 says
# brands don't structure the basket graph; Q > 0 says they do. The
# per-community terms ride along for drill-down.
# Scale: same one-fact-scan in-array edge expansion as pagerank; the
# brand join keys on partkey (dimension-sized, broadcast); everything
# after is a |brands|-row aggregate.
# ---------------------------------------------------------------------------
@register(
    "graph_modularity_by_brand",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        edges AS (
            SELECT a.l_partkey AS src, b.l_partkey AS dst
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey <> b.l_partkey
            GROUP BY 1, 2
        ),
        lab AS (
            SELECT e.src, e.dst, ps.p_brand AS bs, pd.p_brand AS bd
            FROM edges e
            JOIN part ps ON ps.p_partkey = e.src
            JOIN part pd ON pd.p_partkey = e.dst
        ),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM lab),
        per AS (
            SELECT bs AS brand,
                   CAST(SUM(CASE WHEN bs = bd THEN 1 ELSE 0 END) AS BIGINT)
                       AS m_intra,
                   CAST(COUNT(*) AS BIGINT) AS d_out
            FROM lab GROUP BY bs
        ),
        terms AS (
            SELECT p.brand, p.m_intra, p.d_out,
                   p.m_intra * 1.0 / m.m
                       - (p.d_out * 1.0 / m.m) * (p.d_out * 1.0 / m.m)
                       AS term
            FROM per p, m
        ),
        q AS (
            SELECT list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list(term ORDER BY brand)),
                       (a, x) -> a + x) AS q
            FROM terms
        )
        SELECT t.brand, t.m_intra, t.d_out,
               ROUND((t.term) * 1000000.0) / 1000000.0 + 0.0 AS brand_term,
               ROUND((q.q) * 1000000.0) / 1000000.0 + 0.0 AS modularity
        FROM terms t CROSS JOIN q
    """,
    tags=("graph", "modularity", "community", "lineitem"),
)
def graph_modularity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    directed = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x: F.transform(
                F.filter(F.col("parts"), lambda y: y != x),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(directed).alias("e"))
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lab = (
        edges.join(
            part.select(F.col("p_partkey").alias("src"), F.col("p_brand").alias("bs")),
            "src",
        )
        .join(
            part.select(F.col("p_partkey").alias("dst"), F.col("p_brand").alias("bd")),
            "dst",
        )
    )
    m = lab.agg(F.count(F.lit(1)).cast("long").alias("m"))
    per = lab.groupBy(F.col("bs").alias("brand")).agg(
        F.sum(F.when(F.col("bs") == F.col("bd"), 1).otherwise(0))
        .cast("long")
        .alias("m_intra"),
        F.count(F.lit(1)).cast("long").alias("d_out"),
    )
    term = (
        F.col("m_intra") * F.lit(1.0) / F.col("m")
        - (F.col("d_out") * F.lit(1.0) / F.col("m"))
        * (F.col("d_out") * F.lit(1.0) / F.col("m"))
    )
    terms = per.crossJoin(F.broadcast(m)).select(
        "brand", "m_intra", "d_out", term.alias("term")
    ).localCheckpoint(eager=False)  # the Q fold and the output both read it
    q = terms.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("brand", "term"))),
                lambda s: s["term"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("q")
    )
    return terms.crossJoin(F.broadcast(q)).select(
        "brand",
        "m_intra",
        "d_out",
        pround("term", 6).alias("brand_term"),
        pround("q", 6).alias("modularity"),
    )


# ---------------------------------------------------------------------------
# WATERMARK SIZING REPORT — how late do events actually arrive, and what
# would each candidate watermark delay drop? Treating event_id as the
# arrival order (the replay order the streaming queries use), an event's
# lateness is the event-time frontier at its arrival (running MAX of ts
# over arrival order — exactly the watermark frontier) minus its own
# event time. The report buckets lateness and gives the drop rate (bp)
# at candidate delays — the data-driven answer to "what
# withWatermark('…') should this pipeline use".
# Scale: the frontier is the new distributed prefix-MAX primitive
# (_distributed.py) — range exchange on arrival order, local running
# max, broadcast per-partition maxima; no single-partition window.
# ---------------------------------------------------------------------------
WM_DELAYS_S = (0, 3600, 21600)  # candidate watermark delays: 0, 1h, 6h


@register(
    "watermark_sizing_report",
    oracle=f"""
        WITH arr AS (
            SELECT event_id,
                   epoch_us(ts) AS tus,
                   MAX(epoch_us(ts)) OVER (ORDER BY event_id
                                           ROWS UNBOUNDED PRECEDING)
                       AS frontier
            FROM events
        ),
        late AS (
            SELECT (frontier - tus) // 1000000 AS late_s FROM arr
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN late_s = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_on_frontier,
               CAST(MAX(late_s) AS BIGINT) AS max_late_s,
               {", ".join(
                   f'''(CAST(SUM(CASE WHEN late_s > {d} THEN 1 ELSE 0 END)
                        AS BIGINT) * 10000) // COUNT(*)
                       AS drop_bp_delay_{d}s''' for d in WM_DELAYS_S)}
        FROM late
    """,
    tags=("streaming-ops", "watermark", "lateness", "events"),
)
def watermark_sizing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_prefix_max,
    )

    events = load_table(spark, sf_dir, "events")
    arr = events.select(
        "event_id", F.expr("unix_micros(cast(ts as timestamp))").alias("tus")
    )
    fr = distributed_prefix_max(
        arr, [F.col("event_id")], "tus", out_col="frontier"
    )
    late = fr.select(
        idiv(F.col("frontier") - F.col("tus"), F.lit(1_000_000)).alias("late_s")
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("late_s") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_on_frontier"),
        F.max("late_s").cast("long").alias("max_late_s"),
    ]
    drop_cols = [
        idiv(
            F.sum(F.when(F.col("late_s") > d, 1).otherwise(0)).cast("long")
            * 10000,
            F.count(F.lit(1)),
        ).alias(f"drop_bp_delay_{d}s")
        for d in WM_DELAYS_S
    ]
    return late.agg(*aggs, *drop_cols)


# ---------------------------------------------------------------------------
# JOIN SKEW PLANNER — the pre-flight a 100 TB shuffle join wants: for
# each candidate join key, the per-key count profile (hottest key and
# its share), the skew factor max/avg, and the salt fan-out that would
# level it (ceil(max/avg) — the number a salted-join rewrite like
# salted_join_supplier_volume plugs in). All exact integer arithmetic
# (idiv with ceiling via +den−1); the per-key profiles are map-side
# partial groupBys, so the planner itself never moves more than key
# cardinality across the network.
# ---------------------------------------------------------------------------
def _skew_oracle_one(name: str, table: str, key: str) -> str:
    return f"""
        SELECT '{name}' AS join_key,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {table}) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(c) AS BIGINT) AS max_key_rows,
               (SELECT MIN(k) FROM
                   (SELECT {key} AS k, COUNT(*) AS c2 FROM {table} GROUP BY 1)
                WHERE c2 = (SELECT MAX(c3) FROM
                   (SELECT COUNT(*) AS c3 FROM {table} GROUP BY {key})))
                   AS hottest_key,
               (CAST(MAX(c) AS BIGINT) * 10000)
                   // (SELECT COUNT(*) FROM {table}) AS hot_share_bp,
               (CAST(MAX(c) AS BIGINT) * CAST(COUNT(*) AS BIGINT)
                + (SELECT COUNT(*) FROM {table}) - 1)
                   // (SELECT COUNT(*) FROM {table}) AS recommended_salt
        FROM (SELECT {key}, COUNT(*) AS c FROM {table} GROUP BY 1)
    """


@register(
    "join_skew_planner",
    oracle=" UNION ALL ".join(
        _skew_oracle_one(n, t, k)
        for n, t, k in (
            ("orders.o_custkey", "orders", "o_custkey"),
            ("lineitem.l_partkey", "lineitem", "l_partkey"),
            ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        )
    ),
    tags=("stats", "skew", "planner", "optimizer"),
)
def join_skew_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    def one(name: str, df: DataFrame, key: str) -> DataFrame:
        cnt = df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        prof = cnt.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_key_rows"),
        )
        nr = df.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        hot = (
            cnt.crossJoin(F.broadcast(prof.select(F.col("max_key_rows").alias("mx"))))
            .filter(F.col("c") == F.col("mx"))
            .agg(F.min("k").alias("hottest_key"))
        )
        return (
            nr.crossJoin(F.broadcast(prof))
            .crossJoin(F.broadcast(hot))
            .select(
                F.lit(name).alias("join_key"),
                "n_rows",
                "n_keys",
                "max_key_rows",
                "hottest_key",
                idiv(F.col("max_key_rows") * 10000, F.col("n_rows")).alias(
                    "hot_share_bp"
                ),
                idiv(
                    F.col("max_key_rows") * F.col("n_keys")
                    + F.col("n_rows")
                    - 1,
                    F.col("n_rows"),
                ).alias("recommended_salt"),
            )
        )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        one("orders.o_custkey", orders, "o_custkey")
        .unionByName(one("lineitem.l_partkey", li, "l_partkey"))
        .unionByName(one("lineitem.l_suppkey", li, "l_suppkey"))
    )


# ---------------------------------------------------------------------------
# AS-OF TRAINING FEATURE MATRIX — the feature-store correctness
# contract: for every purchase (the training label row), assemble the
# user's features AS OF strictly BEFORE that event (prior view/click
# counts, prior purchase count and spend) so no label information leaks
# into its own features. One pass of per-user cumulative windows with a
# rows-frame ending at -1 — the preceding-only frame IS the
# leakage guarantee, and the (ts, event_id) total order makes it exact
# under same-timestamp ties.
# Spend is accumulated in integer cents (micro-batch-order-free, exact).
# Scale: all four features share one user-keyed shuffle; the label
# filter happens after the windows (a purchase's features need the
# full event stream, not the purchase subset).
# ---------------------------------------------------------------------------
@register(
    "feature_asof_training_matrix",
    oracle="""
        WITH feats AS (
            SELECT event_id, user_id, event_type,
                   CAST(COALESCE(SUM(CASE WHEN event_type = 'view'
                                          THEN 1 ELSE 0 END) OVER w, 0)
                        AS BIGINT) AS prior_views,
                   CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
                                          THEN 1 ELSE 0 END) OVER w, 0)
                        AS BIGINT) AS prior_clicks,
                   CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                          THEN 1 ELSE 0 END) OVER w, 0)
                        AS BIGINT) AS prior_purchases,
                   CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                          THEN CAST(ROUND(value * 100.0)
                                                    AS BIGINT)
                                          ELSE 0 END) OVER w, 0)
                        AS BIGINT) AS prior_spend_cents
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id AS label_event_id, user_id,
               prior_views, prior_clicks, prior_purchases, prior_spend_cents
        FROM feats
        WHERE event_type = 'purchase'
    """,
    tags=("llm-pipeline", "feature-store", "asof", "leakage", "events"),
)
def feature_asof_training_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    def prior(cond, val):
        return F.coalesce(
            F.sum(F.when(cond, val).otherwise(0)).over(w), F.lit(0)
        ).cast("long")

    feats = events.select(
        "event_id",
        "user_id",
        "event_type",
        prior(F.col("event_type") == "view", F.lit(1)).alias("prior_views"),
        prior(F.col("event_type") == "click", F.lit(1)).alias("prior_clicks"),
        prior(F.col("event_type") == "purchase", F.lit(1)).alias(
            "prior_purchases"
        ),
        prior(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100.0, 0).cast("long"),
        ).alias("prior_spend_cents"),
    )
    return feats.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_event_id"),
        "user_id",
        "prior_views",
        "prior_clicks",
        "prior_purchases",
        "prior_spend_cents",
    )


# ---------------------------------------------------------------------------
# GINI COEFFICIENT of customer spend — revenue-concentration inequality
# via the closed form G = (2·Σ rᵢxᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over spend
# sorted ascending (rᵢ the 1-based rank). Spend is exact integer cents
# and the rank comes from the DISTRIBUTED rank primitive, so the
# numerator/denominator are exact 64-bit integers (≈6·10¹⁷ worst case
# at sf0.1 — headroom to 2⁶³) and only the final division is floating
# point. Complements abc_customer_classification's cumulative-share cut
# with the single-number inequality summary.
# ---------------------------------------------------------------------------
@register(
    "customer_spend_gini",
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT cents,
                   CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey)
                        AS BIGINT) AS r
            FROM spend
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS sx,
                   CAST(SUM(r * cents) AS BIGINT) AS srx
            FROM ranked
        )
        SELECT n AS n_customers, sx AS total_cents,
               ROUND(((2.0 * srx - (n + 1.0) * sx) / (n * 1.0 * sx))
                     * 1000000.0) / 1000000.0 + 0.0 AS gini
        FROM agg
    """,
    tags=("stats", "gini", "inequality", "orders"),
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import distributed_rank

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    ranked = distributed_rank(
        spend, [F.col("cents"), F.col("o_custkey")], rank_col="r"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sx"),
        F.sum(F.col("r") * F.col("cents")).cast("long").alias("srx"),
    )
    gini = (
        F.lit(2.0) * F.col("srx") - (F.col("n") + F.lit(1.0)) * F.col("sx")
    ) / (F.col("n") * F.lit(1.0) * F.col("sx"))
    return agg.select(
        F.col("n").alias("n_customers"),
        F.col("sx").alias("total_cents"),
        pround(gini, 6).alias("gini"),
    )


# ---------------------------------------------------------------------------
# MAP HIGHER-ORDER FUNCTIONS — the map-typed column surface
# (map_from_entries → transform_values → map_filter → aggregate over
# map_values), exercised end-to-end on a per-user event-type count map.
# The oracle checks the RESULTING scalars relationally (DuckDB's MAP
# surface differs), so any drift in the map pipeline's semantics still
# breaks the hash.
# ---------------------------------------------------------------------------
MAPX_MIN = 10  # map_filter keeps types with >= 10 events


@register(
    "map_functions_showcase",
    oracle=f"""
        WITH pc AS (
            SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CASE WHEN c >= {MAPX_MIN} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_frequent_types,
               CAST(SUM(c * 2) AS BIGINT) AS doubled_total
        FROM pc GROUP BY user_id
    """,
    tags=("map-functions", "hof", "events"),
)
def map_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    mapped = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "c")))
        ).alias("m")
    )
    doubled = F.transform_values("m", lambda k, v: v * 2)
    frequent = F.map_filter("m", lambda k, v: v >= MAPX_MIN)
    return mapped.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        F.size(frequent).cast("long").alias("n_frequent_types"),
        F.aggregate(
            F.map_values(doubled), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("doubled_total"),
    )


# ---------------------------------------------------------------------------
# CHANGEPOINT BY BINARY SEGMENTATION — the single best split of each
# type's hourly series: the t minimizing two-segment SSE, equivalently
# maximizing the between-segment contrast n₁n₂/n·(μ₁−μ₂)². With integer
# prefix sums S(t) the gain at t is (n·S(t) − t·S)² / (t·(n−t)·n) —
# numerator exact integer algebra (≲(nΣ)²; hourly totals keep it inside
# 2⁶³ for wall-clock-bounded series), ONE double division per
# candidate, argmax with earliest-t tiebreak. Complements
# events_cusum_drift (drift excursions) with the point estimate.
# ---------------------------------------------------------------------------
@register(
    "events_changepoint_binseg",
    oracle="""
        WITH series AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        arr AS (
            SELECT event_type,
                   list(c ORDER BY h) AS xs,
                   list(CAST(h AS VARCHAR) ORDER BY h) AS hs,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c) AS BIGINT) AS s
            FROM series GROUP BY event_type
            HAVING COUNT(*) >= 4
        ),
        gains AS (
            SELECT event_type, hs, n,
                   list_transform(xs, (x, t) ->
                       CASE WHEN t < n THEN
                           (n * list_reduce(list_prepend(CAST(0 AS BIGINT),
                                                         xs[1:t]),
                                            (a, b) -> a + b) - t * s)
                           * (n * list_reduce(list_prepend(CAST(0 AS BIGINT),
                                                           xs[1:t]),
                                              (a, b) -> a + b) - t * s)
                           * 1.0 / (t * (n - t) * n)
                       ELSE CAST(-1 AS DOUBLE) END) AS g
            FROM arr
        ),
        best AS (
            SELECT event_type, hs, n, g,
                   list_reduce(
                       list_prepend(CAST(1 AS BIGINT),
                           [CAST(t AS BIGINT)
                            for t in range(2, CAST(len(g) AS INT))]),
                       (acc, t) -> CASE WHEN g[t] > g[acc] THEN t
                                        ELSE acc END) AS t_best
            FROM gains
        )
        SELECT event_type,
               CAST(t_best AS BIGINT) AS split_after_index,
               hs[t_best] AS split_hour,
               ROUND((g[t_best]) * 1000000.0) / 1000000.0 + 0.0
                   AS contrast_gain
        FROM best
    """,
    tags=("timeseries", "changepoint", "binseg", "events"),
)
def events_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    arr = (
        series.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("h", "c"))), lambda s: s["c"]
            ).alias("xs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("h", "c"))),
                lambda s: s["h"].cast("string"),
            ).alias("hs"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
        )
        .filter(F.col("n") >= 4)
    )
    xs = F.col("xs")

    def prefix(t):  # Σ xs[1..t] — exact long fold
        return F.aggregate(
            F.slice(xs, F.lit(1), t), F.lit(0).cast("long"), lambda a, b: a + b
        )

    # int64 range: the contrast numerator (n*prefix - t*s) squares in long
    # arithmetic — |.| ~ n*s, so the square saturates int64 once an event
    # type's total count s reaches ~3e9 at n~1e3 hours; loud on both
    # engines (Spark ANSI multiply overflow / DuckDB BIGINT overflow),
    # never silent. Promoting the difference to double before squaring is
    # the range path, at the cost of >2^53 exactness.
    g = F.transform(
        xs,
        lambda x, i0: F.when(
            (i0 + 1) < F.col("n"),
            (F.col("n") * prefix(i0 + 1) - (i0 + 1).cast("long") * F.col("s"))
            * (F.col("n") * prefix(i0 + 1) - (i0 + 1).cast("long") * F.col("s"))
            * F.lit(1.0)
            / ((i0 + 1).cast("long") * (F.col("n") - (i0 + 1)) * F.col("n")),
        ).otherwise(F.lit(-1.0).cast("double")),
    )
    gains = arr.select("event_type", "hs", "n", g.alias("g"))
    t_best = F.aggregate(
        F.sequence(F.lit(2).cast("long"), F.size("g").cast("long") - 0),
        F.lit(1).cast("long"),
        lambda acc, t: F.when(
            F.element_at("g", t.cast("int")) > F.element_at("g", acc.cast("int")),
            t,
        ).otherwise(acc),
    )
    best = gains.select("event_type", "hs", "g", t_best.alias("t_best"))
    return best.select(
        "event_type",
        F.col("t_best").alias("split_after_index"),
        F.element_at("hs", F.col("t_best").cast("int")).alias("split_hour"),
        pround(
            F.element_at("g", F.col("t_best").cast("int")), 6
        ).alias("contrast_gain"),
    )


# ---------------------------------------------------------------------------
# ALARM VERIFICATION — the hybrid stream+ML+text pipeline of "A Hybrid
# Approach for Alarm Verification using Stream Processing, Machine
# Learning and Text Analytics" (EDBT 2018, PAPERS.md), recast on this
# engine: raw alarms are hourly count anomalies (|z| > 2.5, the
# manual-moment z of events_hourly_anomaly); each alarm is then
# verified by two independent signals before it pages anyone —
# (1) cross-stream corroboration: how many OTHER event types alarm in
# the same hour (systemic vs isolated), and (2) payload analytics: the
# alarm hour's mean JSON `k` field vs the type's overall mean, in exact
# integer basis points (cross-multiplied — no division until reporting).
# Verdict: corroborated OR payload-shifted ⇒ verified, else suppressed.
# Scale: one events scan feeds both the hourly counts and the payload
# sums (same groupBy); stats broadcast; the corroboration join keys on
# the tiny alarm set.
# ---------------------------------------------------------------------------
ALARM_Z = 2.5
ALARM_SHIFT_BP = 2000  # payload mean shifted ≥20% corroborates the alarm


@register(
    "events_alarm_verification",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS ksum
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type,
                   CAST(SUM(c) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c * c) AS BIGINT) AS tq,
                   CAST(SUM(ksum) AS BIGINT) AS kt
            FROM hourly GROUP BY event_type
        ),
        scored AS (
            SELECT h.event_type, h.h, h.c, h.ksum, s.t, s.n, s.kt,
                   (h.c - s.t * 1.0 / s.n)
                       / sqrt((s.tq - s.t * s.t * 1.0 / s.n) / (s.n - 1)) AS z
            FROM hourly h JOIN stats s USING (event_type)
        ),
        alarms AS (SELECT * FROM scored WHERE ABS(z) > {ALARM_Z}),
        co AS (
            SELECT a.event_type, a.h,
                   CAST(COUNT(*) AS BIGINT) AS n_co_anomalous
            FROM alarms a
            JOIN alarms b ON b.h = a.h AND b.event_type <> a.event_type
            GROUP BY 1, 2
        )
        SELECT a.event_type,
               CAST(a.h AS VARCHAR) AS hour_ts,
               ROUND((a.z) * 10000.0) / 10000.0 + 0.0 AS z_r,
               COALESCE(co.n_co_anomalous, 0) AS n_co_anomalous,
               (ABS(a.ksum * a.t - a.c * a.kt) * 10000)
                   // (a.c * a.kt) AS payload_shift_bp,
               (COALESCE(co.n_co_anomalous, 0) > 0
                OR (ABS(a.ksum * a.t - a.c * a.kt) * 10000)
                       // (a.c * a.kt) >= {ALARM_SHIFT_BP}) AS verified
        FROM alarms a
        LEFT JOIN co ON co.event_type = a.event_type AND co.h = a.h
    """,
    tags=("streaming-ops", "anomaly", "alarm-verification", "paper", "events"),
)
def events_alarm_verification(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.get_json_object("props", "$.k").cast("long"))
        .cast("long")
        .alias("ksum"),
    )
    stats = hourly.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("tq"),
        F.sum("ksum").cast("long").alias("kt"),
    )
    z = (F.col("c") - F.col("t") * F.lit(1.0) / F.col("n")) / F.sqrt(
        (F.col("tq") - F.col("t") * F.col("t") * F.lit(1.0) / F.col("n"))
        / (F.col("n") - 1)
    )
    alarms = (
        hourly.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > ALARM_Z)
        .localCheckpoint(eager=False)  # self-join + output read it once
    )
    co = (
        alarms.select("event_type", "h")
        .alias("a")
        .join(
            alarms.select(
                F.col("event_type").alias("bt"), F.col("h").alias("bh")
            ),
            (F.col("bh") == F.col("h")) & (F.col("bt") != F.col("event_type")),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("n_co_anomalous"))
    )
    shift_bp = idiv(
        F.abs(F.col("ksum") * F.col("t") - F.col("c") * F.col("kt")) * 10000,
        F.col("c") * F.col("kt"),
    )
    return (
        alarms.join(F.broadcast(co), ["event_type", "h"], "left")
        .select(
            "event_type",
            F.col("h").cast("string").alias("hour_ts"),
            pround("z", 4).alias("z_r"),
            F.coalesce("n_co_anomalous", F.lit(0).cast("long")).alias(
                "n_co_anomalous"
            ),
            shift_bp.alias("payload_shift_bp"),
            (
                (F.coalesce("n_co_anomalous", F.lit(0).cast("long")) > 0)
                | (shift_bp >= ALARM_SHIFT_BP)
            ).alias("verified"),
        )
    )


# ---------------------------------------------------------------------------
# DAU / WAU / MAU STICKINESS — the product-analytics staple: per day,
# distinct actives that day, over the trailing 7 days, and the trailing
# 28 days, plus the DAU/MAU stickiness ratio in basis points. Sliding
# DISTINCT does not decompose into window frames, so the computation
# joins the DAY SPINE against the reduced (day, user) table with a
# range predicate — after the first groupBy the input is bounded by
# days × active users, not raw events, and that reduced join is the
# standard exact formulation at scale (approx twin: HLL merge over
# daily sketches, hll_merge_event_types).
# ---------------------------------------------------------------------------
@register(
    "events_dau_wau_mau",
    oracle="""
        WITH du AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
            FROM events
        ),
        days AS (SELECT DISTINCT d FROM du),
        wau AS (
            SELECT days.d, CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS wau
            FROM days JOIN du ON du.d > days.d - 7 AND du.d <= days.d
            GROUP BY days.d
        ),
        mau AS (
            SELECT days.d, CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS mau
            FROM days JOIN du ON du.d > days.d - 28 AND du.d <= days.d
            GROUP BY days.d
        ),
        dau AS (
            SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY d
        )
        SELECT CAST(dau.d AS VARCHAR) AS day_ts, dau.dau, wau.wau, mau.mau,
               (dau.dau * 10000) // mau.mau AS stickiness_bp
        FROM dau JOIN wau USING (d) JOIN mau USING (d)
    """,
    tags=("product-analytics", "dau-mau", "events"),
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    du = events.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct().localCheckpoint(eager=False)  # three consumers
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))

    def trailing(n: int, name: str) -> DataFrame:
        return (
            days.alias("sp")
            .join(
                du.select(F.col("d").alias("ud"), "user_id"),
                (F.col("ud") > F.expr(f"date_sub(sp.d, {n})"))
                & (F.col("ud") <= F.col("sp.d")),
            )
            .groupBy("sp.d")
            .agg(F.countDistinct("user_id").cast("long").alias(name))
        )

    wau = trailing(7, "wau")
    mau = trailing(28, "mau")
    return (
        dau.join(wau, "d")
        .join(mau, "d")
        .select(
            F.col("d").cast("string").alias("day_ts"),
            "dau",
            "wau",
            "mau",
            idiv(F.col("dau") * 10000, F.col("mau")).alias("stickiness_bp"),
        )
    )


# ---------------------------------------------------------------------------
# ARRAY SET ALGEBRA — array_union / array_intersect / array_except over
# per-user behavior: the event types seen in each user's FIRST half of
# activity vs the SECOND half (median event split by (ts, event_id)
# rank). Reported as sizes plus an overlap coefficient in basis points —
# integers, so ordering inside the arrays never touches the hash. The
# split rank reuses the per-user window; the set ops are in-array
# (no join, no explode).
# ---------------------------------------------------------------------------
@register(
    "array_set_functions_showcase",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n
            FROM events
        ),
        halves AS (
            SELECT user_id,
                   COUNT(DISTINCT CASE WHEN rn * 2 <= n THEN event_type END)
                       AS n_first,
                   COUNT(DISTINCT CASE WHEN rn * 2 > n THEN event_type END)
                       AS n_second,
                   COUNT(DISTINCT CASE WHEN rn * 2 <= n THEN event_type END)
                   + COUNT(DISTINCT CASE WHEN rn * 2 > n THEN event_type END)
                   - COUNT(DISTINCT event_type) AS n_common,
                   COUNT(DISTINCT event_type) AS n_union
            FROM ranked GROUP BY user_id
        )
        SELECT user_id,
               CAST(n_first AS BIGINT) AS n_first,
               CAST(n_second AS BIGINT) AS n_second,
               CAST(n_common AS BIGINT) AS n_common,
               CAST(n_union AS BIGINT) AS n_union,
               CAST(n_first - n_common AS BIGINT) AS n_only_first,
               (n_common * 10000) // (CASE WHEN n_first <= n_second
                                           THEN CASE WHEN n_first = 0 THEN 1
                                                     ELSE n_first END
                                           ELSE CASE WHEN n_second = 0 THEN 1
                                                     ELSE n_second END END)
                   AS overlap_bp
        FROM halves
    """,
    tags=("array-functions", "set-algebra", "events"),
)
def array_set_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    ranked = events.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    per_user = ranked.groupBy("user_id").agg(
        F.array_distinct(
            F.collect_list(
                F.when(F.col("rn") * 2 <= F.col("n"), F.col("event_type"))
            )
        ).alias("first_types"),
        F.array_distinct(
            F.collect_list(
                F.when(F.col("rn") * 2 > F.col("n"), F.col("event_type"))
            )
        ).alias("second_types"),
    )
    common = F.size(F.array_intersect("first_types", "second_types")).cast("long")
    n_first = F.size("first_types").cast("long")
    n_second = F.size("second_types").cast("long")
    denom_raw = F.least(n_first, n_second)
    denom = F.when(denom_raw == 0, F.lit(1).cast("long")).otherwise(denom_raw)
    return per_user.select(
        "user_id",
        n_first.alias("n_first"),
        n_second.alias("n_second"),
        common.alias("n_common"),
        F.size(F.array_union("first_types", "second_types"))
        .cast("long")
        .alias("n_union"),
        F.size(F.array_except("first_types", "second_types"))
        .cast("long")
        .alias("n_only_first"),
        idiv(common * 10000, denom).alias("overlap_bp"),
    )


# ---------------------------------------------------------------------------
# SURROGATE KEY ASSIGNMENT — dense, deterministic warehouse keys for a
# natural-key dimension at scale. monotonically_increasing_id() is the
# tempting tool but its values depend on partition layout (gaps, no
# stability across runs); the correct shape is the distributed global
# rank over the natural key — dense 1..N, reproducible, join-stable.
# The report emits the contract a downstream FK build asserts:
# contiguity (min 1, max = count, distinct = count) plus sample keys.
# ---------------------------------------------------------------------------
@register(
    "surrogate_key_assignment",
    oracle="""
        WITH sk AS (
            SELECT p_partkey,
                   CAST(ROW_NUMBER() OVER (ORDER BY p_brand, p_partkey)
                        AS BIGINT) AS sk
            FROM part
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               MIN(sk) AS min_sk, MAX(sk) AS max_sk,
               CAST(COUNT(DISTINCT sk) AS BIGINT) AS n_distinct_sk,
               (MIN(sk) = 1 AND MAX(sk) = COUNT(*)
                AND COUNT(DISTINCT sk) = COUNT(*)) AS contiguous,
               CAST(SUM(sk * p_partkey) AS BIGINT) AS mapping_checksum
        FROM sk
    """,
    tags=("warehouse", "surrogate-key", "part"),
)
def surrogate_key_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import distributed_rank

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    sk = distributed_rank(
        part, [F.col("p_brand"), F.col("p_partkey")], rank_col="sk"
    )
    return sk.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.min("sk").alias("min_sk"),
        F.max("sk").alias("max_sk"),
        F.countDistinct("sk").cast("long").alias("n_distinct_sk"),
        (
            (F.min("sk") == 1)
            & (F.max("sk") == F.count(F.lit(1)))
            & (F.countDistinct("sk") == F.count(F.lit(1)))
        ).alias("contiguous"),
        F.sum(F.col("sk") * F.col("p_partkey")).cast("long").alias(
            "mapping_checksum"
        ),
    )


# ---------------------------------------------------------------------------
# BUILT-IN session_window IN BATCH — the same dynamic-gap session
# operator the streaming rollup uses (session_window_rollup), executed
# on the batch engine: per (user, 30-min-gap session) stats. The
# gaps-and-islands SQL is the oracle, making the built-in's session
# semantics (window start = first event, end = last event + gap)
# externally certified in batch exactly as the streaming twin is.
# Scale: session_window plans as one user-keyed shuffle + session merge
# — no window-function sort pass.
# ---------------------------------------------------------------------------
@register(
    "events_session_window_batch",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN LAG(ts) OVER w IS NULL
                          OR CAST(date_diff('second', LAG(ts) OVER w, ts)
                                  AS BIGINT) > {SESSION_GAP_S}
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   CAST(SUM(new_s) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS sid
            FROM flagged
        )
        SELECT user_id,
               CAST(MIN(ts) AS VARCHAR) AS session_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM sess GROUP BY user_id, sid
    """,
    tags=("sessionization", "session-window", "batch", "events"),
)
def events_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("sw.start").cast("string").alias("session_start"),
            "n_events",
            "value_cents",
        )
    )


# ---------------------------------------------------------------------------
# AES ROUND-TRIP AUDIT — the column-encryption surface (aes_encrypt /
# aes_decrypt, deterministic ECB mode so re-runs agree; production
# would use GCM + key management, where the random IV makes ciphertext
# non-reproducible by design). The audit proves decrypt∘encrypt is the
# identity on every row and that equal plaintexts map to equal
# ciphertexts (ECB's determinism — also exactly its leakage, which is
# the documented reason GCM exists). The oracle checks the invariant
# counts; ciphertext bytes never leave the engine.
# ---------------------------------------------------------------------------
AES_KEY = "0123456789abcdef"  # 16-byte test key (AES-128)


@register(
    "aes_roundtrip_audit",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_roundtrip_ok,
               CAST(COUNT(DISTINCT event_type) AS BIGINT)
                   AS n_distinct_ciphertexts
        FROM events
    """,
    tags=("crypto", "functions", "events"),
)
def aes_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    enc = F.expr(
        f"aes_encrypt(event_type, '{AES_KEY}', 'ECB')"
    )
    staged = events.select(
        "event_type",
        enc.alias("ct"),
    ).select(
        "event_type",
        "ct",
        F.expr(f"cast(aes_decrypt(ct, '{AES_KEY}', 'ECB') as string)").alias(
            "pt"
        ),
    )
    return staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.when(F.col("pt") == F.col("event_type"), 1).otherwise(0)
        ).cast("long").alias("n_roundtrip_ok"),
        F.countDistinct("ct").cast("long").alias("n_distinct_ciphertexts"),
    )


# ---------------------------------------------------------------------------
# BITWISE AGGREGATES — bit_and / bit_or / bit_xor over integer columns
# (the flag-mask rollup surface; xor doubles as an order-free integer
# checksum usable for table-diff fingerprints). Exact integers on both
# engines, map-side partial like any algebraic aggregate.
# ---------------------------------------------------------------------------
@register(
    "bitwise_aggregates_showcase",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(BIT_AND(user_id) AS BIGINT) AS users_and,
               CAST(BIT_OR(user_id) AS BIGINT) AS users_or,
               CAST(BIT_XOR(event_id) AS BIGINT) AS ids_xor_checksum
        FROM events
        GROUP BY event_type
    """,
    tags=("aggregates", "bitwise", "events"),
)
def bitwise_aggregates_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.bit_and("user_id").cast("long").alias("users_and"),
        F.bit_or("user_id").cast("long").alias("users_or"),
        F.bit_xor("event_id").cast("long").alias("ids_xor_checksum"),
    )


# ---------------------------------------------------------------------------
# MAD OUTLIERS — the robust twin of events_hourly_anomaly: hours whose
# |count − median| exceeds 3·(1.4826·MAD). Mean/stddev break down when
# the contamination is what you're hunting; median and MAD don't. Both
# medians use the explicit sorted-array formula (odd → middle, even →
# mean of middles — the engine-portable median established by
# events_theilsen_trend), folded over the bounded per-type hour series.
# ---------------------------------------------------------------------------
@register(
    "events_hourly_mad_outliers",
    oracle="""
        WITH series AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        med AS (
            SELECT event_type, list(c ORDER BY c, h) AS cs,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM series GROUP BY event_type
        ),
        m1 AS (
            SELECT event_type, n, cs,
                   CASE WHEN n % 2 = 1 THEN CAST(cs[(n + 1) // 2] AS DOUBLE)
                        ELSE (cs[n // 2] + cs[n // 2 + 1]) * 0.5 END AS med
            FROM med
        ),
        devs AS (
            SELECT s.event_type, s.h, s.c, m.med, m.n,
                   ABS(s.c - m.med) AS dev
            FROM series s JOIN m1 m USING (event_type)
        ),
        m2 AS (
            SELECT event_type, list(dev ORDER BY dev, h) AS ds,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM devs GROUP BY event_type
        ),
        mad AS (
            SELECT event_type,
                   CASE WHEN n % 2 = 1 THEN ds[(n + 1) // 2]
                        ELSE (ds[n // 2] + ds[n // 2 + 1]) * 0.5 END AS mad
            FROM m2
        )
        SELECT d.event_type,
               CAST(d.h AS VARCHAR) AS hour_ts,
               d.c AS n_events,
               ROUND((d.med) * 1000000.0) / 1000000.0 + 0.0 AS median_count,
               ROUND((m.mad) * 1000000.0) / 1000000.0 + 0.0 AS mad,
               ROUND((d.dev / (1.4826 * m.mad)) * 10000.0) / 10000.0 + 0.0
                   AS robust_z
        FROM devs d JOIN mad m USING (event_type)
        WHERE m.mad > 0 AND d.dev / (1.4826 * m.mad) > 3.0
    """,
    tags=("timeseries", "anomaly", "mad", "robust", "events"),
)
def events_hourly_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).localCheckpoint(
        eager=False  # median stage and the dev rows both read it
    )

    cs = F.transform(
        F.array_sort(F.collect_list(F.struct("c", "h"))), lambda s: s["c"]
    )
    m1 = series.groupBy("event_type").agg(
        cs.alias("cs"), F.count(F.lit(1)).cast("long").alias("n")
    )
    med = F.when(
        F.col("n") % 2 == 1,
        F.element_at("cs", F.expr("int((n + 1) div 2)")).cast("double"),
    ).otherwise(
        (
            F.element_at("cs", F.expr("int(n div 2)"))
            + F.element_at("cs", F.expr("int(n div 2 + 1)"))
        )
        * F.lit(0.5)
    )
    m1 = m1.select("event_type", med.alias("med"))
    devs = series.join(F.broadcast(m1), "event_type").select(
        "event_type",
        "h",
        "c",
        "med",
        F.abs(F.col("c") - F.col("med")).alias("dev"),
    ).localCheckpoint(eager=False)
    ds = F.transform(
        F.array_sort(F.collect_list(F.struct("dev", "h"))), lambda s: s["dev"]
    )
    m2 = devs.groupBy("event_type").agg(
        ds.alias("ds"), F.count(F.lit(1)).cast("long").alias("n")
    )
    mad = F.when(
        F.col("n") % 2 == 1, F.element_at("ds", F.expr("int((n + 1) div 2)"))
    ).otherwise(
        (
            F.element_at("ds", F.expr("int(n div 2)"))
            + F.element_at("ds", F.expr("int(n div 2 + 1)"))
        )
        * F.lit(0.5)
    )
    m2 = m2.select("event_type", mad.alias("mad"))
    rz = F.col("dev") / (F.lit(1.4826) * F.col("mad"))
    return (
        devs.join(F.broadcast(m2), "event_type")
        .filter((F.col("mad") > 0) & (rz > 3.0))
        .select(
            "event_type",
            F.col("h").cast("string").alias("hour_ts"),
            F.col("c").alias("n_events"),
            pround("med", 6).alias("median_count"),
            pround("mad", 6).alias("mad"),
            pround(rz, 4).alias("robust_z"),
        )
    )


# ---------------------------------------------------------------------------
# HOLT-WINTERS (additive, period 24) — triple exponential smoothing over
# the hourly series: level + trend + a 24-slot seasonal ring, the
# capstone of the forecasting family (EWMA → Holt → Holt-Winters). The
# entire state is ONE 26-element DOUBLE list folded in pinned hour order
# (list state per the DuckDB struct-accumulator finding); α=1/4, β=1/2,
# γ=1/4 are exact binary fractions, and the level expression is written
# out verbatim inside the trend and seasonal updates so both engines
# share one IEEE dag. Init variant (documented, both engines): l₀ = mean
# of season 1, b₀ = 0, sⱼ = xⱼ − l₀; fold starts at hour 25.
# Scale: same wall-clock-bounded in-array argument as EWMA/Holt.
# ---------------------------------------------------------------------------
HW_PERIOD = 24


def _hw_oracle() -> str:
    return f"""
        WITH series AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        arr AS (
            SELECT event_type,
                   list(CAST(c AS DOUBLE) ORDER BY h) AS xs,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM series GROUP BY event_type
            HAVING COUNT(*) >= {{HW_PERIOD}} * 2 + 1
        ),
        init AS (
            SELECT event_type, xs, n,
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       xs[1:{{HW_PERIOD}}]), (a, b) -> a + b)
                       / {{HW_PERIOD}}.0 AS l0
            FROM arr
        ),
        folded AS (
            SELECT event_type, n,
                   list_reduce(
                       list_prepend(
                           list_concat([l0, CAST(0 AS DOUBLE)],
                               list_transform(xs[1:{{HW_PERIOD}}],
                                              x -> x - l0)),
                           list_transform(xs[{{HW_PERIOD}} + 1:CAST(n AS INT)],
                               (x, i) -> list_concat(
                                   [x, CAST(((i - 1) % {{HW_PERIOD}}) + 1
                                            AS DOUBLE)],
                                   list_transform(range(1, {{HW_PERIOD}} - 1),
                                                  j -> CAST(0 AS DOUBLE))))),
                       (acc, el) -> list_concat(
                           [0.25 * (el[1] - acc[CAST(el[2] AS INT) + 2])
                                + 0.75 * (acc[1] + acc[2]),
                            0.5 * ((0.25 * (el[1] - acc[CAST(el[2] AS INT) + 2])
                                    + 0.75 * (acc[1] + acc[2])) - acc[1])
                                + 0.5 * acc[2]],
                           list_transform(range(1, {{HW_PERIOD}} + 1),
                               j -> CASE WHEN j = CAST(el[2] AS BIGINT)
                                    THEN 0.25 * (el[1]
                                         - (0.25 * (el[1]
                                              - acc[CAST(el[2] AS INT) + 2])
                                            + 0.75 * (acc[1] + acc[2])))
                                         + 0.75 * acc[CAST(j AS INT) + 2]
                                    ELSE acc[CAST(j AS INT) + 2] END))) AS st
            FROM init
        )
        SELECT event_type, n AS n_hours,
               ROUND((st[1]) * 1000000.0) / 1000000.0 + 0.0 AS hw_level,
               ROUND((st[2]) * 1000000.0) / 1000000.0 + 0.0 AS hw_trend,
               ROUND((st[1] + st[2]
                      + st[CAST((n % {{HW_PERIOD}}) + 1 AS INT) + 2])
                     * 1000000.0) / 1000000.0 + 0.0 AS forecast_next
        FROM folded
    """.replace("{HW_PERIOD}", str(HW_PERIOD))


@register(
    "events_holtwinters_forecast",
    oracle=_hw_oracle(),
    tags=("timeseries", "forecast", "holt-winters", "events"),
)
def events_holtwinters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    arr = (
        series.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("h", "c"))),
                lambda s: s["c"].cast("double"),
            ).alias("xs"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .filter(F.col("n") >= HW_PERIOD * 2 + 1)
    )
    xs = F.col("xs")
    l0 = (
        F.aggregate(
            F.slice(xs, 1, HW_PERIOD), F.lit(0.0), lambda a, b: a + b
        )
        / float(HW_PERIOD)
    )
    init = F.concat(
        F.array(l0, F.lit(0.0).cast("double")),
        F.transform(F.slice(xs, 1, HW_PERIOD), lambda x: x - l0),
    )
    # elements: [x, slot, 0...] padded to the state width so the fold's
    # element type matches DuckDB's (list_reduce requires same-type lists)
    pad = [F.lit(0.0).cast("double")] * (HW_PERIOD - 2)
    elements = F.transform(
        F.expr(f"slice(xs, {HW_PERIOD + 1}, size(xs) - {HW_PERIOD})"),
        lambda x, i0: F.concat(
            F.array(x, ((i0 % HW_PERIOD) + 1).cast("double")), F.array(*pad)
        ),
    )

    def lvl(acc, el):
        slot_idx = F.element_at(el, 2).cast("int") + 2
        return F.lit(0.25) * (
            F.element_at(el, 1) - F.element_at(acc, slot_idx)
        ) + F.lit(0.75) * (F.element_at(acc, 1) + F.element_at(acc, 2))

    def step(acc, el):
        slot = F.element_at(el, 2)
        new_l = lvl(acc, el)
        new_b = (
            F.lit(0.5) * (lvl(acc, el) - F.element_at(acc, 1))
            + F.lit(0.5) * F.element_at(acc, 2)
        )
        seas = F.transform(
            F.sequence(F.lit(1), F.lit(HW_PERIOD)),
            lambda j: F.when(
                j.cast("bigint") == slot.cast("bigint"),
                F.lit(0.25) * (F.element_at(el, 1) - lvl(acc, el))
                + F.lit(0.75) * F.element_at(acc, j.cast("int") + 2),
            ).otherwise(F.element_at(acc, j.cast("int") + 2)),
        )
        return F.concat(F.array(new_l, new_b), seas)

    st = F.aggregate(elements, init, step)
    nxt = (
        F.element_at(st, 1)
        + F.element_at(st, 2)
        + F.element_at(
            st, ((F.col("n") % HW_PERIOD) + 1).cast("int") + 2
        )
    )
    return arr.select(
        "event_type",
        F.col("n").alias("n_hours"),
        pround(F.element_at(st, 1), 6).alias("hw_level"),
        pround(F.element_at(st, 2), 6).alias("hw_trend"),
        pround(nxt, 6).alias("forecast_next"),
    )


# ---------------------------------------------------------------------------
# Spark 4 COLLATION surface: case-insensitive grouping via
# ``COLLATE UTF8_LCASE`` — the engine-native path for "group URLs /
# tags / enum-ish strings regardless of case" that replaces wrapping
# every reference in lower(). A mixed-case key is derived
# deterministically from the data (even doc_ids upper-case their
# source), then grouped UNDER THE COLLATION; binary-distinct variants
# are counted per group with an explicit UTF8_BINARY re-collation.
# The grouped representative string is collation-nondeterministic, so
# the emitted key is normalized with lower() — which is also exactly
# the DuckDB oracle's formulation. Scale: one hash aggregation; the
# collation comparison is a JVM-side codegen expression, so this is
# the same single-shuffle plan as any groupBy on a 100 TB corpus.
# ---------------------------------------------------------------------------
@register(
    "collation_group_showcase",
    oracle="""
        WITH mixed AS (
            SELECT CASE WHEN doc_id % 2 = 0 THEN UPPER(source)
                        ELSE source END AS src_mixed,
                   n_chars
            FROM documents
        )
        SELECT LOWER(src_mixed)                            AS source_ci,
               CAST(COUNT(*) AS BIGINT)                    AS n_docs,
               CAST(COUNT(DISTINCT src_mixed) AS BIGINT)   AS n_case_variants,
               CAST(SUM(n_chars) AS BIGINT)                AS total_chars
        FROM mixed
        GROUP BY LOWER(src_mixed)
    """,
    tags=("sql-surface", "collation", "documents"),
)
def collation_group_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mixed = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("source"))
        .otherwise(F.col("source"))
        .alias("src_mixed"),
        "n_chars",
    )
    return (
        mixed.groupBy(
            F.collate(F.col("src_mixed"), "UTF8_LCASE").alias("src_ci")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct(
                F.collate(F.col("src_mixed"), "UTF8_BINARY")
            ).alias("n_case_variants"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        # the group representative is whichever case variant a partition
        # saw first — normalize before it leaves the query
        .select(
            F.lower(F.collate(F.col("src_ci"), "UTF8_BINARY")).alias("source_ci"),
            "n_docs",
            "n_case_variants",
            "total_chars",
        )
    )


# ---------------------------------------------------------------------------
# Compaction BIN-PACKING PLANNER — the query-side companion to
# maintenance.compact_parquet_dir's physical rewrite: given a file
# inventory (here derived deterministically from events as one logical
# file per (event_type, day) with an estimated byte size), assign files
# to size-targeted output groups by cumulative fill along the day order.
# The group id is ``exclusive_prefix_bytes // TARGET`` — the streaming
# first-fit plan Iceberg's rewrite_data_files binpack strategy computes,
# expressed as a partitioned window prefix-sum: partitions are per
# event_type (bounded vocabulary) and rows-per-partition grow with the
# table's TIME SPAN, not its data volume, so the sort stays metadata-
# sized at 100 TB. Output: one row per planned output file.
# ---------------------------------------------------------------------------
_COMPACT_TARGET_BYTES = 32 * 1024


@register(
    "compaction_bin_packing_plan",
    oracle=f"""
        WITH files AS (
            SELECT event_type,
                   CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
                   CAST(SUM(length(props)) + 64 * COUNT(*) AS BIGINT)
                       AS est_bytes
            FROM events
            GROUP BY 1, 2
        ),
        filled AS (
            SELECT *,
                   CAST(COALESCE(SUM(est_bytes) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS bytes_before
            FROM files
        )
        SELECT event_type,
               CAST(bytes_before // {_COMPACT_TARGET_BYTES} AS BIGINT)
                   AS out_file_id,
               CAST(COUNT(*) AS BIGINT)        AS n_input_files,
               CAST(SUM(est_bytes) AS BIGINT)  AS out_bytes,
               MIN(day)                        AS first_day,
               MAX(day)                        AS last_day
        FROM filled
        GROUP BY 1, 2
    """,
    tags=("maintenance", "compaction", "window", "events"),
)
def compaction_bin_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    files = events.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").cast("string").alias("day"),
    ).agg(
        (
            F.sum(F.length("props")) + F.lit(64) * F.count(F.lit(1))
        ).cast("long").alias("est_bytes")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    filled = files.withColumn(
        "bytes_before", F.coalesce(F.sum("est_bytes").over(w), F.lit(0)).cast("long")
    )
    return filled.groupBy(
        "event_type",
        idiv("bytes_before", _COMPACT_TARGET_BYTES).alias("out_file_id"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_input_files"),
        F.sum("est_bytes").cast("long").alias("out_bytes"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


# ---------------------------------------------------------------------------
# L-DIVERSITY audit — the privacy check k-anonymity (k_anonymity_audit)
# cannot express: a class of ≥K rows is still re-identifiable if every
# row shares one SENSITIVE value (homogeneity attack). Equivalence
# classes are the same quasi-identifier pair (nation, market segment);
# the sensitive attribute is the $1000 balance band. A class is weak
# when it holds fewer than L distinct sensitive values. Two hash
# aggregations, both map-side-combinable; the distinct count is exact
# (per-class distinct is bounded by the band vocabulary, so no sketch is
# needed even at 100 TB — the heavy first groupBy is (class, band)
# pairs, whose cardinality is vocabulary-bounded, not data-sized).
# ---------------------------------------------------------------------------
_LDIV_L = 3


@register(
    "l_diversity_audit",
    oracle=f"""
        WITH pairs AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
                   COUNT(*) AS n
            FROM customer
            GROUP BY 1, 2, 3
        ),
        classes AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct_sensitive,
                   CAST(SUM(n) AS BIGINT)   AS n_rows,
                   CAST(MAX(n) AS BIGINT)   AS max_band_rows
            FROM pairs
            GROUP BY 1, 2
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(CASE WHEN n_distinct_sensitive < {_LDIV_L}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_weak_classes,
               CAST(SUM(CASE WHEN n_distinct_sensitive < {_LDIV_L}
                             THEN n_rows ELSE 0 END) AS BIGINT) AS n_weak_rows,
               CAST(MIN(n_distinct_sensitive) AS BIGINT) AS min_diversity,
               CAST(SUM(CASE WHEN max_band_rows * 2 > n_rows
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_majority_homogeneous
        FROM classes
    """,
    tags=("privacy", "audit", "customer", "agg"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pairs = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("n"))
    classes = pairs.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_sensitive"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_band_rows"),
    )
    weak = F.col("n_distinct_sensitive") < _LDIV_L
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(weak.cast("long")).cast("long").alias("n_weak_classes"),
        F.sum(F.when(weak, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("n_weak_rows"),
        F.min("n_distinct_sensitive").cast("long").alias("min_diversity"),
        F.sum((F.col("max_band_rows") * 2 > F.col("n_rows")).cast("long"))
        .cast("long")
        .alias("n_majority_homogeneous"),
    )


# ---------------------------------------------------------------------------
# URL function surface — ``parse_url`` / ``url_encode`` / ``url_decode``,
# the scalar family every web-crawl pipeline leans on for host-level
# dedup quotas and canonicalization. URLs are constructed
# deterministically from part rows (so the oracle can mirror the parse
# with plain string ops), then parsed BACK: host, path, a positional
# query param, and a form-encoded param round-tripped through
# url_encode→parse_url→url_decode (p_type values are [A-Z ]-only, so
# '+' for space is the entire encoding — which is why the DuckDB mirror
# is a replace()). All JVM-side codegen scalars; no shuffle at all.
# ---------------------------------------------------------------------------
@register(
    "url_functions_showcase",
    oracle="""
        SELECT p_partkey,
               'parts.example.com' AS host,
               '/brand/' || regexp_replace(p_brand, '[^A-Za-z0-9]', '-', 'g')
                   || '/part/' || CAST(p_partkey AS VARCHAR) AS path,
               CAST(p_size AS VARCHAR) AS size_param,
               replace(p_type, ' ', '+') AS container_encoded,
               p_type AS container_roundtrip
        FROM part
        WHERE p_partkey % 10 = 0
    """,
    tags=("scalar", "url", "sql-surface"),
)
def url_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0)
    url = F.concat(
        F.lit("https://parts.example.com/brand/"),
        # '#' in raw brands ("Brand#2") would start a URL fragment —
        # path segments must be sanitized before they enter the URL
        F.regexp_replace(F.col("p_brand"), r"[^A-Za-z0-9]", "-"),
        F.lit("/part/"),
        F.col("p_partkey").cast("string"),
        F.lit("?size="),
        F.col("p_size").cast("string"),
        F.lit("&container="),
        F.url_encode(F.col("p_type")),
    )
    with_url = part.select("p_partkey", url.alias("url"))
    return with_url.select(
        "p_partkey",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("size")).alias("size_param"),
        F.parse_url("url", F.lit("QUERY"), F.lit("container")).alias(
            "container_encoded"
        ),
        F.url_decode(
            F.parse_url("url", F.lit("QUERY"), F.lit("container"))
        ).alias("container_roundtrip"),
    )


# ---------------------------------------------------------------------------
# LINK PREDICTION over the supplier–part bipartite graph — the
# graph-analytics member the pagerank/bfs/kcore/triangle family lacked:
# score supplier pairs that share parts by three classic indices:
# common-neighbor count, Jaccard (integer basis points), and the
# Resource Allocation index Σ_z 1/deg(z) over shared parts z (RA is
# Adamic-Adar's 1/deg sibling — chosen because 1000000 // deg is
# integer-exact in both engines, while ln() floors could split on a
# last-ulp libm difference). Pair generation is the basket pattern:
# per-part sorted supplier arrays exploded to ordered pairs — no
# data-sized self-join; hub parts are capped at LINKPRED_MAX_DEG
# suppliers (quadratic-pair guard, the cap every production LP blocking
# scheme applies); degrees join back from the two small per-key count
# tables. Top-25 by RA score.
# ---------------------------------------------------------------------------
LINKPRED_MAX_DEG = 50


@register(
    "graph_link_prediction_suppliers",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_partkey AS part, l_suppkey AS supp FROM lineitem
        ),
        pdeg AS (
            SELECT part, COUNT(*) AS deg FROM edges GROUP BY part
        ),
        sdeg AS (
            SELECT supp, COUNT(*) AS deg FROM edges GROUP BY supp
        ),
        pairs AS (
            SELECT a.supp AS supp_a, b.supp AS supp_b,
                   CAST(COUNT(*) AS BIGINT) AS common_parts,
                   CAST(SUM(1000000 // d.deg) AS BIGINT) AS ra_score_micro
            FROM edges a
            JOIN edges b ON a.part = b.part AND a.supp < b.supp
            JOIN pdeg d ON d.part = a.part
            WHERE d.deg <= {LINKPRED_MAX_DEG}
            GROUP BY 1, 2
        )
        SELECT supp_a, supp_b, common_parts,
               CAST(common_parts * 10000
                    // (da.deg + db.deg - common_parts) AS BIGINT) AS jaccard_bp,
               ra_score_micro
        FROM pairs
        JOIN sdeg da ON da.supp = supp_a
        JOIN sdeg db ON db.supp = supp_b
        ORDER BY ra_score_micro DESC, supp_a ASC, supp_b ASC
        LIMIT 25
    """,
    tags=("graph", "linkpred", "lineitem"),
)
def graph_link_prediction_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("supp")
    ).distinct()
    # per-part supplier arrays: hub cap + per-pair weight in one row
    per_part = (
        edges.groupBy("part")
        .agg(F.array_sort(F.collect_set("supp")).alias("supps"))
        .filter(F.size("supps") <= LINKPRED_MAX_DEG)
        .withColumn("w", idiv(F.lit(1000000), F.size("supps").cast("long")))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("supps"),
            lambda x, i: F.transform(
                F.slice(F.col("supps"), i + 2, F.size(F.col("supps"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        per_part.select("w", F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("supp_a"), F.col("p.b").alias("supp_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_parts"),
            F.sum("w").cast("long").alias("ra_score_micro"),
        )
    )
    sdeg = edges.groupBy("supp").agg(F.count(F.lit(1)).alias("deg"))
    da = sdeg.select(F.col("supp").alias("supp_a"), F.col("deg").alias("deg_a"))
    db = sdeg.select(F.col("supp").alias("supp_b"), F.col("deg").alias("deg_b"))
    return (
        pairs.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "common_parts",
            idiv(
                F.col("common_parts") * 10000,
                F.col("deg_a") + F.col("deg_b") - F.col("common_parts"),
            ).alias("jaccard_bp"),
            "ra_score_micro",
        )
        .orderBy(
            F.col("ra_score_micro").desc(),
            F.col("supp_a").asc(),
            F.col("supp_b").asc(),
        )
        .limit(25)
    )


# ---------------------------------------------------------------------------
# EXECUTE IMMEDIATE + session variables — the dynamic-SQL surface
# (Spark 4): DECLARE a session variable, SET it from a scalar subquery
# over the data, then EXECUTE IMMEDIATE a parameterized statement USING
# it. The dynamic statement computes the per-type share of events above
# the variable threshold — the oracle inlines the same subquery, so the
# driver checks that the variable round-trips through the dynamic-SQL
# machinery without value drift. (Complements sql_scripting_showcase's
# BEGIN…END control flow and parameterized_sql_showcase's static named
# markers.) Plain aggregations; nothing about the surface changes the
# physical plan.
# ---------------------------------------------------------------------------
@register(
    "execute_immediate_showcase",
    oracle="""
        WITH thr AS (
            SELECT CAST(ROUND(AVG(value) * 100.0) AS BIGINT) / 100.0 AS v
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN value > (SELECT v FROM thr)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
               CAST(SUM(CASE WHEN value > (SELECT v FROM thr)
                             THEN 1 ELSE 0 END) * 10000
                    // COUNT(*) AS BIGINT) AS share_bp
        FROM events
        GROUP BY event_type
    """,
    tags=("sql-surface", "dynamic-sql", "variables", "events"),
)
def execute_immediate_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    view = f"exec_imm_events_{abs(hash(sf_dir)) % 10**8}"
    events.createOrReplaceTempView(view)
    # integer-cents threshold so the variable's value is bit-portable
    spark.sql("DECLARE OR REPLACE VARIABLE ksj_thr DOUBLE DEFAULT 0.0")
    spark.sql(
        f"SET VAR ksj_thr = (SELECT CAST(ROUND(AVG(value) * 100.0) AS BIGINT)"
        f" / 100.0 FROM {view})"
    )
    return spark.sql(
        f"""
        EXECUTE IMMEDIATE
            'SELECT event_type,
                    CAST(COUNT(*) AS BIGINT) AS n_events,
                    CAST(SUM(CASE WHEN value > :thr THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_above,
                    CAST(SUM(CASE WHEN value > :thr THEN 1 ELSE 0 END) * 10000
                        AS BIGINT) div COUNT(*) AS share_bp
             FROM {view} GROUP BY event_type'
        USING ksj_thr AS thr
        """
    )


# ---------------------------------------------------------------------------
# CHANGE DATA FEED — the row-level companion to snapshot_diff_report's
# count-level reconciliation: the Delta-CDF-shaped stream of changes
# between two deterministic hash-derived snapshots of the customer
# dimension, one output row per change with
# _change_type ∈ {insert, delete, update_preimage, update_postimage}.
# Membership comes from the same md5-prefix device as the snapshot diff;
# rows in both snapshots emit an update pair iff the restated balance
# differs (every 7th custkey gets +1000 cents in the new snapshot).
# Unchanged rows emit nothing — the defining property of a change feed.
# One full-outer self-join on the key, then pre/post rows are exploded
# from a 1-2 element array; balances are integer cents throughout.
# ---------------------------------------------------------------------------
@register(
    "change_data_feed_report",
    oracle=f"""
        WITH base AS (
            SELECT c_custkey,
                   CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents,
                   {md5_int_sql("c_custkey", "cdf:")} AS h
            FROM customer
        ),
        old AS (
            SELECT c_custkey, cents FROM base WHERE h % 3 <> 0
        ),
        new AS (
            SELECT c_custkey,
                   cents + CASE WHEN c_custkey % 7 = 0 THEN 100000 ELSE 0 END
                       AS cents
            FROM base WHERE h % 5 <> 0
        )
        SELECT n.c_custkey AS c_custkey, 'insert' AS _change_type,
               NULL AS pre_cents, n.cents AS post_cents
        FROM new n LEFT JOIN old o ON o.c_custkey = n.c_custkey
        WHERE o.c_custkey IS NULL
        UNION ALL
        SELECT o.c_custkey, 'delete', o.cents, NULL
        FROM old o LEFT JOIN new n ON n.c_custkey = o.c_custkey
        WHERE n.c_custkey IS NULL
        UNION ALL
        SELECT o.c_custkey, 'update_preimage', o.cents, NULL
        FROM old o JOIN new n ON n.c_custkey = o.c_custkey
        WHERE o.cents <> n.cents
        UNION ALL
        SELECT o.c_custkey, 'update_postimage', NULL, n.cents
        FROM old o JOIN new n ON n.c_custkey = o.c_custkey
        WHERE o.cents <> n.cents
    """,
    tags=("cdc", "change-feed", "join", "customer"),
)
def change_data_feed_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100.0, 0).cast("long").alias("cents"),
        md5_int("c_custkey", "cdf:").alias("h"),
    ).localCheckpoint(eager=False)  # both snapshots derive from one scan
    old = base.filter(F.col("h") % 3 != 0).select(
        F.col("c_custkey").alias("o_key"), F.col("cents").alias("o_cents")
    )
    new = base.filter(F.col("h") % 5 != 0).select(
        F.col("c_custkey").alias("n_key"),
        (
            F.col("cents")
            + F.when(F.col("c_custkey") % 7 == 0, 100000).otherwise(0)
        ).alias("n_cents"),
    )
    joined = old.join(new, F.col("o_key") == F.col("n_key"), "full_outer")
    changes = F.when(
        F.col("o_key").isNull(),
        F.array(
            F.struct(
                F.lit("insert").alias("t"),
                F.lit(None).cast("long").alias("pre"),
                F.col("n_cents").alias("post"),
            )
        ),
    ).when(
        F.col("n_key").isNull(),
        F.array(
            F.struct(
                F.lit("delete").alias("t"),
                F.col("o_cents").alias("pre"),
                F.lit(None).cast("long").alias("post"),
            )
        ),
    ).when(
        F.col("o_cents") != F.col("n_cents"),
        F.array(
            F.struct(
                F.lit("update_preimage").alias("t"),
                F.col("o_cents").alias("pre"),
                F.lit(None).cast("long").alias("post"),
            ),
            F.struct(
                F.lit("update_postimage").alias("t"),
                F.lit(None).cast("long").alias("pre"),
                F.col("n_cents").alias("post"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<t:string,pre:long,post:long>>"))
    return (
        joined.select(
            F.coalesce(F.col("o_key"), F.col("n_key")).alias("c_custkey"),
            F.explode(changes).alias("c"),
        )
        .select(
            "c_custkey",
            F.col("c.t").alias("_change_type"),
            F.col("c.pre").alias("pre_cents"),
            F.col("c.post").alias("post_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance — the delta-join algebra that extends
# incremental_agg_maintenance (IVM over one table) to materialized JOIN
# views:  A⋈B  =  A0⋈B0  ∪  ΔA⋈B0  ∪  A0⋈ΔB  ∪  ΔA⋈ΔB.
# The engine computes the per-segment partial aggregate of each term
# separately and MERGES the four partials; the oracle recomputes the
# plain full join — hash equality proves the maintenance algebra, term
# by term (the output carries each term's row count, not just totals).
#
# 100 TB shape: A0⋈B0 is the STORED materialized view (recomputed here
# only because a registry query owns no cross-run state); the refresh
# work is the three delta terms, where a delta side is always tiny —
# ΔA⋈B0 and A0⋈ΔB broadcast the delta, ΔA⋈ΔB is negligible — so the
# big tables are never re-joined with each other on refresh. Revenue is
# integer cents throughout: partial-aggregate merges stay exact.
# ---------------------------------------------------------------------------
_IVMJ_ORDER_MOD = 19  # o_orderkey % 19 == 0 → the freshly-arrived orders
_IVMJ_CUST_MOD = 23  # c_custkey % 23 == 0 → the freshly-arrived customers


@register(
    "incremental_join_maintenance",
    oracle=f"""
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                    AS BIGINT) AS revenue_cents,
               CAST(SUM(CASE WHEN o_orderkey % {_IVMJ_ORDER_MOD} <> 0
                              AND c_custkey % {_IVMJ_CUST_MOD} <> 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_bb,
               CAST(SUM(CASE WHEN o_orderkey % {_IVMJ_ORDER_MOD} = 0
                              AND c_custkey % {_IVMJ_CUST_MOD} <> 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_da,
               CAST(SUM(CASE WHEN o_orderkey % {_IVMJ_ORDER_MOD} <> 0
                              AND c_custkey % {_IVMJ_CUST_MOD} = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_db,
               CAST(SUM(CASE WHEN o_orderkey % {_IVMJ_ORDER_MOD} = 0
                              AND c_custkey % {_IVMJ_CUST_MOD} = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dd
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    tags=("join", "incremental", "ivm", "orders", "customer"),
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100.0, 0).cast("long").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    a0 = orders.filter(F.col("o_orderkey") % _IVMJ_ORDER_MOD != 0)
    da = orders.filter(F.col("o_orderkey") % _IVMJ_ORDER_MOD == 0)
    b0 = cust.filter(F.col("c_custkey") % _IVMJ_CUST_MOD != 0)
    db = cust.filter(F.col("c_custkey") % _IVMJ_CUST_MOD == 0)

    def term(a: DataFrame, b: DataFrame, label: str, bcast: str) -> DataFrame:
        # delta-side broadcast: on refresh the big tables never shuffle
        if bcast == "a":
            a = F.broadcast(a)
        elif bcast == "b":
            b = F.broadcast(b)
        return (
            a.join(b, a.o_custkey == b.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("long").alias("p_n"),
                F.sum("cents").cast("long").alias("p_cents"),
            )
            .withColumn("term", F.lit(label))
        )

    partials = (
        term(a0, b0, "bb", "none")  # the stored MV's own aggregate
        .unionByName(term(da, b0, "da", "a"))
        .unionByName(term(a0, db, "db", "b"))
        .unionByName(term(da, db, "dd", "a"))
    )
    t = F.col("term")
    return partials.groupBy("c_mktsegment").agg(
        F.sum("p_n").cast("long").alias("n_orders"),
        F.sum("p_cents").cast("long").alias("revenue_cents"),
        F.sum(F.when(t == "bb", F.col("p_n")).otherwise(0)).cast("long").alias("n_bb"),
        F.sum(F.when(t == "da", F.col("p_n")).otherwise(0)).cast("long").alias("n_da"),
        F.sum(F.when(t == "db", F.col("p_n")).otherwise(0)).cast("long").alias("n_db"),
        F.sum(F.when(t == "dd", F.col("p_n")).otherwise(0)).cast("long").alias("n_dd"),
    )


# ---------------------------------------------------------------------------
# Foreign-key DISCOVERY by inclusion dependency — the schema-profiling
# operator behind auto-documentation and join recommendation: for each
# candidate (child column → parent column) pair, measure how much of the
# child's value set is contained in the parent's. inclusion = 1.0 on a
# true FK; a negative control pair shows the discriminating power.
# Engine shape: per pair, DISTINCT on each side (map-side partial
# aggregation collapses duplicates before the shuffle) then a LEFT SEMI
# join of the two distinct sets — the probe never materializes the
# non-matches, and no data-sized side is collected. 5 candidate pairs →
# 5 small aggregate rows unioned.
# ---------------------------------------------------------------------------
_FK_CANDIDATES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    # negative control: order keys are NOT customer keys
    ("orders", "o_orderkey", "customer", "c_custkey"),
)


@register(
    "fk_inclusion_profile",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{ct}.{cc}' AS child, '{pt}.{pc}' AS parent,
               (SELECT CAST(COUNT(DISTINCT {cc}) AS BIGINT) FROM {ct})
                   AS n_child_distinct,
               (SELECT CAST(COUNT(DISTINCT {pc}) AS BIGINT) FROM {pt})
                   AS n_parent_distinct,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM
                   (SELECT DISTINCT {cc} FROM {ct}) c
                   WHERE {cc} IN (SELECT {pc} FROM {pt}))
                   AS n_included,
               (SELECT CAST((CAST(COUNT(*) FILTER (WHERE {cc} IN
                       (SELECT {pc} FROM {pt})) AS BIGINT) * 10000)
                       // CAST(COUNT(*) AS BIGINT) AS BIGINT)
                   FROM (SELECT DISTINCT {cc} FROM {ct}) c)
                   AS inclusion_bp
        """
        for ct, cc, pt, pc in _FK_CANDIDATES
    ),
    tags=("profiling", "schema-discovery", "join"),
)
def fk_inclusion_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._portable import idiv

    out = None
    for ct, cc, pt, pc in _FK_CANDIDATES:
        child = load_table(spark, sf_dir, ct).select(cc).distinct()
        parent = load_table(spark, sf_dir, pt).select(pc).distinct()
        included = child.join(
            parent, child[cc] == parent[pc], "left_semi"
        ).agg(F.count(F.lit(1)).cast("long").alias("n_included"))
        row = (
            child.agg(F.count(F.lit(1)).cast("long").alias("n_child_distinct"))
            .crossJoin(
                parent.agg(
                    F.count(F.lit(1)).cast("long").alias("n_parent_distinct")
                )
            )
            .crossJoin(included)  # three 1-row aggregates — broadcast scalars
            .select(
                F.lit(f"{ct}.{cc}").alias("child"),
                F.lit(f"{pt}.{pc}").alias("parent"),
                "n_child_distinct",
                "n_parent_distinct",
                "n_included",
                idiv(
                    F.col("n_included") * 10000, F.col("n_child_distinct")
                ).alias("inclusion_bp"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# T-CLOSENESS audit — completes the privacy trio (k_anonymity_audit,
# l_diversity_audit): a class can be k-anonymous AND l-diverse yet still
# leak if its sensitive-value DISTRIBUTION differs sharply from the
# global one (skewness attack). For the ordered balance-band attribute
# the canonical distance is the ordered Earth-Mover's Distance:
#   EMD(P, Q) = (1/(m-1)) * sum_i |prefix_i(P - Q)|.
# All arithmetic stays in exact integers on the common denominator
# n_class * N: diff_i = n_class_band_i * N - N_i * n_class, prefix-sum
# per class over the ordered bands, then ONE truncating division to
# basis points (exact while 1e4 * m * n_class * N < 2^63 — holds through
# SF100; beyond that, widen the bands before the audit, not the ints).
# Scale shape: the heavy work is two vocabulary-bounded hash aggregates;
# the dense class x band grid is |classes| * m metadata rows, built by
# broadcasting the band table, and the per-class window partitions by
# class (never a global sort).
# ---------------------------------------------------------------------------
_TCLOSE_T_BP = 2000  # classes with EMD > 0.20 violate


@register(
    "t_closeness_audit",
    oracle=f"""
        WITH bands AS (
            SELECT CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
                   CAST(COUNT(*) AS BIGINT) AS n_band
            FROM customer GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(n_band) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS m_bands
            FROM bands
        ), classes AS (
            SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_class
            FROM customer GROUP BY 1, 2
        ), class_band AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
                   CAST(COUNT(*) AS BIGINT) AS n_cb
            FROM customer GROUP BY 1, 2, 3
        ), grid AS (
            SELECT c.c_nationkey, c.c_mktsegment, c.n_class, b.bal_band,
                   b.n_band, COALESCE(cb.n_cb, 0) AS n_cb
            FROM classes c CROSS JOIN bands b
            LEFT JOIN class_band cb
              ON cb.c_nationkey = c.c_nationkey
             AND cb.c_mktsegment = c.c_mktsegment
             AND cb.bal_band = b.bal_band
        ), prefixed AS (
            SELECT c_nationkey, c_mktsegment, n_class,
                   SUM(n_cb * (SELECT n_total FROM tot)
                       - n_band * n_class)
                       OVER (PARTITION BY c_nationkey, c_mktsegment
                             ORDER BY bal_band) AS prefix
            FROM grid
        ), emd AS (
            SELECT c_nationkey, c_mktsegment, n_class,
                   (CAST(SUM(ABS(prefix)) AS BIGINT) * 10000)
                     // (((SELECT m_bands FROM tot) - 1)
                         * n_class * (SELECT n_total FROM tot)) AS emd_bp
            FROM prefixed
            GROUP BY 1, 2, 3
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(CASE WHEN emd_bp > {_TCLOSE_T_BP}
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_classes,
               CAST(SUM(CASE WHEN emd_bp > {_TCLOSE_T_BP}
                             THEN n_class ELSE 0 END) AS BIGINT)
                   AS n_violating_rows,
               CAST(MAX(emd_bp) AS BIGINT) AS max_emd_bp,
               CAST(MIN(emd_bp) AS BIGINT) AS min_emd_bp
        FROM emd
    """,
    tags=("privacy", "audit", "customer", "agg", "window"),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band")
    bands = cust.groupBy(band).agg(
        F.count(F.lit(1)).cast("long").alias("n_band")
    )
    tot = bands.agg(
        F.sum("n_band").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("m_bands"),
    )
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_class")
    )
    class_band = cust.groupBy("c_nationkey", "c_mktsegment", band).agg(
        F.count(F.lit(1)).cast("long").alias("n_cb")
    )
    grid = (
        classes.crossJoin(F.broadcast(bands))
        .crossJoin(F.broadcast(tot))  # two bounded aggregates + 1 scalar row
        .join(
            class_band,
            ["c_nationkey", "c_mktsegment", "bal_band"],
            "left",
        )
        .withColumn("n_cb", F.coalesce(F.col("n_cb"), F.lit(0)))
    )
    w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("bal_band")
    prefixed = grid.withColumn(
        "prefix",
        F.sum(
            F.col("n_cb") * F.col("n_total") - F.col("n_band") * F.col("n_class")
        ).over(w),
    )
    emd = prefixed.groupBy(
        "c_nationkey", "c_mktsegment", "n_class", "m_bands", "n_total"
    ).agg(F.sum(F.abs(F.col("prefix"))).cast("long").alias("emd_scaled"))
    emd = emd.withColumn(
        "emd_bp",
        idiv(
            F.col("emd_scaled") * 10000,
            (F.col("m_bands") - 1) * F.col("n_class") * F.col("n_total"),
        ),
    )
    viol = F.col("emd_bp") > _TCLOSE_T_BP
    return emd.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(viol.cast("long")).cast("long").alias("n_violating_classes"),
        F.sum(F.when(viol, F.col("n_class")).otherwise(0))
        .cast("long")
        .alias("n_violating_rows"),
        F.max("emd_bp").cast("long").alias("max_emd_bp"),
        F.min("emd_bp").cast("long").alias("min_emd_bp"),
    )


# ---------------------------------------------------------------------------
# DIFFERENTIALLY-PRIVATE noisy counts — completes the privacy quartet
# (k_anonymity_audit, l_diversity_audit, t_closeness_audit): those three
# AUDIT a release; this one actually PERTURBS it. Mechanism: two-sided
# geometric (discrete Laplace) with alpha = 1/2 (epsilon = ln 2 per
# sensitivity-1 count), truncated at +/-20 — the standard integer
# mechanism for count queries (Ghosh-Roughgarden-Sundararajan 2009).
# alpha = 1/2 is chosen deliberately: the inverse CDF's thresholds are
# exact powers of two on the common denominator 3*2^20, so noise
# derivation is PURE int64 arithmetic — bit-identical across engines,
# no ln()/exp() portability cliff. The per-group uniform draw comes from
# a seeded integer LCG over the group key (deterministic so the DuckDB
# oracle can replay it; production swaps the LCG for a CSPRNG draw —
# that single expression is the only non-DP-grade piece).
# Post-processing: counts clamp at 0 (post-processing preserves DP).
# Scale shape: noise attaches AFTER the hash aggregate — one broadcast
# range-join against a 41-row threshold table, O(groups) work, O(1)
# metadata; the data-sized scan is exactly the plain count aggregate.
# Reference parity: none (SURVEY.md §2.7) — north-star privacy extension.
# ---------------------------------------------------------------------------
_DP_TRUNC = 20  # truncate noise at +/-20 (tail mass ~2^-20 per side)
_DP_DENOM = 3 * (1 << _DP_TRUNC)  # common denominator of the exact CDF


def _dp_noise_rows() -> list[tuple[int, int, int]]:
    """(noise, lo, hi) half-open uniform-draw intervals on [0, 3*2^20):
    X = -k on [2^(20-k), 2^(21-k)), X = 0 on [2^20, 2^21), X = +j on
    [3*2^20 - 2^(21-j), 3*2^20 - 2^(20-j)); the truncated mass folds
    into the two end intervals."""
    k = _DP_TRUNC
    rows = []
    for j in range(-k, k + 1):
        if j < 0:
            lo = 0 if j == -k else 1 << (_DP_TRUNC + j)
            hi = 1 << (_DP_TRUNC + j + 1)
        elif j == 0:
            lo, hi = 1 << _DP_TRUNC, 1 << (_DP_TRUNC + 1)
        else:
            lo = _DP_DENOM - (1 << (_DP_TRUNC - j + 1))
            hi = _DP_DENOM if j == k else _DP_DENOM - (1 << (_DP_TRUNC - j))
        rows.append((j, lo, hi))
    return rows


@register(
    "dp_noisy_nation_counts",
    oracle=f"""
        WITH counts AS (
            SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_true
            FROM customer GROUP BY 1
        ), drawn AS (
            SELECT c_nationkey, n_true,
                   (((CAST(c_nationkey AS BIGINT) * 1103515245 + 12345)
                     % 2147483648) * 48271) % {_DP_DENOM} AS u
            FROM counts
        ), noise(noise, lo, hi) AS (
            VALUES {', '.join(f'({j}, {lo}, {hi})' for j, lo, hi in _dp_noise_rows())}
        )
        SELECT d.c_nationkey,
               d.n_true,
               CAST(n.noise AS BIGINT) AS noise,
               GREATEST(0, d.n_true + n.noise) AS n_noisy
        FROM drawn d JOIN noise n ON d.u >= n.lo AND d.u < n.hi
    """,
    tags=("privacy", "dp", "customer", "agg"),
)
def dp_noisy_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    counts = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    key = F.col("c_nationkey").cast("long")
    a = (key * F.lit(1103515245).cast("long") + 12345) % F.lit(2147483648)
    drawn = counts.withColumn(
        "u", (a * F.lit(48271).cast("long")) % F.lit(_DP_DENOM)
    )
    noise = F.broadcast(
        jvm_values_df(spark, _dp_noise_rows(), "noise long, lo long, hi long")
    )
    joined = drawn.join(
        noise, (F.col("u") >= F.col("lo")) & (F.col("u") < F.col("hi"))
    )
    zero = F.lit(0).cast("long")
    return joined.select(
        "c_nationkey",
        "n_true",
        "noise",
        F.greatest(zero, F.col("n_true") + F.col("noise")).alias("n_noisy"),
    )


# ---------------------------------------------------------------------------
# FUNCTIONAL-DEPENDENCY discovery — the other half of schema profiling
# next to fk_inclusion_profile's INCLUSION dependencies: does A -> B
# hold exactly, and if not, how badly is it violated? Classic TANE-style
# counting reduced to its distributed core: A -> B holds iff every A
# value maps to exactly one B, i.e. no group under A has
# COUNT(DISTINCT B) > 1. The profile reports, per candidate, the lhs
# cardinality, the distinct-pair cardinality, how many lhs values
# violate, and the worst fan-out — the numbers a data steward needs to
# decide between "declare it a constraint" and "quarantine violators".
# Candidates span true keys (o_orderkey -> o_custkey) and deliberate
# non-FDs (c_nationkey -> c_mktsegment) so the violation columns are
# exercised in both directions.
# Scale shape: each candidate is groupBy(A) agg(countDistinct B) — a
# 2-column pruned scan into a partial-agg-below-exchange pipeline —
# followed by a constant-width summary reduce; candidate summaries are
# one row each, unioned. No joins, no windows, nothing data-sized after
# the first aggregate.
# Reference parity: none (SURVEY.md §2.7) — profiling extension.
# ---------------------------------------------------------------------------
_FD_CANDIDATES: tuple[tuple[str, str, str], ...] = (
    ("nation", "n_nationkey", "n_regionkey"),     # key -> attr: holds
    ("part", "p_partkey", "p_brand"),             # key -> attr: holds
    ("part", "p_brand", "p_type"),                # cross attrs: fails
    ("customer", "c_nationkey", "c_mktsegment"),  # fails broadly
    ("orders", "o_orderkey", "o_custkey"),        # key -> attr: holds
    ("supplier", "s_suppkey", "s_nationkey"),     # key -> attr: holds
    ("lineitem", "l_orderkey", "l_returnflag"),   # fails per multi-line order
)


@register(
    "fd_discovery_profile",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{t}.{a}->{b}' AS fd,
               CAST(COUNT(*) AS BIGINT) AS n_lhs,
               CAST(SUM(k) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_lhs,
               CAST(MAX(k) AS BIGINT) AS max_rhs_per_lhs,
               (SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) = 0) AS holds
        FROM (SELECT {a}, CAST(COUNT(DISTINCT {b}) AS BIGINT) AS k
              FROM {t} GROUP BY 1)
        """
        for t, a, b in _FD_CANDIDATES
    ),
    tags=("profiling", "schema-discovery", "fd", "agg"),
)
def fd_discovery_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for t, a, b in _FD_CANDIDATES:
        per_lhs = (
            load_table(spark, sf_dir, t)
            .groupBy(a)
            .agg(F.countDistinct(b).cast("long").alias("k"))
        )
        viol = F.sum((F.col("k") > 1).cast("long")).cast("long")
        row = per_lhs.agg(
            F.count(F.lit(1)).cast("long").alias("n_lhs"),
            F.sum("k").cast("long").alias("n_pairs"),
            viol.alias("n_violating_lhs"),
            F.max("k").cast("long").alias("max_rhs_per_lhs"),
            (viol == 0).alias("holds"),
        ).select(
            F.lit(f"{t}.{a}->{b}").alias("fd"),
            "n_lhs",
            "n_pairs",
            "n_violating_lhs",
            "max_rhs_per_lhs",
            "holds",
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# K-ANONYMITY GENERALIZATION — the ENFORCEMENT step the audit quartet
# (k_anonymity_audit, l_diversity_audit, t_closeness_audit,
# dp_noisy_nation_counts) stops short of: walk each record up the
# quasi-identifier generalization lattice until its class reaches k >= K,
# suppressing what never does. Levels: 0 = (nation, segment) as-is,
# 1 = nation generalized to region, 2 = segment wiped (region, *),
# 3 = suppressed. A record settles at the FIRST level whose class (among
# records still unsettled) meets K — the greedy minimal-distortion
# cascade (Samarati 2001 full-domain generalization, per-level greedy).
# The report is one row per level: classes, records, smallest class —
# the distortion-vs-privacy tradeoff table a release reviewer signs.
# Scale shape: three bounded hash aggregates (class keys are vocabulary
# products, <= |nations|x|segments|) with semi/anti joins against
# broadcast-sized class lists; records never self-join and the lattice
# depth is a compile-time constant.
# ---------------------------------------------------------------------------
_KANON_GEN_K = 10


@register(
    "k_anonymity_generalize",
    oracle=f"""
        WITH c AS (
            SELECT c_custkey, c_nationkey AS nat, c_mktsegment AS seg,
                   n_regionkey AS reg
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        ),
        l0 AS (SELECT nat, seg, CAST(COUNT(*) AS BIGINT) AS n
               FROM c GROUP BY 1, 2),
        rem1 AS (SELECT c.* FROM c JOIN l0 USING (nat, seg)
                 WHERE l0.n < {_KANON_GEN_K}),
        l1 AS (SELECT reg, seg, CAST(COUNT(*) AS BIGINT) AS n
               FROM rem1 GROUP BY 1, 2),
        rem2 AS (SELECT rem1.* FROM rem1 JOIN l1 USING (reg, seg)
                 WHERE l1.n < {_KANON_GEN_K}),
        l2 AS (SELECT reg, CAST(COUNT(*) AS BIGINT) AS n
               FROM rem2 GROUP BY 1)
        SELECT 0 AS level, CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_records,
               CAST(COALESCE(MIN(n), 0) AS BIGINT) AS min_class_size
        FROM l0 WHERE n >= {_KANON_GEN_K}
        UNION ALL
        SELECT 1, CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(n), 0) AS BIGINT),
               CAST(COALESCE(MIN(n), 0) AS BIGINT)
        FROM l1 WHERE n >= {_KANON_GEN_K}
        UNION ALL
        SELECT 2, CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(n), 0) AS BIGINT),
               CAST(COALESCE(MIN(n), 0) AS BIGINT)
        FROM l2 WHERE n >= {_KANON_GEN_K}
        UNION ALL
        SELECT 3, 0,
               CAST(COALESCE(SUM(n), 0) AS BIGINT), 0
        FROM l2 WHERE n < {_KANON_GEN_K}
    """,
    tags=("privacy", "anonymization", "customer", "agg"),
)
def k_anonymity_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    c = cust.select(
        "c_custkey",
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
    ).join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("nat"),
                F.col("n_regionkey").alias("reg"),
            )
        ),
        "nat",
    )

    def level_row(classes: DataFrame, level: int) -> DataFrame:
        kept = classes.filter(F.col("n") >= _KANON_GEN_K)
        return kept.agg(
            F.lit(level).alias("level"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_records"),
            F.coalesce(F.min("n"), F.lit(0)).cast("long").alias("min_class_size"),
        )

    l0 = c.groupBy("nat", "seg").agg(F.count(F.lit(1)).cast("long").alias("n"))
    rem1 = c.join(
        F.broadcast(l0.filter(F.col("n") < _KANON_GEN_K).select("nat", "seg")),
        ["nat", "seg"],
        "left_semi",
    )
    l1 = rem1.groupBy("reg", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rem2 = rem1.join(
        F.broadcast(l1.filter(F.col("n") < _KANON_GEN_K).select("reg", "seg")),
        ["reg", "seg"],
        "left_semi",
    )
    l2 = rem2.groupBy("reg").agg(F.count(F.lit(1)).cast("long").alias("n"))
    suppressed = l2.filter(F.col("n") < _KANON_GEN_K).agg(
        F.lit(3).alias("level"),
        F.lit(0).cast("long").alias("n_classes"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_records"),
        F.lit(0).cast("long").alias("min_class_size"),
    )
    return (
        level_row(l0, 0)
        .unionByName(level_row(l1, 1))
        .unionByName(level_row(l2, 2))
        .unionByName(suppressed)
    )


# ---------------------------------------------------------------------------
# INCREMENTAL SURROGATE-KEY ASSIGNMENT — the nightly companion to
# surrogate_key_assignment's full build: yesterday's dimension already
# carries stable keys; today's load must (a) NEVER renumber an existing
# natural key and (b) extend the sequence densely above the high-water
# mark for arrivals only. Fixture: parts with p_partkey % 3 != 0 are the
# pre-keyed population (their keys rebuilt deterministically so the
# oracle can replay them); p_partkey % 3 == 0 are today's arrivals.
# The report pins both cohorts' contract — existing keys untouched
# (checksum), new keys exactly (hwm, hwm + n_new], and the union dense
# 1..N — the invariants a downstream FK build asserts before swapping
# the dimension pointer.
# Scale shape: two distributed_rank calls (range-partitioned, no global
# sort), one scalar high-water-mark broadcast, bounded two-row output.
# ---------------------------------------------------------------------------
@register(
    "surrogate_key_incremental",
    oracle="""
        WITH existing AS (
            SELECT p_partkey,
                   CAST(ROW_NUMBER() OVER (ORDER BY p_brand, p_partkey)
                        AS BIGINT) AS sk
            FROM part WHERE p_partkey % 3 <> 0
        ),
        hwm AS (SELECT CAST(COALESCE(MAX(sk), 0) AS BIGINT) AS h FROM existing),
        arrivals AS (
            SELECT p_partkey,
                   (SELECT h FROM hwm)
                   + CAST(ROW_NUMBER() OVER (ORDER BY p_brand, p_partkey)
                          AS BIGINT) AS sk
            FROM part WHERE p_partkey % 3 = 0
        ),
        unioned AS (
            SELECT 'existing' AS cohort, p_partkey, sk FROM existing
            UNION ALL
            SELECT 'new', p_partkey, sk FROM arrivals
        )
        SELECT cohort,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               MIN(sk) AS min_sk,
               MAX(sk) AS max_sk,
               CAST(SUM(sk * p_partkey) AS BIGINT) AS mapping_checksum,
               (MAX(sk) - MIN(sk) + 1 = COUNT(*)) AS dense
        FROM unioned
        GROUP BY cohort
    """,
    tags=("warehouse", "surrogate-key", "incremental", "part"),
)
def surrogate_key_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import distributed_rank

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    order = [F.col("p_brand"), F.col("p_partkey")]
    existing = distributed_rank(
        part.filter(F.col("p_partkey") % 3 != 0), order, rank_col="sk"
    ).select("p_partkey", "sk")
    hwm = existing.agg(
        F.coalesce(F.max("sk"), F.lit(0)).cast("long").alias("h")
    )
    arrivals = (
        distributed_rank(
            part.filter(F.col("p_partkey") % 3 == 0), order, rank_col="rk"
        )
        .crossJoin(F.broadcast(hwm))
        .select("p_partkey", (F.col("h") + F.col("rk")).alias("sk"))
    )
    unioned = existing.withColumn("cohort", F.lit("existing")).unionByName(
        arrivals.withColumn("cohort", F.lit("new"))
    )
    return unioned.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.min("sk").alias("min_sk"),
        F.max("sk").alias("max_sk"),
        F.sum(F.col("sk") * F.col("p_partkey")).cast("long").alias(
            "mapping_checksum"
        ),
        (F.max("sk") - F.min("sk") + 1 == F.count(F.lit(1))).alias("dense"),
    )


# ---------------------------------------------------------------------------
# DECISION-STUMP SPLIT SCORING — the inner loop of tree/GBM training
# (and of data-quality rule mining) expressed as a distributed
# aggregate: score every candidate threshold over a bucketed numeric
# feature by weighted Gini impurity of the induced left/right split,
# label = "event is a purchase". Impurity is the DEFINED integer metric
#   p_bp = (pos*10000) div n;  g_bp = 10000 - (p_bp^2 + (10000-p_bp)^2) div 10000
# (floor-composed basis points — every intermediate <= 1e8, so the
# arithmetic is overflow-free at ANY corpus size and bit-identical in
# both engines; the float Gini it approximates differs by < 1 bp).
# Scale shape: ONE data-sized pass builds the per-bucket (n, pos)
# sufficient statistic (vocabulary-bounded: value range / bucket width);
# thresholds are scored by a triangular join of that bounded table with
# itself — metadata-sized, broadcast — so adding candidate thresholds
# costs nothing at 100 TB. The winning split is flagged via a 1-row
# min broadcast, ties surface as multiple is_best rows (deterministic).
# ---------------------------------------------------------------------------
_STUMP_BUCKET_CENTS = 5000  # 50-unit feature buckets


def _gini_bp_sql(n: str, p: str) -> str:
    """Integer basis-point Gini — SQL side of the defined metric."""
    pbp = f"(({p}) * 10000 // ({n}))"
    return (
        f"CASE WHEN ({n}) = 0 THEN 0 ELSE 10000 - "
        f"({pbp} * {pbp} + (10000 - {pbp}) * (10000 - {pbp})) // 10000 END"
    )


def _gini_bp_col(n, p):
    """Spark twin of _gini_bp_sql, term for term."""
    pbp = idiv(p * 10000, F.when(n == 0, F.lit(1)).otherwise(n))
    g = F.lit(10000) - idiv(pbp * pbp + (10000 - pbp) * (10000 - pbp), 10000)
    return F.when(n == 0, F.lit(0)).otherwise(g).cast("long")


@register(
    "decision_stump_split_scores",
    oracle=f"""
        WITH b AS (
            SELECT CAST(ROUND(value * 100.0) AS BIGINT)
                       // {_STUMP_BUCKET_CENTS} AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS pos
            FROM events GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
                   CAST(SUM(pos) AS BIGINT) AS pos_tot
            FROM b
        ),
        splits AS (
            SELECT t.bucket AS threshold_bucket,
                   CAST(SUM(s.n) AS BIGINT) AS n_left,
                   CAST(SUM(s.pos) AS BIGINT) AS pos_left
            FROM b t JOIN b s ON s.bucket <= t.bucket
            GROUP BY 1
        ),
        scored AS (
            SELECT threshold_bucket, n_left,
                   (SELECT n_tot FROM tot) - n_left AS n_right,
                   (n_left * ({_gini_bp_sql('n_left', 'pos_left')})
                    + ((SELECT n_tot FROM tot) - n_left)
                      * ({_gini_bp_sql('(SELECT n_tot FROM tot) - n_left',
                                       '(SELECT pos_tot FROM tot) - pos_left')})
                   ) // (SELECT n_tot FROM tot) AS split_gini_bp
            FROM splits
        )
        SELECT threshold_bucket, n_left, n_right,
               CAST(split_gini_bp AS BIGINT) AS split_gini_bp,
               (split_gini_bp = (SELECT MIN(split_gini_bp) FROM scored))
                   AS is_best
        FROM scored
    """,
    tags=("ml", "tree", "split-scoring", "events", "agg"),
)
def decision_stump_split_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    b = events.groupBy(
        idiv(cents, _STUMP_BUCKET_CENTS).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("pos"),
    ).localCheckpoint(eager=False)  # bounded stat reused by 3 branches
    tot = b.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("pos").cast("long").alias("pos_tot"),
    )
    t = b.select(F.col("bucket").alias("threshold_bucket"))
    splits = (
        t.join(F.broadcast(b), F.col("bucket") <= F.col("threshold_bucket"))
        .groupBy("threshold_bucket")
        .agg(
            F.sum("n").cast("long").alias("n_left"),
            F.sum("pos").cast("long").alias("pos_left"),
        )
        .crossJoin(F.broadcast(tot))
    )
    n_l, p_l = F.col("n_left"), F.col("pos_left")
    n_r = F.col("n_tot") - n_l
    p_r = F.col("pos_tot") - p_l
    scored = splits.select(
        "threshold_bucket",
        "n_left",
        n_r.alias("n_right"),
        idiv(
            n_l * _gini_bp_col(n_l, p_l) + n_r * _gini_bp_col(n_r, p_r),
            F.col("n_tot"),
        ).alias("split_gini_bp"),
    ).localCheckpoint(eager=False)
    best = scored.agg(F.min("split_gini_bp").alias("best_bp"))
    return scored.crossJoin(F.broadcast(best)).select(
        "threshold_bucket",
        "n_left",
        "n_right",
        "split_gini_bp",
        (F.col("split_gini_bp") == F.col("best_bp")).alias("is_best"),
    )


# ---------------------------------------------------------------------------
# SUBJECT ACCESS EXPORT — the GDPR Article-15 counterpart to
# gdpr_purge_manifest's Article-17: for every data subject, assemble the
# canonical bundle of their records and fingerprint it. The fingerprint
# is md5 over a CANONICALIZED payload (orderkeys sorted ascending,
# comma-joined) — canonical-form-then-hash is what makes a distributed
# export auditable: any two runs, any engine, any partitioning produce
# the same per-subject digest, so a regulator-facing export can be
# re-verified without re-shipping the data.
# Scale shape: one subject-keyed shuffle for the collect aggregate
# (payload lists are per-subject bounded), no window, no sort pass; the
# digest is computed inside the aggregate projection. Subjects with no
# records still export (left join), with the empty-payload digest.
# ---------------------------------------------------------------------------
@register(
    "subject_access_export",
    oracle="""
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(COALESCE(SUM(o.o_orderkey), 0) AS BIGINT) AS key_checksum,
               -- array_to_string([]) is NULL in DuckDB: coalesce to the
               -- empty payload so no-record subjects hash like Spark's
               md5(COALESCE(array_to_string(
                   list_sort(list(o.o_orderkey)
                             FILTER (WHERE o.o_orderkey IS NOT NULL)), ','),
                   '')) AS payload_md5
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1
    """,
    tags=("privacy", "gdpr", "export", "customer", "join"),
)
def subject_access_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey"
    )
    joined = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left"
    )
    payload = F.array_join(
        F.transform(
            F.sort_array(F.collect_list("o_orderkey")),
            lambda k: k.cast("string"),
        ),
        ",",
    )
    return joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").cast("long").alias("n_orders"),
        F.coalesce(F.sum("o_orderkey"), F.lit(0)).cast("long").alias(
            "key_checksum"
        ),
        F.md5(payload).alias("payload_md5"),
    )



# ---------------------------------------------------------------------------
# BRADLEY-TERRY PREFERENCE STRENGTHS — the paired-comparison model behind
# RLHF reward baselines and match-making (Bradley & Terry 1952), fit with
# two rounds of the Zermelo/MM update. Comparisons are derived from data
# so the oracle can replay them: within each user, type a "beats" type b
# when the user spent strictly more exact cents on a than on b (ties are
# no-games). The 100 TB shape mirrors linkage_em_parameters: ONE
# data-sized pass builds the per-user-type cents (user-keyed), one
# bounded self-join per user emits at most C(|types|,2) comparisons, and
# the wins matrix (<= |types|^2 rows) is the ONLY thing iterated — each
# MM step joins broadcast params against broadcast stats, costing
# nothing at scale. Every cross-row reduction integerizes first
# (ROUND(x*1e6) BIGINT), so float summation order can never split the
# engines; the final strengths are exact-integer parts-per-million.
# MM update: p_i <- W_i / sum_j n_ij/(p_i+p_j)  (scale-invariant, so the
# uniform init is p=1 and normalization happens once, at the end).
# ---------------------------------------------------------------------------
_BT_ITERS = 2


def _bt_oracle_sql() -> str:
    """CTE chain for _BT_ITERS MM iterations — identical per-iteration
    text so both engines run the same arithmetic in the same order."""
    base = """per_ut AS (
            SELECT user_id, event_type AS t,
                   CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1, 2
        ), comp AS (
            SELECT CASE WHEN a.cents > b.cents THEN a.t ELSE b.t END AS wi,
                   CASE WHEN a.cents > b.cents THEN b.t ELSE a.t END AS lo
            FROM per_ut a JOIN per_ut b
              ON a.user_id = b.user_id AND a.t < b.t
            WHERE a.cents <> b.cents
        ), wins AS (
            SELECT wi, lo, CAST(COUNT(*) AS BIGINT) AS w
            FROM comp GROUP BY 1, 2
        ), games AS (
            SELECT COALESCE(f.wi, r.lo) AS i, COALESCE(f.lo, r.wi) AS j,
                   COALESCE(f.w, 0) + COALESCE(r.w, 0) AS n
            FROM wins f FULL OUTER JOIN wins r
              ON f.wi = r.lo AND f.lo = r.wi
        ), totw AS (
            SELECT wi AS t, CAST(SUM(w) AS BIGINT) AS tw FROM wins GROUP BY 1
        ), players AS (
            SELECT DISTINCT i AS t FROM games
        ), p0 AS (
            SELECT t, CAST(1.0 AS DOUBLE) AS p FROM players
        )"""
    ctes = [base]
    prev = "p0"
    for k in range(1, _BT_ITERS + 1):
        ctes.append(f"""s{k} AS (
            SELECT g.i AS t,
                   CAST(SUM(CAST(ROUND(1000000.0 * g.n / (pi.p + pj.p))
                                 AS BIGINT)) AS BIGINT) AS s
            FROM games g
            JOIN {prev} pi ON pi.t = g.i
            JOIN {prev} pj ON pj.t = g.j
            GROUP BY 1
        ), p{k} AS (
            SELECT s{k}.t,
                   COALESCE(tw.tw, 0) * 1000000.0 / s{k}.s AS p
            FROM s{k} LEFT JOIN totw tw ON tw.t = s{k}.t
        )""")
        prev = f"p{k}"
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body},
        q AS (
            SELECT t, CAST(ROUND(p * 1000000.0) AS BIGINT) AS qmicro
            FROM {prev}
        )
        SELECT q.t AS event_type,
               COALESCE(tw.tw, 0) AS n_wins,
               (SELECT CAST(SUM(n) AS BIGINT) // 2 FROM games) AS n_games,
               (q.qmicro * 1000000) // (SELECT CAST(SUM(qmicro) AS BIGINT)
                                        FROM q) AS strength_ppm
        FROM q LEFT JOIN totw tw ON tw.t = q.t
    """


@register(
    "bradley_terry_strengths",
    oracle=_bt_oracle_sql(),
    tags=("ml", "ranking", "preference", "iterative", "events"),
)
def bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    per_ut = events.groupBy("user_id", F.col("event_type").alias("t")).agg(
        F.sum(cents).cast("long").alias("cents")
    )
    a = per_ut.alias("a")
    b = per_ut.alias("b")
    comp = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.t") < F.col("b.t")),
    ).filter(F.col("a.cents") != F.col("b.cents")).select(
        F.when(F.col("a.cents") > F.col("b.cents"), F.col("a.t"))
        .otherwise(F.col("b.t"))
        .alias("wi"),
        F.when(F.col("a.cents") > F.col("b.cents"), F.col("b.t"))
        .otherwise(F.col("a.t"))
        .alias("lo"),
    )
    wins = (
        comp.groupBy("wi", "lo")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        # the bounded sufficient statistic every MM step re-reads
        .localCheckpoint()
    )
    f, r = wins.alias("f"), wins.alias("r")
    games = f.join(
        r,
        (F.col("f.wi") == F.col("r.lo")) & (F.col("f.lo") == F.col("r.wi")),
        "full_outer",
    ).select(
        F.coalesce(F.col("f.wi"), F.col("r.lo")).alias("i"),
        F.coalesce(F.col("f.lo"), F.col("r.wi")).alias("j"),
        (
            F.coalesce(F.col("f.w"), F.lit(0))
            + F.coalesce(F.col("r.w"), F.lit(0))
        ).cast("long").alias("n"),
    ).localCheckpoint()
    totw = wins.groupBy(F.col("wi").alias("t")).agg(
        F.sum("w").cast("long").alias("tw")
    )
    params = games.select(F.col("i").alias("t")).distinct().select(
        "t", F.lit(1.0).alias("p")
    )
    for _ in range(_BT_ITERS):
        pi = params.select(F.col("t").alias("i"), F.col("p").alias("p_i"))
        pj = params.select(F.col("t").alias("j"), F.col("p").alias("p_j"))
        s = (
            games.join(F.broadcast(pi), "i")
            .join(F.broadcast(pj), "j")
            .groupBy(F.col("i").alias("t"))
            .agg(
                F.sum(
                    F.round(
                        1000000.0 * F.col("n") / (F.col("p_i") + F.col("p_j")),
                        0,
                    ).cast("long")
                )
                .cast("long")
                .alias("s")
            )
        )
        params = s.join(F.broadcast(totw), "t", "left").select(
            "t",
            (
                F.coalesce(F.col("tw"), F.lit(0)) * 1000000.0 / F.col("s")
            ).alias("p"),
        )
    q = params.select(
        "t", F.round(F.col("p") * 1000000.0, 0).cast("long").alias("qmicro")
    ).localCheckpoint()
    qsum = q.agg(F.sum("qmicro").cast("long").alias("qsum"))
    ngames = games.agg(
        idiv(F.sum("n").cast("long"), 2).alias("n_games")
    )
    return (
        q.join(F.broadcast(totw), "t", "left")
        .crossJoin(F.broadcast(qsum))
        .crossJoin(F.broadcast(ngames))
        .select(
            F.col("t").alias("event_type"),
            F.coalesce(F.col("tw"), F.lit(0)).cast("long").alias("n_wins"),
            F.col("n_games"),
            idiv(F.col("qmicro") * 1000000, F.col("qsum")).alias(
                "strength_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# GEO CELL CO-LOCATION — spatial binning without a GIS extension: device
# positions quantize onto a 64x64 grid whose cells are MORTON-coded
# (z-order bit interleave, the same curve zorder_layout_stats lays files
# out with), so a cell id is a spatial prefix code — parent_cell = z>>2
# is the enclosing quadtree cell, and range scans over z are spatially
# contiguous (how geohash/S2/H3 indexes work, minus the spherical
# geometry). Positions derive from per-user integer LCGs so the oracle
# replays them exactly (production reads real device fixes; the binning,
# co-location aggregate, and hierarchy are unchanged). The report lists
# multi-occupant cells with exact pair counts — the co-location join's
# per-cell cost model (n*(n-1)/2 is the blowup a pair-emitting join
# would pay; counting first is the scale-safe order of operations).
# Scale shape: one distinct-user pass, narrow per-row integer
# expressions for the cell code, one cell-keyed partial aggregate; no
# joins, no windows.
# ---------------------------------------------------------------------------
_GEO_BITS = 6  # 64x64 grid


def _geo_morton_sql(cx: str, cy: str) -> str:
    return " + ".join(
        f"((({cx}) >> {b}) & 1) * {4 ** b} + ((({cy}) >> {b}) & 1) * {2 * 4 ** b}"
        for b in range(_GEO_BITS)
    )


@register(
    "geo_cell_colocation",
    oracle=f"""
        WITH users AS (SELECT DISTINCT user_id FROM events),
        pos AS (
            SELECT user_id,
                   ((user_id * 1103515245 + 12345) % 2147483648) % 64 AS cx,
                   ((user_id * 69069 + 1) % 2147483648) % 64 AS cy
            FROM users
        ),
        coded AS (
            SELECT user_id, {_geo_morton_sql('cx', 'cy')} AS cell
            FROM pos
        )
        SELECT CAST(cell AS BIGINT) AS cell,
               CAST(cell AS BIGINT) >> 2 AS parent_cell,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS n_pairs,
               CAST(MIN(user_id) AS BIGINT) AS anchor_user
        FROM coded
        GROUP BY cell
        HAVING COUNT(*) >= 2
    """,
    tags=("geo", "spatial", "zorder", "events", "agg"),
)
def geo_cell_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    u = F.col("user_id").cast("long")
    cx = ((u * 1103515245 + 12345) % F.lit(2147483648)) % 64
    cy = ((u * 69069 + 1) % F.lit(2147483648)) % 64
    # compute the quantized coords once behind an explode barrier (the
    # same CollapseProject guard the zorder query uses), then interleave
    staged = users.select(
        "user_id",
        F.explode(
            F.array(F.struct(cx.alias("cx"), cy.alias("cy")))
        ).alias("n"),
    )
    z = sum(
        (
            (F.col("n.cx").cast("long") / F.lit(2**b)).cast("long") % 2
        ) * (4**b)
        + (
            (F.col("n.cy").cast("long") / F.lit(2**b)).cast("long") % 2
        ) * (2 * 4**b)
        for b in range(_GEO_BITS)
    )
    coded = staged.select("user_id", z.cast("long").alias("cell"))
    n = F.count(F.lit(1)).cast("long")
    return (
        coded.groupBy("cell")
        .agg(
            n.alias("n_users"),
            idiv(n * (n - 1), 2).alias("n_pairs"),
            F.min("user_id").cast("long").alias("anchor_user"),
        )
        .filter(F.col("n_users") >= 2)
        .select(
            "cell",
            idiv(F.col("cell"), 4).alias("parent_cell"),
            "n_users",
            "n_pairs",
            "anchor_user",
        )
    )


# ---------------------------------------------------------------------------
# SNAPSHOT RETENTION EXPIRY PLAN — the expire_snapshots policy engine
# (Iceberg) / VACUUM retention (Delta) as a declarative plan: from the
# table's snapshot series (derived here as one snapshot per distinct
# order date, so the oracle replays it), KEEP the most recent 30
# snapshots plus the first snapshot of each month in the trailing
# 12-month compliance window; everything else is expirable. Precedence
# is recent > monthly (a snapshot is counted once). Month arithmetic
# stays in the integer index year*12+month — no engine-specific
# INTERVAL semantics in the hash path.
# Scale shape: the snapshot series is bounded by TIME SPAN, not data
# volume — one distinct pass, a bounded TakeOrdered head for the
# recency cutoff (never a global rank window), broadcast scalar joins,
# and a month-keyed rollup.
# ---------------------------------------------------------------------------
_SNAP_KEEP_RECENT = 30
_SNAP_KEEP_MONTHS = 12


@register(
    "snapshot_retention_expiry_plan",
    oracle=f"""
        WITH snaps AS (
            SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
        ),
        cut AS (
            SELECT MIN(d) AS cut_d FROM (
                SELECT d FROM snaps ORDER BY d DESC LIMIT {_SNAP_KEEP_RECENT}
            )
        ),
        mx AS (
            SELECT MAX(YEAR(d) * 12 + MONTH(d)) AS max_m FROM snaps
        ),
        monthly AS (
            SELECT YEAR(d) * 12 + MONTH(d) AS m, MIN(d) AS first_d
            FROM snaps GROUP BY 1
        ),
        flagged AS (
            SELECT s.d,
                   YEAR(s.d) * 12 + MONTH(s.d) AS m,
                   CASE WHEN s.d >= (SELECT cut_d FROM cut)
                        THEN 1 ELSE 0 END AS keep_recent,
                   CASE WHEN s.d < (SELECT cut_d FROM cut)
                         AND s.d = mo.first_d
                         AND mo.m > (SELECT max_m FROM mx)
                                    - {_SNAP_KEEP_MONTHS}
                        THEN 1 ELSE 0 END AS keep_monthly
            FROM snaps s
            JOIN monthly mo ON mo.m = YEAR(s.d) * 12 + MONTH(s.d)
        )
        SELECT CAST(m AS BIGINT) AS month_idx,
               CAST(COUNT(*) AS BIGINT) AS n_snapshots,
               CAST(SUM(keep_recent) AS BIGINT) AS n_keep_recent,
               CAST(SUM(keep_monthly) AS BIGINT) AS n_keep_monthly,
               CAST(SUM(1 - keep_recent - keep_monthly) AS BIGINT)
                   AS n_expire
        FROM flagged
        GROUP BY m
    """,
    tags=("storage", "maintenance", "retention", "orders"),
)
def snapshot_retention_expiry_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    snaps = (
        orders.select(F.col("o_orderdate").cast("date").alias("d"))
        .distinct()
        .localCheckpoint(eager=False)  # cutoff, monthly, and flags share it
    )
    m_of = F.year("d") * 12 + F.month("d")
    cut = (
        snaps.orderBy(F.col("d").desc())
        .limit(_SNAP_KEEP_RECENT)
        .agg(F.min("d").alias("cut_d"))
    )
    mx = snaps.agg(F.max(m_of).alias("max_m"))
    monthly = snaps.groupBy(m_of.alias("m")).agg(F.min("d").alias("first_d"))
    flagged = (
        snaps.withColumn("m", m_of)
        .join(F.broadcast(monthly), "m")
        .crossJoin(F.broadcast(cut))
        .crossJoin(F.broadcast(mx))
        .select(
            "m",
            (F.col("d") >= F.col("cut_d")).cast("long").alias("keep_recent"),
            (
                (F.col("d") < F.col("cut_d"))
                & (F.col("d") == F.col("first_d"))
                & (F.col("m") > F.col("max_m") - _SNAP_KEEP_MONTHS)
            )
            .cast("long")
            .alias("keep_monthly"),
        )
    )
    return flagged.groupBy(F.col("m").cast("long").alias("month_idx")).agg(
        F.count(F.lit(1)).cast("long").alias("n_snapshots"),
        F.sum("keep_recent").cast("long").alias("n_keep_recent"),
        F.sum("keep_monthly").cast("long").alias("n_keep_monthly"),
        F.sum(1 - F.col("keep_recent") - F.col("keep_monthly"))
        .cast("long")
        .alias("n_expire"),
    )


# ---------------------------------------------------------------------------
# SCORE CALIBRATION REPORT — the reliability-diagram + ECE computation
# every deployed classifier needs (Guo et al. 2017), on an exactly
# replayable score: each event's predicted purchase probability is its
# user's own purchase share in basis points (the per-user frequency
# model, resubstitution-scored). Events bin by score decile; each bin
# reports mean predicted vs observed rate and the calibration gap, and
# every row carries the expected calibration error
#   ECE_bp = sum_b n_b * |gap_b| div n_total
# — all exact integer arithmetic (shares in bp via div, gaps on bp).
# Scale shape: one user-keyed aggregate for the score, one user-keyed
# join back (same key — exchange reuse candidate), one bounded 11-bin
# rollup, one broadcast scalar for the ECE. No windows.
# ---------------------------------------------------------------------------
@register(
    "score_calibration_report",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   (CAST(SUM(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) AS BIGINT) * 10000)
                       // CAST(COUNT(*) AS BIGINT) AS score_bp
            FROM events GROUP BY 1
        ),
        scored AS (
            SELECT p.score_bp,
                   CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END AS y,
                   p.score_bp // 1000 AS bin
            FROM events e JOIN per_user p ON p.user_id = e.user_id
        ),
        bins AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   (CAST(SUM(score_bp) AS BIGINT))
                       // CAST(COUNT(*) AS BIGINT) AS mean_score_bp,
                   (CAST(SUM(y) AS BIGINT) * 10000)
                       // CAST(COUNT(*) AS BIGINT) AS observed_bp
            FROM scored GROUP BY 1
        ),
        ece AS (
            SELECT CAST(SUM(n_events * ABS(mean_score_bp - observed_bp))
                        AS BIGINT)
                   // CAST(SUM(n_events) AS BIGINT) AS ece_bp
            FROM bins
        )
        SELECT b.bin AS score_decile, b.n_events, b.mean_score_bp,
               b.observed_bp,
               b.observed_bp - b.mean_score_bp AS gap_bp,
               e.ece_bp
        FROM bins b CROSS JOIN ece e
    """,
    tags=("ml", "calibration", "events", "agg"),
)
def score_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    y = (F.col("event_type") == "purchase").cast("long")
    per_user = events.groupBy("user_id").agg(
        idiv(F.sum(y).cast("long") * 10000, F.count(F.lit(1))).alias(
            "score_bp"
        )
    )
    scored = events.join(per_user, "user_id").select(
        "score_bp",
        y.alias("y"),
        idiv("score_bp", 1000).alias("bin"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        idiv(F.sum("score_bp").cast("long"), F.count(F.lit(1))).alias(
            "mean_score_bp"
        ),
        idiv(F.sum("y").cast("long") * 10000, F.count(F.lit(1))).alias(
            "observed_bp"
        ),
    ).localCheckpoint(eager=False)  # bin rows + the ECE scalar share it
    ece = bins.agg(
        idiv(
            F.sum(
                F.col("n_events")
                * F.abs(F.col("mean_score_bp") - F.col("observed_bp"))
            ).cast("long"),
            F.sum("n_events").cast("long"),
        ).alias("ece_bp")
    )
    return bins.crossJoin(F.broadcast(ece)).select(
        F.col("bin").alias("score_decile"),
        "n_events",
        "mean_score_bp",
        "observed_bp",
        (F.col("observed_bp") - F.col("mean_score_bp")).alias("gap_bp"),
        "ece_bp",
    )


# ---------------------------------------------------------------------------
# BRIER SCORE DECOMPOSITION — Murphy's (1973) reliability / resolution /
# uncertainty split of the mean squared probability error, on the same
# exactly-replayable per-user frequency score as score_calibration_report
# (which reports the reliability DIAGRAM; this reports the scalar
# decomposition). Key identity exploited for the streaming twin: every
# event of a user carries the user's own score, so the whole scored set
# collapses to per-user (n_events, n_purchases) — the Brier sum for a
# user is k·(10000-s)² + (n-k)·s² with s the user's score in bp. All
# integer arithmetic (bp and bp² units, floor division at the end);
# sums of bp² terms stay exact int64 through ~9e10 events (~sf 1000),
# past which ANSI raises loudly on both engines. Scale shape: one
# user-keyed aggregate, an 11-row bin rollup, broadcast scalars.
# The decomposition residual (binning + floor-rounding error vs the
# exact Brier sum) is reported rather than hidden.
# ---------------------------------------------------------------------------
def brier_assemble(per_user: DataFrame) -> DataFrame:
    """Brier decomposition report from per-user (n, k) rows — shared
    verbatim by the batch query and its streaming twin."""
    scored = per_user.select(
        idiv(F.col("k") * 10000, F.col("n")).alias("s"),
        "n",
        "k",
    ).localCheckpoint(eager=False)  # bins + global scalars share it
    bins = (
        scored.groupBy(idiv(F.col("s"), 1000).alias("bin"))
        .agg(
            F.sum("n").cast("long").alias("n_b"),
            F.sum(F.col("n") * F.col("s")).cast("long").alias("sum_s"),
            F.sum("k").cast("long").alias("sum_y"),
            F.sum(
                F.col("k") * (F.lit(10000) - F.col("s"))
                * (F.lit(10000) - F.col("s"))
                + (F.col("n") - F.col("k")) * F.col("s") * F.col("s")
            )
            .cast("long")
            .alias("brier_sum"),
        )
        .select(
            "bin",
            "n_b",
            idiv("sum_s", F.col("n_b")).alias("p_bar"),
            idiv(F.col("sum_y") * 10000, F.col("n_b")).alias("o_bar"),
            "sum_y",
            "brier_sum",
        )
        .localCheckpoint(eager=False)
    )
    g = bins.agg(
        F.sum("n_b").cast("long").alias("_n"),
        F.sum("sum_y").cast("long").alias("_y"),
        F.sum("brier_sum").cast("long").alias("_bs"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum(
            F.col("n_b")
            * (F.col("p_bar") - F.col("o_bar"))
            * (F.col("p_bar") - F.col("o_bar"))
        )
        .cast("long")
        .alias("_rel"),
        F.sum(F.col("n_b") * F.col("o_bar")).cast("long").alias("_ow"),
        F.sum(F.col("n_b") * F.col("o_bar") * F.col("o_bar"))
        .cast("long")
        .alias("_o2w"),
    )
    o = idiv(F.col("_y") * 10000, F.col("_n"))  # global base rate, bp
    # resolution = Σ n_b (ō_b - ō)² / n, expanded so ō stays the single
    # floor-divided integer on both engines
    res_num = (
        F.col("_o2w") - F.lit(2) * o * F.col("_ow") + F.col("_n") * o * o
    )
    return g.select(
        F.col("_n").alias("n_events"),
        "n_bins",
        idiv("_bs", F.col("_n")).alias("brier_bp2"),
        idiv("_rel", F.col("_n")).alias("reliability_bp2"),
        idiv(res_num, F.col("_n")).alias("resolution_bp2"),
        idiv(o * (F.lit(10000) - o), 10000).alias("uncertainty_bp2"),
        (
            idiv("_bs", F.col("_n"))
            - (
                idiv("_rel", F.col("_n"))
                - idiv(res_num, F.col("_n"))
                + idiv(o * (F.lit(10000) - o), 10000)
            )
        ).alias("residual_bp2"),
    )


def _brier_oracle(per_user_sql: str) -> str:
    """Decomposition SQL from a per-user (n, k) CTE body — shared by the
    batch and streaming oracles."""
    return f"""
        WITH per_user AS ({per_user_sql}),
        scored AS (
            SELECT CAST(k * 10000 AS BIGINT) // n AS s, n, k
            FROM per_user
        ),
        bins AS (
            SELECT s // 1000 AS bin,
                   CAST(SUM(n) AS BIGINT) AS n_b,
                   CAST(SUM(n * s) AS BIGINT) // CAST(SUM(n) AS BIGINT)
                       AS p_bar,
                   CAST(SUM(k) AS BIGINT) * 10000
                       // CAST(SUM(n) AS BIGINT) AS o_bar,
                   CAST(SUM(k) AS BIGINT) AS sum_y,
                   CAST(SUM(k * (10000 - s) * (10000 - s)
                            + (n - k) * s * s) AS BIGINT) AS brier_sum
            FROM scored GROUP BY 1
        ),
        g AS (
            SELECT CAST(SUM(n_b) AS BIGINT) AS n,
                   CAST(SUM(sum_y) AS BIGINT) AS y,
                   CAST(SUM(brier_sum) AS BIGINT) AS bs,
                   CAST(COUNT(*) AS BIGINT) AS n_bins,
                   CAST(SUM(n_b * (p_bar - o_bar) * (p_bar - o_bar))
                        AS BIGINT) AS rel_sum,
                   CAST(SUM(n_b * o_bar) AS BIGINT) AS o_weighted,
                   CAST(SUM(n_b * o_bar * o_bar) AS BIGINT) AS o2_weighted
            FROM bins
        )
        SELECT n AS n_events, n_bins,
               bs // n AS brier_bp2,
               rel_sum // n AS reliability_bp2,
               (o2_weighted - 2 * (y * 10000 // n) * o_weighted
                + n * (y * 10000 // n) * (y * 10000 // n)) // n
                   AS resolution_bp2,
               (y * 10000 // n) * (10000 - (y * 10000 // n)) // 10000
                   AS uncertainty_bp2,
               bs // n - (rel_sum // n
                          - (o2_weighted - 2 * (y * 10000 // n) * o_weighted
                             + n * (y * 10000 // n) * (y * 10000 // n)) // n
                          + (y * 10000 // n)
                            * (10000 - (y * 10000 // n)) // 10000)
                   AS residual_bp2
        FROM g
    """


# the batch per-user CTE: one events scan, exactly score_calibration's
_BRIER_PER_USER_SQL = """
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS k
            FROM events GROUP BY user_id
"""


@register(
    "brier_score_decomposition",
    oracle=_brier_oracle(_BRIER_PER_USER_SQL),
    tags=("ml", "calibration", "brier", "events", "agg"),
)
def brier_score_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("k"),
    )
    return brier_assemble(per_user)


# ---------------------------------------------------------------------------
# MAX-MIN FAIR ALLOCATION — the water-filling allocation every
# multi-tenant scheduler and rate-limiter runs (progressive filling /
# bottleneck fairness): given per-user demand (event counts) and a
# capacity of half the total demand, find the water level L where
# sum(min(demand, L)) fills capacity; users below the level are fully
# served, the rest cap at L. The level is found WITHOUT iteration using
# the sorted-prefix identity: in ascending demand order, user k is
# fully servable iff prefix(k-1) + d_k * (n-k+1) <= C (monotone in k),
# and L = (C - prefix(k*-1)) div (n-k*+1) at the first violation.
# Scale shape: one user-keyed aggregate, one distributed_rank + one
# distributed_prefix_sum along the same total order (range-partitioned,
# no global sort window), a 1-row broadcast for the level, and a
# constant-width summary. All integers.
# ---------------------------------------------------------------------------
@register(
    "maxmin_fair_allocation",
    oracle="""
        WITH d AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS dem
            FROM events GROUP BY 1
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(dem) AS BIGINT) AS tot_d,
                   CAST(SUM(dem) AS BIGINT) // 2 AS cap
            FROM d
        ),
        r AS (
            SELECT user_id, dem,
                   CAST(ROW_NUMBER() OVER (ORDER BY dem, user_id) AS BIGINT)
                       AS rk,
                   CAST(SUM(dem) OVER (ORDER BY dem, user_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS running
            FROM d
        ),
        f AS (
            SELECT r.*,
                   (running - dem) + dem * ((SELECT n FROM tot) - rk + 1)
                       <= (SELECT cap FROM tot) AS full_served
            FROM r
        ),
        lam AS (
            SELECT ((SELECT cap FROM tot) - (running - dem))
                       // ((SELECT n FROM tot) - rk + 1) AS lvl
            FROM f
            WHERE rk = (SELECT MIN(rk) FROM f WHERE NOT full_served)
        )
        SELECT (SELECT n FROM tot) AS n_users,
               (SELECT tot_d FROM tot) AS total_demand,
               (SELECT cap FROM tot) AS capacity,
               (SELECT lvl FROM lam) AS water_level,
               CAST(SUM(CASE WHEN full_served THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_fully_served,
               CAST(SUM(CASE WHEN full_served THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_capped,
               CAST(SUM(LEAST(dem, (SELECT lvl FROM lam))) AS BIGINT)
                   AS allocated_total,
               (SELECT cap FROM tot)
                   - CAST(SUM(LEAST(dem, (SELECT lvl FROM lam))) AS BIGINT)
                   AS unused_capacity
        FROM f
    """,
    tags=("scheduling", "fairness", "events", "distributed-primitive"),
)
def maxmin_fair_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_prefix_sum,
        distributed_rank,
    )

    events = load_table(spark, sf_dir, "events")
    d = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("dem")
    )
    order = [F.col("dem"), F.col("user_id")]
    ranked = distributed_rank(d, order, rank_col="rk")
    pre = distributed_prefix_sum(
        ranked, order, "dem", out_col="running"
    ).localCheckpoint(eager=False)  # level row + summary both read it
    tot = pre.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dem").cast("long").alias("tot_d"),
        idiv(F.sum("dem").cast("long"), 2).alias("cap"),
    )
    f = pre.crossJoin(F.broadcast(tot)).withColumn(
        "full_served",
        (F.col("running") - F.col("dem"))
        + F.col("dem") * (F.col("n") - F.col("rk") + 1)
        <= F.col("cap"),
    )
    lam = (
        f.filter(~F.col("full_served"))
        .agg(
            F.min(
                F.struct(
                    F.col("rk").alias("rk"),
                    (F.col("running") - F.col("dem")).alias("pb"),
                    F.col("n").alias("n"),
                    F.col("cap").alias("cap"),
                )
            ).alias("m")
        )
        .select(
            idiv(
                F.col("m.cap") - F.col("m.pb"),
                F.col("m.n") - F.col("m.rk") + 1,
            ).alias("lvl")
        )
    )
    return (
        f.crossJoin(F.broadcast(lam))
        .groupBy("n", "tot_d", "cap", "lvl")
        .agg(
            F.sum(F.col("full_served").cast("long"))
            .cast("long")
            .alias("n_fully_served"),
            F.sum((~F.col("full_served")).cast("long"))
            .cast("long")
            .alias("n_capped"),
            F.sum(F.least(F.col("dem"), F.col("lvl")))
            .cast("long")
            .alias("allocated_total"),
        )
        .select(
            F.col("n").alias("n_users"),
            F.col("tot_d").alias("total_demand"),
            F.col("cap").alias("capacity"),
            F.col("lvl").alias("water_level"),
            "n_fully_served",
            "n_capped",
            "allocated_total",
            (F.col("cap") - F.col("allocated_total")).alias("unused_capacity"),
        )
    )


# ---------------------------------------------------------------------------
# DATA FRESHNESS SLA — the per-feed staleness check an ingestion
# dashboard alarms on: each event type is a feed; its freshness lag is
# the gap between its newest record and the newest record anywhere
# (the "now" a batch audit can actually observe). Feeds lagging more
# than the SLA threshold are flagged. NTZ-safe: lags come from
# timestampdiff on the raw values; timestamps surface as formatted
# strings so both engines hash the same type.
# Scale shape: two partial-agg passes (per-feed max, global max via a
# 1-row broadcast) — the canonical monitoring query at any volume.
# ---------------------------------------------------------------------------
_FRESH_SLA_S = 3600


@register(
    "data_freshness_sla",
    oracle=f"""
        WITH per_feed AS (
            SELECT event_type, MAX(ts) AS last_ts,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1
        ),
        now_mark AS (SELECT MAX(ts) AS now_ts FROM events)
        SELECT event_type,
               strftime(last_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
               n_events,
               -- exact micros then div: date_diff('second') counts
               -- boundary CROSSINGS, Spark counts elapsed seconds
               CAST(date_diff('microsecond', last_ts,
                              (SELECT now_ts FROM now_mark)) AS BIGINT)
                   // 1000000 AS lag_s,
               (CAST(date_diff('microsecond', last_ts,
                               (SELECT now_ts FROM now_mark)) AS BIGINT)
                   // 1000000 > {_FRESH_SLA_S}) AS sla_breach
        FROM per_feed
    """,
    tags=("monitoring", "freshness", "sla", "events"),
)
def data_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_feed = events.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    now_mark = events.agg(F.max("ts").alias("now_ts"))
    micros = F.expr("timestampdiff(MICROSECOND, last_ts, now_ts)").cast(
        "long"
    )
    lag = idiv(micros, 1000000)
    return per_feed.crossJoin(F.broadcast(now_mark)).select(
        "event_type",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_ts"
        ),
        "n_events",
        lag.alias("lag_s"),
        (lag > _FRESH_SLA_S).alias("sla_breach"),
    )


# ---------------------------------------------------------------------------
# LASPEYRES PRICE INDEX — the fixed-basket inflation measure (what CPI
# publishes) over the order book: per part and year, the average unit
# price in exact micro-cents ((sum extended cents * 1e4) div qty — the
# DEFINED per-part price, one floor, both engines); the index for year t
# is then basket-weighted with BASE-YEAR quantities,
#   I_t(bp) = (sum_p pbar_t(p)*q0(p)) * 10000 div (sum_p pbar_0(p)*q0(p)),
# restricted to parts traded in BOTH years (the matched basket — how
# real price indexes handle entry/exit). Base year = first year in the
# data. Quantities are exact integers (l_quantity is integral in the
# data; ROUND guards repr noise).
# Scale shape: one (part, year)-keyed aggregate over the fact table,
# a part-keyed join against the base-year slice of that SAME aggregate
# (self-join on the small aggregated table, not the fact), and a
# per-year bounded rollup. No windows.
# ---------------------------------------------------------------------------
@register(
    "price_index_laspeyres",
    oracle="""
        WITH per_py AS (
            SELECT l_partkey AS p, YEAR(l_shipdate) AS y,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT))
                        AS BIGINT) AS cents,
                   CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                       AS qty
            FROM lineitem GROUP BY 1, 2
        ),
        base AS (
            SELECT p, cents, qty,
                   (cents * 10000) // qty AS pbar0
            FROM per_py WHERE y = (SELECT MIN(y) FROM per_py)
        )
        -- sums pre-scale by 1e6 before the bp division so the
        -- numerator*10000 stays inside int64 (exact through ~SF10;
        -- beyond, widen the micro unit) — one more DEFINED floor shared
        -- by both engines
        SELECT CAST(t.y AS BIGINT) AS year,
               CAST(COUNT(*) AS BIGINT) AS n_matched_parts,
               ((CAST(SUM(((t.cents * 10000) // t.qty) * b.qty) AS BIGINT)
                 // 1000000) * 10000)
                   // GREATEST(CAST(SUM(b.pbar0 * b.qty) AS BIGINT)
                               // 1000000, 1) AS index_bp
        FROM per_py t JOIN base b ON b.p = t.p
        GROUP BY t.y
    """,
    tags=("analytics", "economics", "lineitem", "agg", "join"),
)
def price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_py = (
        li.groupBy(
            F.col("l_partkey").alias("p"),
            F.year("l_shipdate").alias("y"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100.0, 0).cast("long"))
            .cast("long")
            .alias("cents"),
            F.sum(F.round(F.col("l_quantity"), 0).cast("long"))
            .cast("long")
            .alias("qty"),
        )
        .localCheckpoint(eager=False)  # base slice + all years read it
    )
    y0 = per_py.agg(F.min("y").alias("y0"))
    base = (
        per_py.crossJoin(F.broadcast(y0))
        .filter(F.col("y") == F.col("y0"))
        .select(
            "p",
            F.col("qty").alias("q0"),
            idiv(F.col("cents") * 10000, F.col("qty")).alias("pbar0"),
        )
    )
    pbar_t = idiv(F.col("cents") * 10000, F.col("qty"))
    return (
        per_py.join(base, "p")
        .groupBy(F.col("y").cast("long").alias("year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched_parts"),
            idiv(
                idiv(F.sum(pbar_t * F.col("q0")).cast("long"), 1000000)
                * 10000,
                F.greatest(
                    idiv(
                        F.sum(F.col("pbar0") * F.col("q0")).cast("long"),
                        1000000,
                    ),
                    F.lit(1).cast("long"),
                ),
            ).alias("index_bp"),
        )
    )


# ---------------------------------------------------------------------------
# HITS AUTHORITY/HUB RANKING — Kleinberg's mutual-reinforcement scores
# on the supplier-part bipartite graph (two unrolled iterations):
# authority(part) = sum of its suppliers' hub scores, hub(supplier) =
# sum of its parts' authority scores, each round renormalized to the
# 1e6-micro max. PURE INTEGER throughout — seeds are 1e6, every sum is
# exact, every normalization is one floor division by the broadcast max
# — so unlike float HITS there is no summation-order surface at all.
# Complements graph_pagerank_parts (single projected graph) with the
# two-sided bipartite ranking. Output: the deterministic top-10 of each
# side under the (score desc, key asc) total order.
# Scale shape: the edge set (DISTINCT supplier-part) is checkpointed
# once; each half-iteration is one node-keyed partial aggregate over
# edges joined to the previous (node-count-sized, not edge-sized) score
# table; tops via TakeOrderedAndProject, never a global sort.
# ---------------------------------------------------------------------------
_HITS_ITERS = 2


@register(
    "hits_authority_hub",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
        ),
        hub0 AS (
            SELECT s, CAST(1000000 AS BIGINT) AS h
            FROM (SELECT DISTINCT s FROM edges)
        )
        {''.join(f''',
        rawa{i} AS (
            SELECT e.p, CAST(SUM(h.h) AS BIGINT) AS a
            FROM edges e JOIN hub{i - 1} h ON h.s = e.s GROUP BY 1
        ),
        auth{i} AS (
            SELECT p, (a * 1000000) // (SELECT MAX(a) FROM rawa{i}) AS a
            FROM rawa{i}
        ),
        rawh{i} AS (
            SELECT e.s, CAST(SUM(a.a) AS BIGINT) AS h
            FROM edges e JOIN auth{i} a ON a.p = e.p GROUP BY 1
        ),
        hub{i} AS (
            SELECT s, (h * 1000000) // (SELECT MAX(h) FROM rawh{i}) AS h
            FROM rawh{i}
        )''' for i in range(1, _HITS_ITERS + 1))}
        SELECT * FROM (
            SELECT 'authority' AS role, CAST(p AS BIGINT) AS node_key,
                   a AS score_micro
            FROM auth{_HITS_ITERS} ORDER BY a DESC, p ASC LIMIT 10
        )
        UNION ALL
        SELECT * FROM (
            SELECT 'hub', CAST(s AS BIGINT), h
            FROM hub{_HITS_ITERS} ORDER BY h DESC, s ASC LIMIT 10
        )
    """,
    tags=("graph", "ranking", "iterative", "lineitem"),
)
def hits_authority_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)  # every half-iteration re-reads it
    )
    hub = edges.select("s").distinct().select(
        "s", F.lit(1000000).cast("long").alias("h")
    )
    auth = None
    for _ in range(_HITS_ITERS):
        rawa = (
            edges.join(hub, "s")
            .groupBy("p")
            .agg(F.sum("h").cast("long").alias("a"))
            .localCheckpoint(eager=False)  # max + normalize share it
        )
        mxa = rawa.agg(F.max("a").alias("mx"))
        auth = rawa.crossJoin(F.broadcast(mxa)).select(
            "p", idiv(F.col("a") * 1000000, F.col("mx")).alias("a")
        )
        rawh = (
            edges.join(auth, "p")
            .groupBy("s")
            .agg(F.sum("a").cast("long").alias("h"))
            .localCheckpoint(eager=False)
        )
        mxh = rawh.agg(F.max("h").alias("mx"))
        hub = rawh.crossJoin(F.broadcast(mxh)).select(
            "s", idiv(F.col("h") * 1000000, F.col("mx")).alias("h")
        )
    top_auth = (
        auth.orderBy(F.col("a").desc(), F.col("p").asc())
        .limit(10)
        .select(
            F.lit("authority").alias("role"),
            F.col("p").cast("long").alias("node_key"),
            F.col("a").alias("score_micro"),
        )
    )
    top_hub = (
        hub.orderBy(F.col("h").desc(), F.col("s").asc())
        .limit(10)
        .select(
            F.lit("hub").alias("role"),
            F.col("s").cast("long").alias("node_key"),
            F.col("h").alias("score_micro"),
        )
    )
    return top_auth.unionByName(top_hub)


# ---------------------------------------------------------------------------
# OHLC BARS — the tumbling-window open/high/low/close + volume summary
# every market-data and telemetry pipeline materializes: per (event
# type, hour), the first value (open), last value (close), extremes,
# and count. First/last are defined on the TOTAL order (ts, event_id) —
# min_by/max_by over a composite struct, so simultaneous events cannot
# make the bar nondeterministic (the classic OHLC correctness bug).
# Values carried as exact cents.
# Scale shape: ONE hash aggregate over the fact table — min_by/max_by
# are algebraic (partial-merge-safe), so bars build map-side with no
# window sort and no shuffle beyond the bar key.
# ---------------------------------------------------------------------------
@register(
    "events_ohlc_bars",
    oracle="""
        WITH c AS (
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
                   ts, event_id,
                   CAST(ROUND(value * 100.0) AS BIGINT) AS cents
            FROM events
        )
        SELECT event_type,
               CAST(h AS VARCHAR) AS bar_hour,
               CAST(COUNT(*) AS BIGINT) AS n_ticks,
               (MIN(struct_pack(ts := ts, eid := event_id,
                                c := cents))).c AS open_cents,
               MAX(cents) AS high_cents,
               MIN(cents) AS low_cents,
               (MAX(struct_pack(ts := ts, eid := event_id,
                                c := cents))).c AS close_cents,
               CAST(SUM(cents) AS BIGINT) AS volume_cents
        FROM c
        GROUP BY 1, 2
    """,
    tags=("timeseries", "ohlc", "events", "agg"),
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    keyed = events.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        F.struct(
            F.col("ts").alias("ts"),
            F.col("event_id").alias("eid"),
            cents.alias("c"),
        ).alias("k"),
        cents.alias("cents"),
    )
    return keyed.groupBy(
        "event_type", F.col("h").cast("string").alias("bar_hour")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_ticks"),
        F.min("k").getField("c").alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max("k").getField("c").alias("close_cents"),
        F.sum("cents").cast("long").alias("volume_cents"),
    )


# ---------------------------------------------------------------------------
# TIME-DECAYED LEADERBOARD — recency-weighted ranking with an EXACT
# integer decay: each event contributes cents >> age_days (binary
# exponential decay, half-life = 1 day), so yesterday's spend counts
# half and last month's is noise — yet the fold is pure integer
# arithmetic with zero float surface (exp()-based decay would be
# summation-order-sensitive; the shift is not, because integer addition
# commutes). Age clamps at 40 shifts (contribution provably 0 past the
# clamp for any cents < 2^40, so clamping loses nothing and keeps the
# shift in range). Top-20 users under the (score desc, user asc) total
# order.
# Scale shape: one broadcast now-mark, one user-keyed partial aggregate
# (shift applied per row map-side), TakeOrderedAndProject for the head.
# ---------------------------------------------------------------------------
@register(
    "decayed_leaderboard",
    oracle="""
        WITH mx AS (
            SELECT CAST(MAX(ts) AS DATE) AS now_d FROM events
        ),
        scored AS (
            SELECT user_id,
                   CAST(ROUND(value * 100.0) AS BIGINT)
                       >> LEAST(CAST(date_diff('day', CAST(ts AS DATE),
                                     (SELECT now_d FROM mx)) AS BIGINT), 40)
                       AS dec_cents,
                   CAST(ROUND(value * 100.0) AS BIGINT) AS cents
            FROM events
        )
        SELECT * FROM (
            SELECT user_id,
                   CAST(SUM(dec_cents) AS BIGINT) AS decayed_cents,
                   CAST(SUM(cents) AS BIGINT) AS raw_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM scored GROUP BY 1
            ORDER BY decayed_cents DESC, user_id ASC LIMIT 20
        )
    """,
    tags=("timeseries", "ranking", "decay", "events"),
)
def decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    mx = events.agg(F.max(F.col("ts").cast("date")).alias("now_d"))
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    age = F.least(
        F.datediff(F.col("now_d"), F.col("ts").cast("date")).cast("long"),
        F.lit(40).cast("long"),
    )
    staged = events.crossJoin(F.broadcast(mx)).select(
        "user_id", cents.alias("cents"), age.cast("int").alias("age")
    )
    scored = staged.select(
        "user_id",
        F.expr("shiftright(cents, age)").alias("dec_cents"),
        "cents",
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.sum("dec_cents").cast("long").alias("decayed_cents"),
            F.sum("cents").cast("long").alias("raw_cents"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy(F.col("decayed_cents").desc(), F.col("user_id").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# MARKET CONCENTRATION (HHI) — the Herfindahl-Hirschman index antitrust
# and marketplace-health dashboards publish: per nation, customer spend
# shares in basis points (one DEFINED floor per customer), HHI =
# sum(share_bp^2) div 10000 — 10000 = monopoly, ~0 = atomized. Top
# share rides along for the "is one whale the market" read. All exact
# integers; share floors are part of the metric definition so both
# engines agree bit-for-bit.
# Scale shape: one (nation, customer)-keyed aggregate over the join,
# one nation-keyed rollup with the nation totals broadcast back — no
# windows, no data-sized second pass.
# ---------------------------------------------------------------------------
@register(
    "market_concentration_hhi",
    oracle="""
        WITH spend AS (
            SELECT c.c_nationkey AS nation, o.o_custkey AS cust,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT nation, CAST(SUM(cents) AS BIGINT) AS tot_cents
            FROM spend GROUP BY 1
        ),
        shares AS (
            SELECT s.nation, (s.cents * 10000) // t.tot_cents AS share_bp
            FROM spend s JOIN tot t ON t.nation = s.nation
        )
        SELECT CAST(nation AS BIGINT) AS nation,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(MAX(share_bp) AS BIGINT) AS top_share_bp,
               CAST(SUM(share_bp * share_bp) // 10000 AS BIGINT) AS hhi
        FROM shares
        GROUP BY nation
    """,
    tags=("analytics", "economics", "orders", "customer", "agg"),
)
def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.col("c_nationkey").alias("nation")
    )
    cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
    spend = (
        orders.select(F.col("o_custkey").alias("cust"), cents.alias("c"))
        .join(cust, "cust")
        .groupBy("nation", "cust")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    tot = spend.groupBy("nation").agg(
        F.sum("cents").cast("long").alias("tot_cents")
    )
    shares = spend.join(F.broadcast(tot), "nation").select(
        "nation", idiv(F.col("cents") * 10000, F.col("tot_cents")).alias("share_bp")
    )
    return shares.groupBy(F.col("nation").cast("long").alias("nation")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.max("share_bp").cast("long").alias("top_share_bp"),
        idiv(
            F.sum(F.col("share_bp") * F.col("share_bp")).cast("long"), 10000
        ).alias("hhi"),
    )


# ---------------------------------------------------------------------------
# INTERVAL-UNION COVERAGE — per user, the total time covered by the
# UNION of the [ts, ts+5min) activity intervals its events open (the
# classic gaps-and-islands merge: overlapping/adjacent intervals fuse,
# gaps split). This is "how long was the user actually active", the
# billing/engagement primitive that a naive SUM(duration) double-counts
# whenever events overlap. All arithmetic is exact epoch-microsecond
# integers (unix_micros/epoch_us — identical in both engines; never
# date_diff, which counts boundary crossings).
# Scale shape: both windows partition by user_id (bounded by one user's
# events, never corpus-sized), then two hash aggregates; the final
# top-25 is a TakeOrderedAndProject over per-user rows, not a global
# sort of the data. Ties at the cutoff break by user_id.
# ---------------------------------------------------------------------------
_COVWIN_US = 300 * 1_000_000  # each event opens a 5-minute interval


#: shared with the streaming twin (streaming_interval_union_coverage) —
#: same semantics, same oracle, kept in lockstep by construction.
_INTERVAL_COVERAGE_SQL = f"""
        WITH base AS (
            SELECT user_id, event_id, epoch_us(ts) AS t,
                   epoch_us(ts) + {_COVWIN_US} AS e
            FROM events
        ),
        flagged AS (
            SELECT user_id, event_id, t, e,
                   MAX(e) OVER (
                       PARTITION BY user_id ORDER BY t, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS prev_e
            FROM base
        ),
        islands AS (
            SELECT user_id, t, e,
                   SUM(CASE WHEN prev_e IS NULL OR t > prev_e
                            THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY t, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island_id
            FROM flagged
        ),
        per_island AS (
            SELECT user_id, island_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MAX(e) - MIN(t) AS cov
            FROM islands GROUP BY 1, 2
        )
        SELECT user_id,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_islands,
               CAST(SUM(cov) AS BIGINT) AS covered_us
        FROM per_island
        GROUP BY 1
        ORDER BY covered_us DESC, user_id ASC
        LIMIT 25
"""


@register(
    "events_interval_union_coverage",
    oracle=_INTERVAL_COVERAGE_SQL,
    tags=("events", "window", "gaps-and-islands", "intervals"),
)
def events_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # NTZ-safe epoch micros: unix_micros demands TIMESTAMP, but the
    # events table is timestamp[us] without timezone (TIMESTAMP_NTZ);
    # differencing NTZ instants from a fixed NTZ epoch is exact and
    # matches DuckDB's epoch_us on its (tz-less) TIMESTAMP.
    epoch_us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    base = ev.select(
        "user_id",
        "event_id",
        F.expr(epoch_us).alias("t"),
        (F.expr(epoch_us) + F.lit(_COVWIN_US)).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = base.withColumn("prev_e", F.max("e").over(w_prev))
    islands = flagged.withColumn(
        "island_id",
        F.sum(
            (F.col("prev_e").isNull() | (F.col("t") > F.col("prev_e"))).cast(
                "long"
            )
        ).over(w_cum),
    )
    per_island = islands.groupBy("user_id", "island_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("e") - F.min("t")).alias("cov"),
    )
    return (
        per_island.groupBy("user_id")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            F.sum("cov").cast("long").alias("covered_us"),
        )
        .orderBy(F.col("covered_us").desc(), F.col("user_id").asc())
        .limit(25)
    )


# ---------------------------------------------------------------------------
# GROWTH ACCOUNTING — the weekly active-user flow decomposition every
# growth team reports (the "quick ratio" inputs): for each week, how
# many active users are NEW (first week ever), RETAINED (also active
# the immediately previous week), RESURRECTED (active before, but not
# last week), and how many of last week's actives CHURNED (absent this
# week). Identity: actives(w) = new + retained + resurrected, and
# churned(w) = actives(w-1) - retained(w). All set logic is expressed
# as per-user lag/lead windows over the distinct (user, week) presence
# table — no self-joins, no full-corpus windows (partitions are one
# user's weeks). Weeks are Monday-truncated in both engines. The churn
# row for the week after the data's last week is suppressed (both
# engines broadcast the global max week), so every reported week is
# fully observed.
# ---------------------------------------------------------------------------
@register(
    "events_growth_accounting",
    oracle="""
        WITH uw AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS wk
            FROM events
        ),
        seq AS (
            SELECT user_id, wk,
                   MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
                   LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
                   LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
            FROM uw
        ),
        mx AS (SELECT MAX(wk) AS max_wk FROM uw),
        flows AS (
            SELECT wk,
                   CASE WHEN wk = first_wk THEN 'new'
                        WHEN prev_wk = wk - INTERVAL 7 DAY THEN 'retained'
                        ELSE 'resurrected' END AS status
            FROM seq
            UNION ALL
            SELECT CAST(wk + INTERVAL 7 DAY AS DATE) AS wk, 'churned' AS status
            FROM seq, mx
            WHERE (next_wk IS NULL OR next_wk > wk + INTERVAL 7 DAY)
              AND CAST(wk + INTERVAL 7 DAY AS DATE) <= mx.max_wk
        )
        SELECT wk AS week_start,
               CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_retained,
               CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_resurrected,
               CAST(SUM(CASE WHEN status = 'churned' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_churned
        FROM flows
        GROUP BY 1
    """,
    tags=("events", "window", "retention", "growth"),
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    w_user = Window.partitionBy("user_id").orderBy("wk")
    seq = uw.select(
        "user_id",
        "wk",
        F.min("wk").over(Window.partitionBy("user_id")).alias("first_wk"),
        F.lag("wk").over(w_user).alias("prev_wk"),
        F.lead("wk").over(w_user).alias("next_wk"),
    ).localCheckpoint(eager=False)  # flows reads it twice (class + churn)
    mx = uw.agg(F.max("wk").alias("max_wk"))
    status = (
        F.when(F.col("wk") == F.col("first_wk"), F.lit("new"))
        .when(F.col("prev_wk") == F.date_add("wk", -7), F.lit("retained"))
        .otherwise(F.lit("resurrected"))
    )
    classified = seq.select("wk", status.alias("status"))
    churned = (
        seq.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("next_wk").isNull() | (F.col("next_wk") > F.date_add("wk", 7)))
            & (F.date_add("wk", 7) <= F.col("max_wk"))
        )
        .select(F.date_add("wk", 7).alias("wk"), F.lit("churned").alias("status"))
    )
    return (
        classified.unionByName(churned)
        .groupBy(F.col("wk").alias("week_start"))
        .agg(
            F.sum((F.col("status") == "new").cast("long"))
            .cast("long")
            .alias("n_new"),
            F.sum((F.col("status") == "retained").cast("long"))
            .cast("long")
            .alias("n_retained"),
            F.sum((F.col("status") == "resurrected").cast("long"))
            .cast("long")
            .alias("n_resurrected"),
            F.sum((F.col("status") == "churned").cast("long"))
            .cast("long")
            .alias("n_churned"),
        )
    )


# ---------------------------------------------------------------------------
# ZONE-MAP SKIP SIMULATION — the lakehouse question behind every
# sort/Z-order decision: for a set of representative predicates, how
# many row groups does min/max pruning skip under (a) the natural
# insertion layout vs (b) a shipdate-sorted rewrite? Row groups are
# simulated as consecutive _ZM_RG_ROWS-row slices of each layout's
# total order (global rank via the shared distributed_rank primitive —
# range-partitioned, never a single-partition sort); zone maps are one
# min/max/count aggregate per (layout, group); predicate ∩ zone
# intersection is then a constant-width flag matrix unpivoted with
# stack(). Reports groups skipped AND rows actually scanned — the
# number an engine's I/O bill is made of. Exact integers; the min/max
# compares reuse the parquet values verbatim in both engines.
# ---------------------------------------------------------------------------
_ZM_RG_ROWS = 8192
_ZM_SHIP_LO = "1996-01-01 00:00:00"
_ZM_SHIP_HI = "1996-12-31 23:59:59"
_ZM_QTY_LT = 5
_ZM_PRICE_GT = 50000


@register(
    "zonemap_skip_simulation",
    oracle=f"""
        WITH ranked AS (
            SELECT l_shipdate, l_quantity, l_extendedprice,
                   ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber)
                       AS r1,
                   ROW_NUMBER() OVER (ORDER BY l_shipdate, l_orderkey,
                                               l_linenumber) AS r2
            FROM lineitem
        ),
        layouts AS (
            SELECT 'insertion' AS layout,
                   (r1 - 1) // {_ZM_RG_ROWS} AS rg,
                   l_shipdate, l_quantity, l_extendedprice
            FROM ranked
            UNION ALL
            SELECT 'shipdate_sorted',
                   (r2 - 1) // {_ZM_RG_ROWS},
                   l_shipdate, l_quantity, l_extendedprice
            FROM ranked
        ),
        z AS (
            SELECT layout, rg,
                   MIN(l_shipdate) AS mins, MAX(l_shipdate) AS maxs,
                   MIN(l_quantity) AS minq,
                   MAX(l_extendedprice) AS maxp,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM layouts GROUP BY 1, 2
        ),
        flags AS (
            SELECT layout,
                   unnest(['ship_1996', 'qty_lt_{_ZM_QTY_LT}',
                           'price_gt_{_ZM_PRICE_GT}']) AS predicate,
                   unnest([
                       maxs < TIMESTAMP '{_ZM_SHIP_LO}'
                           OR mins > TIMESTAMP '{_ZM_SHIP_HI}',
                       minq >= {_ZM_QTY_LT},
                       maxp <= {_ZM_PRICE_GT}
                   ]) AS skipped,
                   n_rows
            FROM z
        )
        SELECT layout, predicate,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_skipped,
               CAST(SUM(CASE WHEN NOT skipped THEN n_rows ELSE 0 END)
                    AS BIGINT) AS rows_scanned
        FROM flags
        GROUP BY 1, 2
    """,
    tags=("lakehouse", "layout", "pruning", "lineitem"),
)
def zonemap_skip_simulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import distributed_rank

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity",
        "l_extendedprice",
    )
    layouts = []
    for layout, cols in (
        ("insertion", [F.col("l_orderkey"), F.col("l_linenumber")]),
        (
            "shipdate_sorted",
            [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")],
        ),
    ):
        ranked = distributed_rank(li, cols)
        layouts.append(
            ranked.select(
                F.lit(layout).alias("layout"),
                idiv(F.col("rnk") - 1, _ZM_RG_ROWS).alias("rg"),
                "l_shipdate",
                "l_quantity",
                "l_extendedprice",
            )
        )
    z = (
        layouts[0]
        .unionByName(layouts[1])
        .groupBy("layout", "rg")
        .agg(
            F.min("l_shipdate").alias("mins"),
            F.max("l_shipdate").alias("maxs"),
            F.min("l_quantity").alias("minq"),
            F.max("l_extendedprice").alias("maxp"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )
    flags = z.select(
        "layout",
        "n_rows",
        F.expr(
            f"""stack(3,
                'ship_1996', maxs < TIMESTAMP_NTZ '{_ZM_SHIP_LO}'
                             OR mins > TIMESTAMP_NTZ '{_ZM_SHIP_HI}',
                'qty_lt_{_ZM_QTY_LT}', minq >= {_ZM_QTY_LT},
                'price_gt_{_ZM_PRICE_GT}', maxp <= {_ZM_PRICE_GT}
            ) AS (predicate, skipped)"""
        ),
    )
    return flags.groupBy("layout", "predicate").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.col("skipped").cast("long")).cast("long").alias("n_skipped"),
        F.sum(F.when(~F.col("skipped"), F.col("n_rows")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_scanned"),
    )


# ---------------------------------------------------------------------------
# TOKEN-BUCKET RATE-LIMITER BACKTEST — the capacity-planning question
# behind every API quota: if each user had a bucket of _RL_CAP tokens
# refilling _RL_REFILL/day, how many of their historical events would
# have been throttled? The recurrence (tokens carry across days, capped)
# is inherently sequential PER USER, so it folds over the user's
# day-sorted (day, count) list — bounded by the timeline, never by
# corpus size — with one aggregate()/list_reduce() whose state is the
# exact integer triple [prev_day, tokens, throttled]; both engines fold
# the identical formula over the identical sorted list, so results are
# bit-equal. (State and items share one 3-long array type because SQL
# fold lambdas require uniform element types; item = [day, n, 0].)
# Scale shape: one (user, day) count, one per-user collect+sort (array
# bounded by days-in-range), one fold, top-20 TakeOrdered.
# ---------------------------------------------------------------------------
_RL_CAP = 4  # bucket capacity (tokens)
_RL_REFILL = 2  # tokens refilled per day
_RL_TOP_N = 20


def _rl_fold_sql() -> str:
    # a = [prev_day, tokens, throttled]; x = [day, n, 0] (1-indexed).
    tok1 = (
        f"CASE WHEN a[1] < 0 THEN {_RL_CAP} "
        f"ELSE LEAST({_RL_CAP}, a[2] + (x[1] - a[1]) * {_RL_REFILL}) END"
    )
    served = f"LEAST(x[2], {tok1})"
    items = "list(CAST([day, n, 0] AS BIGINT[]) ORDER BY day)"
    return (
        f"list_reduce(list_prepend([CAST(-1 AS BIGINT), {_RL_CAP}, 0], "
        f"{items}), (a, x) -> [x[1], ({tok1}) - ({served}), "
        f"a[3] + x[2] - ({served})])"
    )


#: shared with the streaming twin (streaming_rate_limiter) — same
#: semantics, same oracle, kept in lockstep by construction.
_RL_ORACLE_SQL = f"""
        WITH daily AS (
            SELECT user_id,
                   CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01'
                       AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        folded AS (
            SELECT user_id,
                   CAST(SUM(n) AS BIGINT) AS n_events,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   {_rl_fold_sql()} AS st
            FROM daily
            GROUP BY user_id
        )
        SELECT user_id, n_events, n_days,
               CAST(st[3] AS BIGINT) AS n_throttled
        FROM folded
        ORDER BY n_throttled DESC, user_id ASC
        LIMIT {_RL_TOP_N}
"""


@register(
    "rate_limiter_backtest",
    oracle=_RL_ORACLE_SQL,
    tags=("events", "rate-limit", "sequential-fold", "capacity"),
)
def rate_limiter_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_user = daily.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.array_sort(
            F.collect_list(F.array("day", "n", F.lit(0).cast("long")))
        ).alias("items"),
    )
    cap, refill = F.lit(_RL_CAP).cast("long"), F.lit(_RL_REFILL).cast("long")

    def tok1(a, x):
        return F.when(a.getItem(0) < 0, cap).otherwise(
            F.least(cap, a.getItem(1) + (x.getItem(0) - a.getItem(0)) * refill)
        )

    def step(a, x):
        served = F.least(x.getItem(1), tok1(a, x))
        return F.array(
            x.getItem(0), tok1(a, x) - served, a.getItem(2) + x.getItem(1) - served
        )

    folded = per_user.select(
        "user_id",
        "n_events",
        "n_days",
        F.aggregate(
            "items",
            F.array(F.lit(-1).cast("long"), cap, F.lit(0).cast("long")),
            step,
        )
        .getItem(2)
        .alias("n_throttled"),
    )
    return folded.orderBy(
        F.col("n_throttled").desc(), F.col("user_id").asc()
    ).limit(_RL_TOP_N)


# ---------------------------------------------------------------------------
# OPEN-ORDER BACKLOG — the ops dashboard every fulfillment team runs:
# for each calendar day, how many orders are open (placed but not yet
# fully shipped). An order opens on o_orderdate and closes the day
# AFTER its last lineitem ships, so the backlog is the running sum of
# sparse +1/−1 deltas — computed with the shared distributed_prefix_sum
# primitive (range-partitioned two-level prefix sum, never a
# single-partition global window over data-sized rows; the delta table
# is bounded by distinct calendar days). Exact integers end to end.
# ---------------------------------------------------------------------------
@register(
    "orders_open_backlog_daily",
    oracle="""
        WITH comp AS (
            SELECT l_orderkey,
                   MAX(CAST(l_shipdate AS DATE)) + 1 AS close_day
            FROM lineitem GROUP BY 1
        ),
        deltas AS (
            SELECT CAST(o_orderdate AS DATE) AS day, 1 AS opened, 0 AS closed
            FROM orders
            UNION ALL
            SELECT close_day AS day, 0 AS opened, 1 AS closed FROM comp
        ),
        per_day AS (
            SELECT day,
                   CAST(SUM(opened) AS BIGINT) AS n_opened,
                   CAST(SUM(closed) AS BIGINT) AS n_closed,
                   CAST(SUM(opened) - SUM(closed) AS BIGINT) AS net
            FROM deltas GROUP BY 1
        )
        SELECT day, n_opened, n_closed,
               CAST(SUM(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS backlog
        FROM per_day
    """,
    tags=("orders", "lineitem", "backlog", "prefix-sum", "window-time"),
)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_prefix_sum,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    comp = li.groupBy("l_orderkey").agg(
        F.date_add(F.max(F.col("l_shipdate").cast("date")), 1).alias(
            "close_day"
        )
    )
    deltas = orders.select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.lit(1).cast("long").alias("opened"),
        F.lit(0).cast("long").alias("closed"),
    ).unionByName(
        comp.select(
            F.col("close_day").alias("day"),
            F.lit(0).cast("long").alias("opened"),
            F.lit(1).cast("long").alias("closed"),
        )
    )
    per_day = deltas.groupBy("day").agg(
        F.sum("opened").cast("long").alias("n_opened"),
        F.sum("closed").cast("long").alias("n_closed"),
        (F.sum("opened") - F.sum("closed")).cast("long").alias("net"),
    )
    return distributed_prefix_sum(
        per_day, [F.col("day")], "net", out_col="backlog"
    ).select(
        "day", "n_opened", "n_closed", F.col("backlog").cast("long").alias("backlog")
    )


# ---------------------------------------------------------------------------
# ANOMALY PERSISTENCE — alert-quality triage: a single anomalous hour is
# noise, a RUN of them is an incident. Hour buckets whose event count
# exceeds 1.3× the event-type's mean (integer cross-multiplication:
# 10·n·n_hours > 13·total — no rational division anywhere, and the
# relative threshold stays non-degenerate as density scales) are
# "anomalous"; consecutive anomalous hours (exactly 1h apart) merge via
# gaps-and-islands into runs. Reports per type: anomalous hours, runs,
# and the longest run. Windows partition per event_type and are bounded
# by the timeline's hour count, never corpus size.
# ---------------------------------------------------------------------------
@register(
    "events_anomaly_persistence",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_hours,
                   CAST(SUM(n) AS BIGINT) AS total
            FROM hourly GROUP BY 1
        ),
        anom AS (
            SELECT h.event_type, h.h,
                   epoch_us(h.h) // 3600000000 AS hidx
            FROM hourly h JOIN stats s USING (event_type)
            WHERE h.n * 10 * s.n_hours > 13 * s.total
        ),
        runs AS (
            SELECT event_type, hidx,
                   hidx - ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY hidx
                   ) AS grp
            FROM anom
        ),
        per_run AS (
            SELECT event_type, grp, CAST(COUNT(*) AS BIGINT) AS run_len
            FROM runs GROUP BY 1, 2
        )
        SELECT event_type,
               CAST(SUM(run_len) AS BIGINT) AS n_anom_hours,
               CAST(COUNT(*) AS BIGINT) AS n_runs,
               CAST(MAX(run_len) AS BIGINT) AS longest_run
        FROM per_run
        GROUP BY 1
    """,
    tags=("events", "anomaly", "gaps-and-islands", "window-time"),
)
def events_anomaly_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("n").cast("long").alias("total"),
    )
    hidx = idiv(
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', h)"
        ),
        3_600_000_000,
    )
    anom = (
        hourly.join(F.broadcast(stats), "event_type")
        .filter(F.col("n") * 10 * F.col("n_hours") > 13 * F.col("total"))
        .select("event_type", hidx.alias("hidx"))
    )
    w = Window.partitionBy("event_type").orderBy("hidx")
    runs = anom.withColumn("grp", F.col("hidx") - F.row_number().over(w))
    per_run = runs.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return per_run.groupBy("event_type").agg(
        F.sum("run_len").cast("long").alias("n_anom_hours"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("run_len").cast("long").alias("longest_run"),
    )


# ---------------------------------------------------------------------------
# GROUPED EXACT PERCENTILES — per-nation ship-latency p50/p90/p99.
# percentile_distributed_exact covers the GLOBAL case via distributed
# rank; per GROUP the right distributed shape is a nation-partitioned
# window rank: one shuffle on the group key, sort-based windows spill to
# disk instead of buffering the group in a single aggregation buffer
# (the documented wall of the built-in exact `percentile` at 100 TB).
# Latency is exact integer days; interpolation uses quantile_cont's
# (n-1)p definition on both engines.
# ---------------------------------------------------------------------------
_LEAD_PCTS = (0.5, 0.9, 0.99)


@register(
    "supplier_leadtime_percentiles",
    oracle=f"""
        WITH lat AS (
            SELECT n.n_name,
                   CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                  CAST(l.l_shipdate AS DATE)) AS BIGINT)
                       AS lat_days
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
        )
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_lineitems,
               {", ".join(
                   f"ROUND((quantile_cont(lat_days, {p})) * 100.0) / 100.0"
                   f" + 0.0 AS p{int(p * 100)}_days"
                   for p in _LEAD_PCTS)}
        FROM lat
        GROUP BY n_name
    """,
    tags=("agg", "percentile", "grouped", "lineitem", "supplier"),
)
def supplier_leadtime_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    lat = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            .cast("long")
            .alias("lat_days"),
        )
    )
    w = Window.partitionBy("n_name").orderBy("lat_days")
    ranked = (
        lat.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("n_name")))
        .localCheckpoint(eager=False)  # each percentile probe reads it
    )
    out = None
    for p in _LEAD_PCTS:
        h = F.lit(p) * (F.col("n") - 1)
        lo_rn = (F.floor(h) + 1).cast("long")
        hi_rn = F.least(F.ceil(h) + 1, F.col("n")).cast("long")
        frac = h - F.floor(h)
        lo = ranked.filter(F.col("rn") == lo_rn).select(
            "n_name",
            F.col("lat_days").alias("v_lo"),
            frac.alias("frac"),
            hi_rn.alias("hi_rn"),
            F.col("n").alias("n_rows"),
        )
        hi = ranked.select(
            F.col("n_name").alias("h_name"),
            F.col("rn").alias("h_rn"),
            F.col("lat_days").alias("v_hi"),
        )
        both = lo.join(
            hi,
            (F.col("n_name") == F.col("h_name"))
            & (F.col("hi_rn") == F.col("h_rn")),
        ).select(
            "n_name",
            "n_rows",
            pround(
                F.col("v_lo") + F.col("frac") * (F.col("v_hi") - F.col("v_lo")),
                2,
            ).alias(f"p{int(p * 100)}_days"),
        )
        out = both if out is None else out.join(
            both.select(
                F.col("n_name").alias("j_name"), f"p{int(p * 100)}_days"
            ),
            F.col("n_name") == F.col("j_name"),
        ).drop("j_name")
    return out.select(
        "n_name",
        F.col("n_rows").alias("n_lineitems"),
        *[f"p{int(p * 100)}_days" for p in _LEAD_PCTS],
    )


# ---------------------------------------------------------------------------
# BURST DETECTION — hours whose per-type event count exceeds
# BURST_FACTOR × that type's mean hourly rate, decided in exact integer
# arithmetic (cnt · n_hours > FACTOR · total): the alerting primitive
# behind rate-anomaly monitors, reported as a per-type rollup. n_hours
# counts the type's ACTIVE hours (the mean is over observed buckets).
# One (type, hour) aggregate + a type-key rollup; no windows, no sort.
# ---------------------------------------------------------------------------
BURST_FACTOR = 2


@register(
    "events_burst_hours",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ),
        typed AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_hours,
                   CAST(SUM(cnt) AS BIGINT) AS total
            FROM hourly GROUP BY 1
        )
        SELECT h.event_type,
               t.n_hours,
               t.total,
               CAST(SUM(CASE WHEN h.cnt * t.n_hours > {BURST_FACTOR} * t.total
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_hours,
               CAST(MAX(h.cnt) AS BIGINT) AS max_hour_count
        FROM hourly h JOIN typed t USING (event_type)
        GROUP BY h.event_type, t.n_hours, t.total
    """,
    tags=("events", "burst", "anomaly", "agg"),
)
def events_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    typed = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("cnt").cast("long").alias("total"),
    )
    return (
        hourly.join(F.broadcast(typed), "event_type")
        .groupBy("event_type", "n_hours", "total")
        .agg(
            F.sum(
                F.when(
                    F.col("cnt") * F.col("n_hours")
                    > BURST_FACTOR * F.col("total"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_burst_hours"),
            F.max("cnt").cast("long").alias("max_hour_count"),
        )
    )


# ---------------------------------------------------------------------------
# REPEAT-PURCHASE INTERVALS — consecutive order gaps per customer (lag
# window on the customer's own orders — partition-keyed, never global),
# bucketed into the lifecycle bands a retention model consumes, rolled
# up per market segment. Gaps are exact integer days.
# ---------------------------------------------------------------------------
@register(
    "orders_repeat_purchase_gaps",
    oracle="""
        WITH gaps AS (
            SELECT o_custkey,
                   date_diff('day',
                       CAST(lag(o_orderdate) OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS DATE),
                       CAST(o_orderdate AS DATE)) AS gap_days
            FROM orders
        ),
        bucketed AS (
            SELECT o_custkey,
                   CASE WHEN gap_days < 30 THEN '0-29d'
                        WHEN gap_days < 90 THEN '30-89d'
                        WHEN gap_days < 180 THEN '90-179d'
                        ELSE '180d+' END AS gap_bucket
            FROM gaps WHERE gap_days IS NOT NULL
        )
        SELECT c.c_mktsegment, b.gap_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               CAST(COUNT(DISTINCT b.o_custkey) AS BIGINT) AS n_customers
        FROM bucketed b JOIN customer c ON b.o_custkey = c.c_custkey
        GROUP BY 1, 2
    """,
    tags=("orders", "retention", "window", "customer"),
)
def orders_repeat_purchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        )
        .cast("long")
        .alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    bucketed = gaps.select(
        "o_custkey",
        F.when(F.col("gap_days") < 30, "0-29d")
        .when(F.col("gap_days") < 90, "30-89d")
        .when(F.col("gap_days") < 180, "90-179d")
        .otherwise("180d+")
        .alias("gap_bucket"),
    )
    return (
        bucketed.join(cust, bucketed.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "gap_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# PPS SYSTEMATIC SAMPLE — probability-proportional-to-size sampling,
# fully deterministic: order weights are exact integer cents, the
# cumulative axis comes from the distributed prefix sum (range exchange,
# no global sort), and a fixed grid of PPS_K points at stride/2 + k·stride
# selects every order whose cumulative interval contains a grid point
# (a giant order can absorb several points — that IS pps-with-
# replacement multiplicity). The report checks the estimator property:
# each priority class' share of grid hits tracks its share of total
# weight. No randomness, no floats.
# ---------------------------------------------------------------------------
PPS_K = 64


@register(
    "pps_systematic_sample",
    oracle=f"""
        WITH w AS (
            SELECT o_orderkey, o_orderpriority,
                   CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
            FROM orders
        ),
        cum AS (
            SELECT o_orderkey, o_orderpriority, cents,
                   SUM(cents) OVER (ORDER BY o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS c_incl
            FROM w
        ),
        tot AS (
            SELECT CAST(SUM(cents) AS BIGINT) AS total,
                   CAST(SUM(cents) AS BIGINT) // {PPS_K} AS stride
            FROM w
        ),
        hits AS (
            SELECT c.o_orderpriority, c.cents,
                   -- grid points g_k = stride//2 + k*stride, k >= 0:
                   -- #k with g_k < x is max(0, ceil((x - half)/stride))
                   greatest(CAST(0 AS BIGINT),
                       (c.c_incl - t.stride // 2 + t.stride - 1) // t.stride)
                   - greatest(CAST(0 AS BIGINT),
                       (c.c_incl - c.cents - t.stride // 2 + t.stride - 1)
                           // t.stride) AS n_hits
            FROM cum c, tot t
        )
        SELECT h.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(h.n_hits) AS BIGINT) AS n_grid_hits,
               CAST(SUM(h.n_hits) AS BIGINT) * 10000 // {PPS_K}
                   AS sample_share_bp,
               CAST(SUM(h.cents) AS BIGINT) * 10000 // MIN(t.total)
                   AS weight_share_bp
        FROM hits h, tot t
        GROUP BY h.o_orderpriority
    """,
    tags=("sampling", "pps", "deterministic", "orders"),
)
def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_prefix_sum,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100.0, 0).cast("long").alias("cents"),
    )
    cum = distributed_prefix_sum(
        orders, [F.col("o_orderkey")], "cents", out_col="c_incl"
    )
    tot = orders.agg(
        F.sum("cents").cast("long").alias("total"),
        idiv(F.sum("cents").cast("long"), F.lit(PPS_K)).alias("stride"),
    )
    half = idiv(F.col("stride"), F.lit(2))
    f_incl = F.greatest(
        F.lit(0).cast("long"),
        idiv(F.col("c_incl") - half + F.col("stride") - 1, F.col("stride")),
    )
    f_before = F.greatest(
        F.lit(0).cast("long"),
        idiv(
            F.col("c_incl") - F.col("cents") - half + F.col("stride") - 1,
            F.col("stride"),
        ),
    )
    hits = cum.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority",
        "cents",
        "total",
        (f_incl - f_before).alias("n_hits"),
    )
    return hits.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("n_hits").cast("long").alias("n_grid_hits"),
        idiv(F.sum("n_hits").cast("long") * 10000, F.lit(PPS_K)).alias(
            "sample_share_bp"
        ),
        idiv(F.sum("cents").cast("long") * 10000, F.min("total")).alias(
            "weight_share_bp"
        ),
    )


# ---------------------------------------------------------------------------
# USER LIFECYCLE STAGES — the growth-accounting classification at a
# point in time: per user, first/last activity vs the corpus horizon
# buckets them new / active / churned (thresholds in exact hours);
# report per stage with event volumes. One user-key aggregate + a
# broadcast of the 1-row horizon.
# ---------------------------------------------------------------------------
LIFECYCLE_NEW_HOURS = 24
LIFECYCLE_CHURN_HOURS = 48


@register(
    "events_user_lifecycle_stages",
    oracle=f"""
        WITH horizon AS (SELECT MAX(ts) AS h FROM events),
        per_user AS (
            SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
        ),
        staged AS (
            SELECT CASE
                     WHEN first_ts >= h - INTERVAL {LIFECYCLE_NEW_HOURS} HOUR
                         THEN 'new'
                     WHEN last_ts < h - INTERVAL {LIFECYCLE_CHURN_HOURS} HOUR
                         THEN 'churned'
                     ELSE 'active'
                   END AS stage,
                   n_events
            FROM per_user, horizon
        )
        SELECT stage,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               CAST(SUM(n_events) AS BIGINT) * 100
                   // CAST(COUNT(*) AS BIGINT) AS events_per_user_centi
        FROM staged
        GROUP BY stage
    """,
    tags=("events", "lifecycle", "retention", "agg"),
)
def events_user_lifecycle_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    horizon = events.agg(F.max("ts").alias("h"))
    per_user = events.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    staged = per_user.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("first_ts")
            >= F.col("h") - F.expr(f"INTERVAL {LIFECYCLE_NEW_HOURS} HOUR"),
            "new",
        )
        .when(
            F.col("last_ts")
            < F.col("h") - F.expr(f"INTERVAL {LIFECYCLE_CHURN_HOURS} HOUR"),
            "churned",
        )
        .otherwise("active")
        .alias("stage"),
        "n_events",
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
        idiv(
            F.sum("n_events").cast("long") * 100,
            F.count(F.lit(1)).cast("long"),
        ).alias("events_per_user_centi"),
    )


# ---------------------------------------------------------------------------
# BIPARTITE DEGREE DISTRIBUTION — the supplier↔part graph profile: how
# many suppliers serve k parts, how many parts have k suppliers. Degree
# distributions are the first sanity check before any graph algorithm
# (hubs explode pair-joins; orphans break propagation). Two bounded
# log2-bucket histograms unioned; degrees from one distinct-edge
# aggregate each way.
# ---------------------------------------------------------------------------
@register(
    "graph_degree_distribution",
    oracle="""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
        ),
        sd AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY s),
        pd AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY p)
        SELECT 'supplier' AS side,
               CAST(FLOOR(LOG2(deg)) AS BIGINT) AS deg_log2_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(MIN(deg) AS BIGINT) AS min_deg,
               CAST(MAX(deg) AS BIGINT) AS max_deg
        FROM sd GROUP BY 2
        UNION ALL
        SELECT 'part',
               CAST(FLOOR(LOG2(deg)) AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               CAST(MIN(deg) AS BIGINT),
               CAST(MAX(deg) AS BIGINT)
        FROM pd GROUP BY 2
    """,
    tags=("graph", "degree", "lineitem"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()

    def hist(df: DataFrame, key: str, side: str) -> DataFrame:
        deg = df.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("deg"))
        # floor(log2(deg)) == length of the binary repr − 1: exact integer
        # arithmetic, no libm log anywhere near the bucket boundary
        bucket = (
            F.length(F.conv(F.col("deg").cast("string"), 10, 2)) - 1
        ).cast("long")
        return deg.groupBy(bucket.alias("deg_log2_bucket")).agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("deg").cast("long").alias("min_deg"),
            F.max("deg").cast("long").alias("max_deg"),
        ).select(
            F.lit(side).alias("side"),
            "deg_log2_bucket",
            "n_nodes",
            "min_deg",
            "max_deg",
        )

    return hist(edges, "s", "supplier").unionByName(hist(edges, "p", "part"))


# ---------------------------------------------------------------------------
# WEEKLY GMV WITH WEEK-OVER-WEEK DELTA — the business trendline: order
# value summed as exact integer cents per ISO week, then the WoW delta
# in bp off a lag window over the (time-domain-bounded) weekly rollup.
# ---------------------------------------------------------------------------
@register(
    "orders_gmv_weekly_wow",
    oracle="""
        WITH weekly AS (
            SELECT date_trunc('week', CAST(o_orderdate AS DATE)) AS week_start,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                        AS BIGINT) AS gmv_cents,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT CAST(week_start AS VARCHAR) AS week_start,
               n_orders, gmv_cents,
               CASE WHEN lag(gmv_cents) OVER (ORDER BY week_start) IS NULL
                    THEN CAST(0 AS BIGINT)
                    ELSE (gmv_cents - lag(gmv_cents) OVER (ORDER BY week_start))
                         * 10000 // lag(gmv_cents) OVER (ORDER BY week_start)
               END AS wow_delta_bp
        FROM weekly
    """,
    tags=("orders", "trend", "window", "agg"),
)
def orders_gmv_weekly_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.date_trunc("week", F.col("o_orderdate").cast("date")).alias("wk")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("gmv_cents"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    # time-domain-bounded global window (weeks, not rows) — the
    # events_daily_value_trend precedent
    w = Window.orderBy("wk")
    prev = F.lag("gmv_cents").over(w)
    return weekly.select(
        F.col("wk").cast("date").cast("string").alias("week_start"),
        "n_orders",
        "gmv_cents",
        F.when(prev.isNull(), F.lit(0).cast("long"))
        .otherwise(idiv((F.col("gmv_cents") - prev) * 10000, prev))
        .alias("wow_delta_bp"),
    )


# ---------------------------------------------------------------------------
# QUANTITY × PRICE-DECILE HEATMAP — the 2-D profile a pricing analyst
# reads first: lineitems bucketed by quantity band and extended-price
# decile (exact distributed NTILE over (price-cents, unique key) — a
# total order, so both engines bucket identically). Revenue per cell in
# exact integer cents.
# ---------------------------------------------------------------------------
@register(
    "lineitem_qty_price_heatmap",
    oracle="""
        WITH deciled AS (
            SELECT l_quantity,
                   CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS cents,
                   NTILE(10) OVER (
                       ORDER BY CAST(ROUND(l_extendedprice * 100.0) AS BIGINT),
                                l_orderkey, l_linenumber) AS price_decile
            FROM lineitem
        )
        SELECT CAST(((CAST(l_quantity AS BIGINT) - 1) // 10) * 10 + 1
                    AS BIGINT) AS qty_band_lo,
               CAST(price_decile AS BIGINT) AS price_decile,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(cents) AS BIGINT) AS revenue_cents
        FROM deciled
        GROUP BY 1, 2
    """,
    tags=("lineitem", "histogram", "ntile", "agg"),
)
def lineitem_qty_price_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_rank,
        ntile_from_rank,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100.0, 0).cast("long").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = distributed_rank(
        li, [F.col("cents"), F.col("l_orderkey"), F.col("l_linenumber")]
    )
    total = li.agg(F.count(F.lit(1)).cast("long").alias("_total"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            (idiv(F.col("qty") - 1, F.lit(10)) * 10 + 1).alias("qty_band_lo"),
            ntile_from_rank(F.col("rnk"), F.col("_total"), 10)
            .cast("long")
            .alias("price_decile"),
            "cents",
        )
        .groupBy("qty_band_lo", "price_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# TWO-FEATURE OLS VIA NORMAL EQUATIONS — price ~ quantity + discount as a
# closed-form 3×3 solve: the nine scatter moments are EXACT int64 sums
# (cents / whole units / discount points — the revenue_trend_ols moment
# pattern widened to two regressors), Cramer's rule runs in DOUBLE with
# the identical expression tree on both engines, and coefficients ship as
# rounded micro-units. One constant-width aggregate over lineitem, O(1)
# scalar math after it — the only shape a regression fit can take at
# 100 TB.
# ---------------------------------------------------------------------------
@register(
    "ols_two_feature_normal_eq",
    oracle="""
        WITH r AS (
            SELECT CAST(ROUND(l_extendedprice / 10.0) AS BIGINT) AS y,
                   CAST(ROUND(l_quantity) AS BIGINT) AS x1,
                   CAST(ROUND(l_discount * 100.0) AS BIGINT) AS x2
            FROM lineitem
        ),
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x1) AS BIGINT) AS s1,
                   CAST(SUM(x2) AS BIGINT) AS s2,
                   CAST(SUM(x1 * x1) AS BIGINT) AS s11,
                   CAST(SUM(x2 * x2) AS BIGINT) AS s22,
                   CAST(SUM(x1 * x2) AS BIGINT) AS s12,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(x1 * y) AS BIGINT) AS s1y,
                   CAST(SUM(x2 * y) AS BIGINT) AS s2y
            FROM r
        ),
        d AS (
            SELECT n,
                   CAST(n AS DOUBLE) AS dn, CAST(s1 AS DOUBLE) AS d1,
                   CAST(s2 AS DOUBLE) AS d2, CAST(s11 AS DOUBLE) AS d11,
                   CAST(s22 AS DOUBLE) AS d22, CAST(s12 AS DOUBLE) AS d12,
                   CAST(sy AS DOUBLE) AS dy, CAST(syy AS DOUBLE) AS dyy,
                   CAST(s1y AS DOUBLE) AS d1y, CAST(s2y AS DOUBLE) AS d2y
            FROM mo
        ),
        c AS (
            SELECT n, dn, d1, d2, dy, dyy, d1y, d2y,
                   dn * (d11 * d22 - d12 * d12)
                     - d1 * (d1 * d22 - d12 * d2)
                     + d2 * (d1 * d12 - d11 * d2) AS det,
                   dy * (d11 * d22 - d12 * d12)
                     - d1 * (d1y * d22 - d12 * d2y)
                     + d2 * (d1y * d12 - d11 * d2y) AS det0,
                   dn * (d1y * d22 - d12 * d2y)
                     - dy * (d1 * d22 - d12 * d2)
                     + d2 * (d1 * d2y - d1y * d2) AS det1,
                   dn * (d11 * d2y - d1y * d12)
                     - d1 * (d1 * d2y - d1y * d2)
                     + dy * (d1 * d12 - d11 * d2) AS det2,
                   d11, d22, d12
            FROM d
        ),
        b AS (
            SELECT n, dy, dyy, d1y, d2y, dn,
                   det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
            FROM c
        )
        SELECT n,
               CAST(ROUND(b0 * 1000000.0) AS BIGINT) AS b0_micro,
               CAST(ROUND(b1 * 1000000.0) AS BIGINT) AS b1_micro,
               CAST(ROUND(b2 * 1000000.0) AS BIGINT) AS b2_micro,
               CAST(ROUND((1.0 - (dyy - b0 * dy - b1 * d1y - b2 * d2y)
                                 / (dyy - dy * dy / dn))
                          * 1000000.0) AS BIGINT) AS r2_micro
        FROM b
    """,
    tags=("relational", "ml", "regression", "lineitem", "closed-form"),
)
def ols_two_feature_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    r = li.select(
        F.round(F.col("l_extendedprice") / 10.0, 0).cast("long").alias("y"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100.0, 0).cast("long").alias("x2"),
    )
    mo = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
    )
    d = mo.select(
        "n",
        F.col("n").cast("double").alias("dn"),
        F.col("s1").cast("double").alias("d1"),
        F.col("s2").cast("double").alias("d2"),
        F.col("s11").cast("double").alias("d11"),
        F.col("s22").cast("double").alias("d22"),
        F.col("s12").cast("double").alias("d12"),
        F.col("sy").cast("double").alias("dy"),
        F.col("syy").cast("double").alias("dyy"),
        F.col("s1y").cast("double").alias("d1y"),
        F.col("s2y").cast("double").alias("d2y"),
    )
    det = (
        F.col("dn") * (F.col("d11") * F.col("d22") - F.col("d12") * F.col("d12"))
        - F.col("d1") * (F.col("d1") * F.col("d22") - F.col("d12") * F.col("d2"))
        + F.col("d2") * (F.col("d1") * F.col("d12") - F.col("d11") * F.col("d2"))
    )
    det0 = (
        F.col("dy") * (F.col("d11") * F.col("d22") - F.col("d12") * F.col("d12"))
        - F.col("d1") * (F.col("d1y") * F.col("d22") - F.col("d12") * F.col("d2y"))
        + F.col("d2") * (F.col("d1y") * F.col("d12") - F.col("d11") * F.col("d2y"))
    )
    det1 = (
        F.col("dn") * (F.col("d1y") * F.col("d22") - F.col("d12") * F.col("d2y"))
        - F.col("dy") * (F.col("d1") * F.col("d22") - F.col("d12") * F.col("d2"))
        + F.col("d2") * (F.col("d1") * F.col("d2y") - F.col("d1y") * F.col("d2"))
    )
    det2 = (
        F.col("dn") * (F.col("d11") * F.col("d2y") - F.col("d1y") * F.col("d12"))
        - F.col("d1") * (F.col("d1") * F.col("d2y") - F.col("d1y") * F.col("d2"))
        + F.col("dy") * (F.col("d1") * F.col("d12") - F.col("d11") * F.col("d2"))
    )
    c = d.select(
        "n",
        "dy",
        "dyy",
        "d1y",
        "d2y",
        "dn",
        (det0 / det).alias("b0"),
        (det1 / det).alias("b1"),
        (det2 / det).alias("b2"),
    )
    return c.select(
        "n",
        F.round(F.col("b0") * 1000000.0, 0).cast("long").alias("b0_micro"),
        F.round(F.col("b1") * 1000000.0, 0).cast("long").alias("b1_micro"),
        F.round(F.col("b2") * 1000000.0, 0).cast("long").alias("b2_micro"),
        F.round(
            (
                1.0
                - (
                    F.col("dyy")
                    - F.col("b0") * F.col("dy")
                    - F.col("b1") * F.col("d1y")
                    - F.col("b2") * F.col("d2y")
                )
                / (F.col("dyy") - F.col("dy") * F.col("dy") / F.col("dn"))
            )
            * 1000000.0,
            0,
        )
        .cast("long")
        .alias("r2_micro"),
    )


# ---------------------------------------------------------------------------
# SUPPLIER SCORECARD — the composite supplier-health report a procurement
# dashboard serves: per supplier, line volume, return rate (basis
# points), mean order→ship latency (exact integer days, half-up), and
# discounted revenue in exact centi-cent integers (price cents ×
# (100 - discount points) — the q1 integerization, so the 100 TB sum is
# order-free). One lineitem⋈orders shuffle (both SF-scaled — no forced
# broadcast; AQE picks), supplier names ride the constant-size dim
# broadcast, top-25 by revenue via TakeOrderedAndProject.
# ---------------------------------------------------------------------------
SCORECARD_TOP = 25


@register(
    "supplier_scorecard",
    oracle=f"""
        WITH li AS (
            SELECT l.l_suppkey,
                   CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
                   date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE)) AS lat_days,
                   CAST(ROUND(l.l_extendedprice * 100.0) AS BIGINT)
                       * (100 - CAST(ROUND(l.l_discount * 100.0) AS BIGINT))
                       AS rev_ccents
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        ),
        agg AS (
            SELECT l_suppkey,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(ret) AS BIGINT) AS n_returns,
                   CAST(SUM(lat_days) AS BIGINT) AS sum_lat_days,
                   CAST(SUM(rev_ccents) AS BIGINT) AS revenue_ccents
            FROM li GROUP BY 1
        )
        SELECT s.s_suppkey, s.s_name, a.n_lines,
               CAST((2 * a.n_returns * 10000 + a.n_lines)
                    // (2 * a.n_lines) AS BIGINT) AS return_rate_bp,
               CAST((2 * a.sum_lat_days + a.n_lines)
                    // (2 * a.n_lines) AS BIGINT) AS avg_latency_days,
               a.revenue_ccents
        FROM agg a JOIN supplier s ON s.s_suppkey = a.l_suppkey
        ORDER BY a.revenue_ccents DESC, s.s_suppkey
        LIMIT {SCORECARD_TOP}
    """,
    tags=("relational", "supplier", "scorecard", "agg"),
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_suppkey",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("lat_days"),
        (
            F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
            * (100 - F.round(F.col("l_discount") * 100.0, 0).cast("long"))
        ).alias("rev_ccents"),
    )
    agg = j.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("ret").cast("long").alias("n_returns"),
        F.sum("lat_days").cast("long").alias("sum_lat_days"),
        F.sum("rev_ccents").cast("long").alias("revenue_ccents"),
    )
    return (
        agg.join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            agg.l_suppkey == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            "n_lines",
            idiv(
                F.col("n_returns") * 2 * 10000 + F.col("n_lines"),
                F.col("n_lines") * 2,
            ).alias("return_rate_bp"),
            idiv(
                F.col("sum_lat_days") * 2 + F.col("n_lines"),
                F.col("n_lines") * 2,
            ).alias("avg_latency_days"),
            "revenue_ccents",
        )
        .orderBy(F.desc("revenue_ccents"), "s_suppkey")
        .limit(SCORECARD_TOP)
    )


# ---------------------------------------------------------------------------
# DEGREE ASSORTATIVITY — do high-degree suppliers link to high-degree
# parts? Pearson correlation over the supplier–part edge list between
# endpoint degrees, in the exact-integer moment-sum form (degrees are
# small ints; every scatter moment fits int64 with orders of magnitude
# to spare). Two bounded aggregates produce the degree tables; the edge
# join shuffles on the edge keys only; the final r is one identical
# double expression on both engines, shipped as micro-units.
# ---------------------------------------------------------------------------
@register(
    "graph_assortativity",
    oracle="""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
        ),
        ds AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg_s FROM edges GROUP BY 1),
        dp AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS deg_p FROM edges GROUP BY 1),
        xy AS (
            SELECT ds.deg_s AS x, dp.deg_p AS y
            FROM edges e JOIN ds ON ds.s = e.s JOIN dp ON dp.p = e.p
        ),
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM xy
        )
        SELECT n AS n_edges,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ds) AS n_suppliers,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM dp) AS n_parts,
               CAST(ROUND(
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   * 1000000.0) AS BIGINT) AS assortativity_micro
        FROM mo
    """,
    tags=("graph", "stats", "lineitem", "closed-form"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    ds = edges.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("deg_s"))
    dp = edges.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("deg_p"))
    xy = (
        edges.join(ds, "s")
        .join(dp, "p")
        .select(F.col("deg_s").alias("x"), F.col("deg_p").alias("y"))
    )
    mo = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n_s = ds.agg(F.count(F.lit(1)).cast("long").alias("n_suppliers"))
    n_p = dp.agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = F.sqrt(
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) * F.sqrt(
        nd * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return (
        mo.crossJoin(F.broadcast(n_s))
        .crossJoin(F.broadcast(n_p))
        .select(
            F.col("n").alias("n_edges"),
            "n_suppliers",
            "n_parts",
            F.round(num / den * 1000000.0, 0)
            .cast("long")
            .alias("assortativity_micro"),
        )
    )


# ---------------------------------------------------------------------------
# DISCOUNT ELASTICITY BY BRAND — per-brand OLS slope of quantity on
# discount points: does discounting move volume, and for which brands?
# Closed form from exact int64 scatter moments per brand (the
# revenue_trend_ols shape, one grouped aggregate over the
# lineitem⋈part join), slope and intercept as identical double
# expressions rounded to micro-units. Brands with a degenerate design
# matrix (single discount level) are dropped on both engines.
# ---------------------------------------------------------------------------
@register(
    "discount_elasticity_by_brand",
    oracle="""
        WITH r AS (
            SELECT p.p_brand,
                   CAST(ROUND(l.l_discount * 100.0) AS BIGINT) AS x,
                   CAST(ROUND(l.l_quantity) AS BIGINT) AS y
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ),
        mo AS (
            SELECT p_brand,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM r GROUP BY 1
        )
        SELECT p_brand, n,
               CAST(ROUND(
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * 1000000.0) AS BIGINT) AS slope_micro,
               CAST(ROUND(
                   (CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * 1000000.0) AS BIGINT) AS intercept_micro
        FROM mo
        WHERE n * sxx - sx * sx > 0
    """,
    tags=("relational", "regression", "lineitem", "part"),
)
def discount_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    r = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.round(F.col("l_discount") * 100.0, 0).cast("long").alias("x"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("y"),
    )
    mo = r.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    den = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / den
    intercept = (
        F.col("sy").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sxy").cast("double")
    ) / den
    return mo.filter(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0
    ).select(
        "p_brand",
        "n",
        F.round(slope * 1000000.0, 0).cast("long").alias("slope_micro"),
        F.round(intercept * 1000000.0, 0).cast("long").alias("intercept_micro"),
    )


# ---------------------------------------------------------------------------
# HOURLY-PROFILE SHAPE SIMILARITY — which event types share a temporal
# shape? Each type's 24-bin hour-of-day histogram is an exact integer
# vector; pairwise cosine comes from one equi-join on the hour bin
# (dot products are exact int64; the two norms are correctly-rounded
# sqrts of exact ints, so the final micro-rounded cosine is
# engine-identical). Output is the bounded upper triangle of the type
# vocabulary — never data-sized.
# ---------------------------------------------------------------------------
@register(
    "events_profile_cosine_pairs",
    oracle="""
        WITH prof AS (
            SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        nrm AS (
            SELECT event_type, CAST(SUM(c * c) AS BIGINT) AS n2
            FROM prof GROUP BY 1
        ),
        dots AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(SUM(a.c * b.c) AS BIGINT) AS dot
            FROM prof a
            JOIN prof b ON a.h = b.h AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT d.type_a, d.type_b, d.dot,
               CAST(ROUND(CAST(d.dot AS DOUBLE)
                          / (sqrt(CAST(na.n2 AS DOUBLE))
                             * sqrt(CAST(nb.n2 AS DOUBLE)))
                          * 1000000.0) AS BIGINT) AS cosine_micro
        FROM dots d
        JOIN nrm na ON na.event_type = d.type_a
        JOIN nrm nb ON nb.event_type = d.type_b
    """,
    tags=("events", "timeseries", "similarity", "agg"),
)
def events_profile_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    prof = events.groupBy(
        "event_type", F.hour("ts").cast("long").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    nrm = prof.groupBy("event_type").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("n2")
    )
    a = prof.select(F.col("event_type").alias("type_a"), "h", F.col("c").alias("ca"))
    b = prof.select(F.col("event_type").alias("type_b"), "h", F.col("c").alias("cb"))
    dots = (
        a.join(b, "h")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
    )
    na = nrm.select(F.col("event_type").alias("type_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("event_type").alias("type_b"), F.col("n2").alias("nb2"))
    return (
        dots.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "dot",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
                * 1000000.0,
                0,
            )
            .cast("long")
            .alias("cosine_micro"),
        )
    )


# ---------------------------------------------------------------------------
# MARKOV STATIONARY DISTRIBUTION — where does the user-journey chain
# settle? The per-user event-type transition counts (lag window keyed by
# user — never global) define the chain; three power steps
# π ← π P run in PURE int64 arithmetic: π is carried in micro-units and
# every term is (π_i · c_ij) div c_i — exact on both engines, so the
# iteration needs no floating point at all. State is |types|² counts
# (broadcast); the driver loop is over declarative plans, the
# dedup_connected_components pattern.
# ---------------------------------------------------------------------------
MARKOV_STEPS = 3
MARKOV_PI_SCALE = 1_000_000


def _markov_oracle() -> str:
    step_tpl = """
        pi{t} AS (
            SELECT tm.nxt AS event_type,
                   CAST(SUM((p.pi * tm.c) // tm.tot) AS BIGINT) AS pi
            FROM pi{prev} p
            JOIN tm ON tm.prv = p.event_type
            GROUP BY 1
        )"""
    steps = ",".join(
        step_tpl.format(t=t, prev=t - 1) for t in range(1, MARKOV_STEPS + 1)
    )
    return f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS nxt
            FROM events
        ),
        tm0 AS (
            SELECT event_type AS prv, nxt, CAST(COUNT(*) AS BIGINT) AS c
            FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
        ),
        tm AS (
            SELECT prv, nxt, c,
                   CAST(SUM(c) OVER (PARTITION BY prv) AS BIGINT) AS tot
            FROM tm0
        ),
        states AS (SELECT DISTINCT prv AS event_type FROM tm),
        pi0 AS (
            SELECT event_type,
                   CAST({MARKOV_PI_SCALE} // (SELECT COUNT(*) FROM states)
                        AS BIGINT) AS pi
            FROM states
        ),
        {steps}
        SELECT event_type, pi AS pi_micro FROM pi{MARKOV_STEPS}
    """


@register(
    "events_markov_stationary",
    oracle=_markov_oracle(),
    tags=("events", "graph", "markov", "iterative"),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    tm0 = seq.groupBy(F.col("event_type").alias("prv"), "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = tm0.groupBy("prv").agg(F.sum("c").cast("long").alias("tot"))
    tm = tm0.join(F.broadcast(tot), "prv")
    states = tm.select(F.col("prv").alias("event_type")).distinct()
    n_states = states.agg(F.count(F.lit(1)).cast("long").alias("k"))
    pi = states.crossJoin(F.broadcast(n_states)).select(
        "event_type", idiv(F.lit(MARKOV_PI_SCALE).cast("long"), F.col("k")).alias("pi")
    )
    for _ in range(MARKOV_STEPS):
        pi = (
            F.broadcast(pi)
            .join(tm, pi.event_type == tm.prv)
            .groupBy(F.col("nxt").alias("event_type"))
            .agg(
                F.sum(
                    F.call_function("div", F.col("pi") * F.col("c"), F.col("tot"))
                )
                .cast("long")
                .alias("pi")
            )
        )
    return pi.select("event_type", F.col("pi").alias("pi_micro"))


# ---------------------------------------------------------------------------
# SEGMENT-MIX ENTROPY BY NATION — how diverse is each nation's customer
# base across market segments? Shannon entropy in integer micro-nats via
# the ILN fixed-point log (zero libm on either engine):
# H·N = N·ILN(N) − Σ c_i·ILN(c_i), divided out half-up. Group
# cardinality is nations × segments — bounded; the 63-row ILN table
# broadcasts.
# ---------------------------------------------------------------------------
def _entropy_oracle() -> str:
    from kafka_stream_job_spark.operators.text import (
        _ILN_VALUES_SQL,
        _iln_frac_sql,
    )

    return f"""
        WITH seg AS (
            SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS c
            FROM customer GROUP BY 1, 2
        ),
        ntot AS (
            SELECT c_nationkey, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_segments
            FROM seg GROUP BY 1
        ),
        ilntab(e, lo, hi, sdiv, smul, eln) AS (VALUES {_ILN_VALUES_SQL}),
        segw AS (
            SELECT s.c_nationkey,
                   CAST(SUM(s.c * (t.eln
                       + {_iln_frac_sql('((s.c // t.sdiv) * t.smul)')}))
                       AS BIGINT) AS sum_c_iln
            FROM seg s JOIN ilntab t ON s.c >= t.lo AND s.c <= t.hi
            GROUP BY 1
        ),
        nw AS (
            SELECT x.c_nationkey, x.n, x.n_segments,
                   x.n * (t.eln
                       + {_iln_frac_sql('((x.n // t.sdiv) * t.smul)')})
                       AS n_iln_n
            FROM ntot x JOIN ilntab t ON x.n >= t.lo AND x.n <= t.hi
        )
        SELECT nn.n_name, w.n AS n_customers, w.n_segments,
               CAST((2 * (w.n_iln_n - sw.sum_c_iln) + w.n) // (2 * w.n)
                    AS BIGINT) AS entropy_unats
        FROM nw w
        JOIN segw sw ON sw.c_nationkey = w.c_nationkey
        JOIN nation nn ON nn.n_nationkey = w.c_nationkey
    """


@register(
    "customer_segment_entropy_by_nation",
    oracle=_entropy_oracle(),
    tags=("relational", "entropy", "customer", "stats"),
)
def customer_segment_entropy_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from kafka_stream_job_spark.operators.text import _attach_iln

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    seg = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ntot = seg.groupBy("c_nationkey").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_segments"),
    )
    segw = (
        _attach_iln(spark, seg, "c", "iln_c")
        .groupBy("c_nationkey")
        .agg(F.sum(F.col("c") * F.col("iln_c")).cast("long").alias("sum_c_iln"))
    )
    nw = _attach_iln(spark, ntot, "n", "iln_n").select(
        "c_nationkey",
        "n",
        "n_segments",
        (F.col("n") * F.col("iln_n")).alias("n_iln_n"),
    )
    return (
        nw.join(segw, "c_nationkey")
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.col("n").alias("n_customers"),
            "n_segments",
            idiv(
                (F.col("n_iln_n") - F.col("sum_c_iln")) * 2 + F.col("n"),
                F.col("n") * 2,
            ).alias("entropy_unats"),
        )
    )


# ---------------------------------------------------------------------------
# MANN-WHITNEY U TEST — the rank-based two-sample test (completing the
# KS / chi² / z-uplift family): do 'view' and 'purchase' event values
# come from the same distribution? Ranks are carried as DOUBLED midranks
# (2·below + ties + 1 — always an integer, so tie handling is exact with
# no rational arithmetic), accumulated over the DISTINCT-value table
# (bounded by the value domain, not the row count) via the distributed
# prefix-sum primitive — no global window. The normal approximation
# applies the exact tie correction Σ(t³−t); int64 math holds to ~1e9
# rows per sample, after which the doubled rank sums would need the
# per-partition-centered variant.
# ---------------------------------------------------------------------------
MW_TYPE_A = "view"
MW_TYPE_B = "purchase"


@register(
    "events_mann_whitney_test",
    oracle=f"""
        WITH s AS (
            SELECT CAST(ROUND(value * 100.0) AS BIGINT) AS cents,
                   CASE WHEN event_type = '{MW_TYPE_A}' THEN 1 ELSE 0 END AS a
            FROM events
            WHERE event_type IN ('{MW_TYPE_A}', '{MW_TYPE_B}')
        ),
        g AS (
            SELECT cents,
                   CAST(SUM(a) AS BIGINT) AS n_a,
                   CAST(COUNT(*) - SUM(a) AS BIGINT) AS n_b,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM s GROUP BY 1
        ),
        r AS (
            SELECT n_a, n_b, n,
                   CAST(SUM(n) OVER (ORDER BY cents) AS BIGINT) AS running
            FROM g
        ),
        mo AS (
            SELECT CAST(SUM(n_a) AS BIGINT) AS na,
                   CAST(SUM(n_b) AS BIGINT) AS nb,
                   CAST(SUM(n) AS BIGINT) AS nn,
                   CAST(SUM(n_a * (2 * (running - n) + n + 1)) AS BIGINT)
                       AS r2a,
                   CAST(SUM(n * n * n - n) AS BIGINT) AS tie_t
            FROM r
        )
        SELECT na AS n_a, nb AS n_b,
               r2a - na * (na + 1) AS u2_a,
               tie_t,
               CAST(ROUND(
                   (CAST(r2a - na * (na + 1) AS DOUBLE)
                    - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                   / (2.0 * sqrt(
                       CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                       * (CAST(nn AS DOUBLE) + 1.0
                          - CAST(tie_t AS DOUBLE)
                            / (CAST(nn AS DOUBLE)
                               * (CAST(nn AS DOUBLE) - 1.0)))))
                   * 1000000.0) AS BIGINT) AS z_micro
        FROM mo
    """,
    tags=("events", "stats", "hypothesis-test", "distributed-rank"),
)
def events_mann_whitney_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_prefix_sum,
    )

    events = load_table(spark, sf_dir, "events")
    s = events.filter(
        F.col("event_type").isin(MW_TYPE_A, MW_TYPE_B)
    ).select(
        F.round(F.col("value") * 100.0, 0).cast("long").alias("cents"),
        F.when(F.col("event_type") == MW_TYPE_A, 1).otherwise(0).alias("a"),
    )
    g = s.groupBy("cents").agg(
        F.sum("a").cast("long").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("a")).cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    r = distributed_prefix_sum(g, [F.col("cents")], "n", out_col="running")
    mo = r.agg(
        F.sum("n_a").cast("long").alias("na"),
        F.sum("n_b").cast("long").alias("nb"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(
            F.col("n_a")
            * (2 * (F.col("running") - F.col("n")) + F.col("n") + 1)
        )
        .cast("long")
        .alias("r2a"),
        F.sum(F.col("n") * F.col("n") * F.col("n") - F.col("n"))
        .cast("long")
        .alias("tie_t"),
    )
    u2a = F.col("r2a") - F.col("na") * (F.col("na") + 1)
    nad, nbd, nnd = (
        F.col("na").cast("double"),
        F.col("nb").cast("double"),
        F.col("nn").cast("double"),
    )
    var = (
        nad
        * nbd
        / 12.0
        * (nnd + 1.0 - F.col("tie_t").cast("double") / (nnd * (nnd - 1.0)))
    )
    return mo.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        u2a.alias("u2_a"),
        "tie_t",
        F.round(
            (u2a.cast("double") - nad * nbd) / (2.0 * F.sqrt(var)) * 1000000.0,
            0,
        )
        .cast("long")
        .alias("z_micro"),
    )


# ---------------------------------------------------------------------------
# OFFLINE BANDIT REPLAY — counterfactual evaluation of a greedy policy
# against the event log (the Li et al. replay method, hour-granular):
# at each hour the policy plays the event type with the best cumulative
# mean reward STRICTLY BEFORE that hour (cold-start ties to the
# lexicographically smallest type), and is paid the type's actual mean
# that hour; regret compares against the hour's best-performing type.
# All state lives on the dense (type × hour) grid — bounded by the two
# domains, never by the row count; the only data-sized work is the
# hourly pre-aggregate. Per-hour means quantize to exact integer
# micro-cents BEFORE any cross-hour sum, so regret totals are
# order-free; the greedy argmax key is one (cold, −mean, type) struct
# extreme with identically-derived doubles on both engines.
# ---------------------------------------------------------------------------
@register(
    "bandit_replay_hourly",
    oracle="""
        WITH hourly AS (
            SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
                       AS s
            FROM events GROUP BY 1, 2
        ),
        grid AS (
            SELECT t.event_type, hh.h,
                   COALESCE(x.n, 0) AS n, COALESCE(x.s, 0) AS s
            FROM (SELECT DISTINCT event_type FROM hourly) t
            CROSS JOIN (SELECT DISTINCT h FROM hourly) hh
            LEFT JOIN hourly x
              ON x.event_type = t.event_type AND x.h = hh.h
        ),
        cum AS (
            SELECT event_type, h, n, s,
                   CAST(COALESCE(SUM(n) OVER (
                       PARTITION BY event_type ORDER BY h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS cn,
                   CAST(COALESCE(SUM(s) OVER (
                       PARTITION BY event_type ORDER BY h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS cs
            FROM grid
        ),
        scored AS (
            SELECT event_type, h, n, s,
                   CASE WHEN n > 0
                        THEN CAST((2 * s * 1000000 + n) // (2 * n) AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS mean_micro,
                   CASE WHEN cn > 0 THEN 0 ELSE 1 END AS cold,
                   CASE WHEN cn > 0 THEN -(CAST(cs AS DOUBLE) / cn)
                        ELSE 0.0 END AS neg_cum_mean
            FROM cum
        ),
        per_hour AS (
            SELECT h,
                   (MIN(struct_pack(cold := cold, nm := neg_cum_mean,
                                    t := event_type, s := s, n := n,
                                    mm := mean_micro))) AS ch,
                   MAX(CASE WHEN n > 0 THEN mean_micro END) AS best_micro
            FROM scored GROUP BY 1
        )
        SELECT ch.t AS chosen_type,
               CAST(COUNT(*) AS BIGINT) AS n_hours_chosen,
               CAST(SUM(ch.s) AS BIGINT) AS sum_realized_cents,
               CAST(SUM(best_micro - ch.mm) AS BIGINT) AS sum_regret_micro
        FROM per_hour GROUP BY 1
    """,
    tags=("events", "bandit", "policy-replay", "timeseries"),
)
def bandit_replay_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("s"),
    )
    types = hourly.select("event_type").distinct()
    hours = hourly.select("h").distinct()
    grid = (
        types.crossJoin(hours)
        .join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
            F.coalesce(F.col("s"), F.lit(0).cast("long")).alias("s"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.select(
        "event_type",
        "h",
        "n",
        "s",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long").alias("cn"),
        F.coalesce(F.sum("s").over(w), F.lit(0)).cast("long").alias("cs"),
    )
    mean_micro = F.when(
        F.col("n") > 0,
        idiv(F.col("s") * 2 * 1000000 + F.col("n"), F.col("n") * 2),
    ).otherwise(F.lit(0).cast("long"))
    scored = cum.select(
        "event_type",
        "h",
        "n",
        "s",
        mean_micro.alias("mean_micro"),
        F.when(F.col("cn") > 0, 0).otherwise(1).alias("cold"),
        F.when(
            F.col("cn") > 0, -(F.col("cs").cast("double") / F.col("cn"))
        )
        .otherwise(F.lit(0.0))
        .alias("neg_cum_mean"),
    )
    per_hour = scored.groupBy("h").agg(
        F.min(
            F.struct(
                F.col("cold").alias("cold"),
                F.col("neg_cum_mean").alias("nm"),
                F.col("event_type").alias("t"),
                F.col("s").alias("s"),
                F.col("n").alias("n"),
                F.col("mean_micro").alias("mm"),
            )
        ).alias("ch"),
        F.max(F.when(F.col("n") > 0, F.col("mean_micro"))).alias("best_micro"),
    )
    return per_hour.groupBy(F.col("ch.t").alias("chosen_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_hours_chosen"),
        F.sum(F.col("ch.s")).cast("long").alias("sum_realized_cents"),
        F.sum(F.col("best_micro") - F.col("ch.mm"))
        .cast("long")
        .alias("sum_regret_micro"),
    )


# ---------------------------------------------------------------------------
# LABEL PROPAGATION (2 SYNCHRONOUS ROUNDS) — community seeds on the
# supplier–part bipartite graph: every node starts labeled with its own
# namespaced id and takes min(own, neighbors') each round, unrolled
# twice (the bounded-round cousin of dedup_connected_components'
# run-to-convergence loop — a production pipeline runs a FIXED budget
# and reports progress). Each round is two edge-keyed joins; labels
# travel with the edges, so no adjacency ever materializes per node.
# Output: the community-size histogram after round 2, top 20.
# ---------------------------------------------------------------------------
LPA_PART_BASE = 1_000_000_000  # namespace part nodes above supplier ids
LPA_TOP = 20


@register(
    "graph_label_propagation",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS s,
                   l_partkey + {LPA_PART_BASE} AS p
            FROM lineitem
        ),
        l0 AS (
            SELECT s AS node, s AS lbl FROM (SELECT DISTINCT s FROM edges)
            UNION ALL
            SELECT p AS node, p AS lbl FROM (SELECT DISTINCT p FROM edges)
        ),
        r1 AS (
            SELECT n.node,
                   LEAST(n.lbl, COALESCE(MIN(o.lbl), n.lbl)) AS lbl
            FROM l0 n
            LEFT JOIN (
                SELECT e.s AS node, l.lbl FROM edges e JOIN l0 l ON l.node = e.p
                UNION ALL
                SELECT e.p AS node, l.lbl FROM edges e JOIN l0 l ON l.node = e.s
            ) o ON o.node = n.node
            GROUP BY n.node, n.lbl
        ),
        r2 AS (
            SELECT n.node,
                   LEAST(n.lbl, COALESCE(MIN(o.lbl), n.lbl)) AS lbl
            FROM r1 n
            LEFT JOIN (
                SELECT e.s AS node, l.lbl FROM edges e JOIN r1 l ON l.node = e.p
                UNION ALL
                SELECT e.p AS node, l.lbl FROM edges e JOIN r1 l ON l.node = e.s
            ) o ON o.node = n.node
            GROUP BY n.node, n.lbl
        )
        SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM r2 GROUP BY 1
        ORDER BY n_nodes DESC, community
        LIMIT {LPA_TOP}
    """,
    tags=("graph", "community", "iterative", "lineitem"),
    bench_ext=True,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("s"),
        (F.col("l_partkey") + LPA_PART_BASE).alias("p"),
    ).distinct()
    # Symmetric adjacency: each undirected edge contributes both
    # directions once, so ONE nbr-keyed join per round replaces the
    # former per-round pair of direction-specific joins (r13; guide
    # §2.4). Rounds keep LEAST(own, MIN(neighbor labels)) — the
    # own-label row rides the union, exactly the r12 formulation.
    adj = edges.select(
        F.col("s").alias("node"), F.col("p").alias("nbr")
    ).unionAll(edges.select(F.col("p").alias("node"), F.col("s").alias("nbr")))
    # Round 1 needs NO join at all: the initial label of every node IS
    # its id, so min(own, min over neighbor labels) = min(node, min nbr)
    # — one keyed aggregate straight off the adjacency. (Every node in
    # l0 appears in adj, because l0 was derived from the edge list; the
    # oracle's COALESCE(no-neighbors) arm is vacuous for the same
    # reason.) This removes the whole l0-joined round-1 subtree that
    # round 2 then re-planned 3x (52 parquet scans in the r12 plan).
    l1 = adj.groupBy("node").agg(F.min(F.least("node", "nbr")).alias("lbl"))
    # Round 2: one join carries l1 across edges; own label unions in, so
    # LEAST(own, MIN(neighbors)) is again ONE keyed min-aggregate. l1
    # appears twice (join side + union side) — identical subtrees, which
    # AQE stage reuse collapses to one materialization.
    contrib = (
        adj.join(
            l1.select(F.col("node").alias("nbr"), F.col("lbl").alias("o_lbl")),
            "nbr",
        )
        .select("node", "o_lbl")
        .unionAll(l1.select("node", F.col("lbl").alias("o_lbl")))
    )
    labels = contrib.groupBy("node").agg(F.min("o_lbl").alias("lbl"))
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "community")
        .limit(LPA_TOP)
    )


# ---------------------------------------------------------------------------
# ATTRIBUTION WINDOW SWEEP — the policy question behind
# asof_purchase_attribution: how much attribution coverage does each
# candidate lookback window buy? The last-touch resolution runs ONCE
# (the union + last-ignorenulls window — one user-keyed shuffle, no
# range-join explosion), and the {5 min, 30 min, 2 h} sweep is three
# CASE-sums over the same resolved rows — a window-grid costs one scan,
# not |grid| scans. Lags are exact integer seconds.
# ---------------------------------------------------------------------------
ATTR_WINDOWS_SEC = (300, 1800, 7200)


@register(
    "attribution_window_sweep",
    oracle=f"""
        WITH touches AS (
            SELECT user_id, ts
            FROM events WHERE event_type IN ('view', 'click')
        ),
        purchases AS (
            SELECT user_id, ts, event_id FROM events
            WHERE event_type = 'purchase'
        ),
        resolved AS (
            SELECT p.event_id,
                   CAST(date_diff('second', t.ts, p.ts) AS BIGINT) AS lag_s
            FROM purchases p
            ASOF LEFT JOIN touches t
              ON p.user_id = t.user_id AND t.ts <= p.ts
        ),
        grid(w_seconds) AS (VALUES {", ".join(f"({w})" for w in ATTR_WINDOWS_SEC)})
        SELECT CAST(g.w_seconds AS BIGINT) AS w_seconds,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(SUM(CASE WHEN r.lag_s IS NOT NULL
                              AND r.lag_s <= g.w_seconds
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
               CAST((2 * CAST(SUM(CASE WHEN r.lag_s IS NOT NULL
                                        AND r.lag_s <= g.w_seconds
                                       THEN 1 ELSE 0 END) AS BIGINT) * 10000
                     + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS attach_bp,
               CAST(SUM(CASE WHEN r.lag_s IS NOT NULL
                              AND r.lag_s <= g.w_seconds
                             THEN r.lag_s ELSE 0 END) AS BIGINT)
                   AS sum_lag_seconds
        FROM resolved r CROSS JOIN grid g
        GROUP BY 1
    """,
    tags=("join", "asof", "attribution", "sweep", "events"),
)
def attribution_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    touches = events.filter(
        F.col("event_type").isin("view", "click")
    ).select(
        "user_id",
        "ts",
        F.lit(0).alias("marker"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("ts").alias("touch_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("marker"),
        "event_id",
        F.lit(None).cast(events.schema["ts"].dataType).alias("touch_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "marker")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    resolved = (
        touches.unionByName(purchases)
        .withColumn("last_touch_ts", F.last("touch_ts", ignorenulls=True).over(w))
        .filter(F.col("marker") == 1)
        .select(
            "event_id",
            # truncate-each-then-diff == DuckDB date_diff('second', ...):
            # both count second-boundary crossings, not elapsed seconds
            (F.unix_timestamp("ts") - F.unix_timestamp("last_touch_ts"))
            .cast("long")
            .alias("lag_s"),
        )
    )
    grid = jvm_values_df(
        spark, [(w,) for w in ATTR_WINDOWS_SEC], "w_seconds long"
    )
    attributed = F.when(
        F.col("lag_s").isNotNull() & (F.col("lag_s") <= F.col("w_seconds")), 1
    ).otherwise(0)
    return (
        resolved.crossJoin(F.broadcast(grid))
        .groupBy("w_seconds")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(attributed).cast("long").alias("n_attributed"),
            F.sum(
                F.when(attributed == 1, F.col("lag_s")).otherwise(0)
            )
            .cast("long")
            .alias("sum_lag_seconds"),
        )
        .select(
            "w_seconds",
            "n_purchases",
            "n_attributed",
            idiv(
                F.col("n_attributed") * 2 * 10000 + F.col("n_purchases"),
                F.col("n_purchases") * 2,
            ).alias("attach_bp"),
            "sum_lag_seconds",
        )
    )


# ---------------------------------------------------------------------------
# SEASONALITY STRENGTH (η²) — how much of each event type's value
# variance is explained by hour-of-day? The one-number STL-lite signal
# that decides whether a forecaster needs a seasonal term. All scatter
# moments are exact int64 cents; the one rational per group (S_g²/n_g)
# quantizes to an integer BEFORE the 24-group sum, so η² is engine-
# exact. Two bounded aggregates — nothing here scales past
# |types| × 24 rows after the first scan.
# ---------------------------------------------------------------------------
@register(
    "events_seasonality_strength",
    oracle="""
        WITH c AS (
            SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
                   CAST(ROUND(value * 100.0) AS BIGINT) AS cents
            FROM events
        ),
        g AS (
            SELECT event_type, hod,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   CAST(SUM(cents) AS BIGINT) AS s_g
            FROM c GROUP BY 1, 2
        ),
        gq AS (
            SELECT event_type, n_g, s_g,
                   CAST(ROUND(CAST(s_g AS DOUBLE) * s_g / n_g) AS BIGINT)
                       AS t_g
            FROM g
        ),
        tot AS (
            SELECT event_type,
                   CAST(SUM(n_g) AS BIGINT) AS n,
                   CAST(SUM(s_g) AS BIGINT) AS s,
                   CAST(SUM(t_g) AS BIGINT) AS sum_t,
                   CAST(COUNT(*) AS BIGINT) AS n_hours_of_day
            FROM gq GROUP BY 1
        ),
        sq AS (
            SELECT event_type, CAST(SUM(cents * cents) AS BIGINT) AS ss
            FROM c GROUP BY 1
        )
        SELECT t.event_type, t.n, t.n_hours_of_day,
               CAST(ROUND(
                   (CAST(t.n AS DOUBLE) * CAST(t.sum_t AS DOUBLE)
                    - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE))
                   / (CAST(t.n AS DOUBLE) * CAST(q.ss AS DOUBLE)
                      - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE))
                   * 1000000.0) AS BIGINT) AS eta2_micro
        FROM tot t JOIN sq q ON q.event_type = t.event_type
    """,
    tags=("events", "timeseries", "seasonality", "stats"),
)
def events_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    c = events.select(
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        F.round(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    )
    g = c.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("cents").cast("long").alias("s_g"),
    )
    gq = g.select(
        "event_type",
        "n_g",
        "s_g",
        F.round(F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g"), 0)
        .cast("long")
        .alias("t_g"),
    )
    tot = gq.groupBy("event_type").agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("t_g").cast("long").alias("sum_t"),
        F.count(F.lit(1)).cast("long").alias("n_hours_of_day"),
    )
    sq = c.groupBy("event_type").agg(
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss")
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    eta2 = (
        (nd * F.col("sum_t").cast("double") - sd * sd)
        / (nd * F.col("ss").cast("double") - sd * sd)
    )
    return tot.join(sq, "event_type").select(
        "event_type",
        "n",
        "n_hours_of_day",
        F.round(eta2 * 1000000.0, 0).cast("long").alias("eta2_micro"),
    )


# ---------------------------------------------------------------------------
# HOURLY TYPE-MIX ENTROPY — per-hour Shannon entropy of the event-type
# mix in ILN micro-nats: the live "is traffic composition shifting"
# drift series (an hour whose entropy collapses is a bot storm or an
# outage of every other type). Group cardinality is hours × types —
# time-domain-bounded; the 63-row ILN table broadcasts.
# ---------------------------------------------------------------------------
def _hourly_entropy_oracle() -> str:
    from kafka_stream_job_spark.operators.text import (
        _ILN_VALUES_SQL,
        _iln_frac_sql,
    )

    return f"""
        WITH c AS (
            SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_ts,
                   event_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT hour_ts, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS n_types
            FROM c GROUP BY 1
        ),
        ilntab(e, lo, hi, sdiv, smul, eln) AS (VALUES {_ILN_VALUES_SQL}),
        cw AS (
            SELECT x.hour_ts,
                   CAST(SUM(x.c * (t.eln
                       + {_iln_frac_sql('((x.c // t.sdiv) * t.smul)')}))
                       AS BIGINT) AS sum_c_iln
            FROM c x JOIN ilntab t ON x.c >= t.lo AND x.c <= t.hi
            GROUP BY 1
        ),
        nw AS (
            SELECT x.hour_ts, x.n, x.n_types,
                   x.n * (t.eln
                       + {_iln_frac_sql('((x.n // t.sdiv) * t.smul)')})
                       AS n_iln_n
            FROM tot x JOIN ilntab t ON x.n >= t.lo AND x.n <= t.hi
        )
        SELECT w.hour_ts, w.n AS n_events, w.n_types,
               CAST((2 * (w.n_iln_n - cw.sum_c_iln) + w.n) // (2 * w.n)
                    AS BIGINT) AS entropy_unats
        FROM nw w JOIN cw ON cw.hour_ts = w.hour_ts
    """


@register(
    "events_hourly_type_entropy",
    oracle=_hourly_entropy_oracle(),
    tags=("events", "entropy", "drift", "timeseries"),
)
def events_hourly_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators.text import _attach_iln

    events = load_table(spark, sf_dir, "events")
    c = events.groupBy(
        F.date_trunc("hour", "ts").cast("string").alias("hour_ts"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = c.groupBy("hour_ts").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    cw = (
        _attach_iln(spark, c, "c", "iln_c")
        .groupBy("hour_ts")
        .agg(F.sum(F.col("c") * F.col("iln_c")).cast("long").alias("sum_c_iln"))
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
# HILL TAIL-INDEX ESTIMATOR — is the event-value distribution heavy-
# tailed, and how heavy? The Hill estimator over the global top-K order
# statistics, with every logarithm the pure-int64 ILN fixed-point (zero
# libm): ξ ≈ mean of (ILN(x_i) − ILN(x_min-of-top-K)) in micro-nats.
# The only global order is a TakeOrderedAndProject of K = 100 rows —
# constant, never a data-sized sort; the ILN table broadcasts.
# ---------------------------------------------------------------------------
HILL_K = 100


def _hill_oracle() -> str:
    from kafka_stream_job_spark.operators.text import (
        _ILN_VALUES_SQL,
        _iln_frac_sql,
    )

    return f"""
        WITH topk AS (
            SELECT CAST(ROUND(value * 100.0) AS BIGINT) AS cents
            FROM events
            ORDER BY cents DESC, event_id
            LIMIT {HILL_K}
        ),
        ilntab(e, lo, hi, sdiv, smul, eln) AS (VALUES {_ILN_VALUES_SQL}),
        w AS (
            SELECT x.cents,
                   t.eln + {_iln_frac_sql('((x.cents // t.sdiv) * t.smul)')}
                       AS iln_c
            FROM topk x JOIN ilntab t ON x.cents >= t.lo AND x.cents <= t.hi
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MIN(cents) AS BIGINT) AS x_k_cents,
               CAST((2 * (CAST(SUM(iln_c) AS BIGINT)
                          - COUNT(*) * MIN(iln_c)) + COUNT(*))
                    // (2 * COUNT(*)) AS BIGINT) AS hill_unats
        FROM w
    """


@register(
    "events_hill_tail_index",
    oracle=_hill_oracle(),
    tags=("events", "stats", "heavy-tail", "order-stats"),
)
def events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators.text import _attach_iln

    events = load_table(spark, sf_dir, "events")
    topk = (
        events.select(
            F.round(F.col("value") * 100.0, 0).cast("long").alias("cents"),
            "event_id",
        )
        .orderBy(F.desc("cents"), "event_id")
        .limit(HILL_K)
        .select("cents")
    )
    w = _attach_iln(spark, topk, "cents", "iln_c")
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
# AUDIENCE OVERLAP — user-set Jaccard between event types (the
# behavioral twin of source_overlap_jaccard): which features share an
# audience? One distinct (type, user) projection, one equi-join on the
# user key (per-user fan-out bounded by the type vocabulary), sizes on
# a broadcast. Output is the bounded type-pair triangle.
# ---------------------------------------------------------------------------
@register(
    "events_type_audience_overlap",
    oracle="""
        WITH tu AS (
            SELECT DISTINCT event_type, user_id FROM events
        ),
        sizes AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM tu GROUP BY 1
        ),
        inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM tu a JOIN tu b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT i.type_a, i.type_b, i.n_shared, za.n AS n_a, zb.n AS n_b,
               CAST((2 * i.n_shared * 1000000
                     + (za.n + zb.n - i.n_shared))
                    // (2 * (za.n + zb.n - i.n_shared)) AS BIGINT)
                   AS jaccard_micro
        FROM inter i
        JOIN sizes za ON za.event_type = i.type_a
        JOIN sizes zb ON zb.event_type = i.type_b
    """,
    tags=("events", "jaccard", "audience", "agg"),
)
def events_type_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    tu = events.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    za = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    zb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    union = F.col("n_a") + F.col("n_b") - F.col("n_shared")
    return (
        inter.join(F.broadcast(za), "type_a")
        .join(F.broadcast(zb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_shared",
            "n_a",
            "n_b",
            idiv(F.col("n_shared") * 2 * 1000000 + union, union * 2).alias(
                "jaccard_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# ONE-WAY ANOVA — does part size move retail price? The classic
# F-statistic over p_size groups with the eta² quantization discipline:
# per-group S_g²/n_g rounds to an integer BEFORE the cross-group sum,
# every other moment is exact int64, and F assembles from identical
# double trees. Bounded group table; one scan.
# ---------------------------------------------------------------------------
@register(
    "parts_price_anova_by_size",
    oracle="""
        WITH c AS (
            SELECT p_size,
                   CAST(ROUND(p_retailprice * 100.0) AS BIGINT) AS cents
            FROM part
        ),
        g AS (
            SELECT p_size,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   CAST(SUM(cents) AS BIGINT) AS s_g
            FROM c GROUP BY 1
        ),
        gq AS (
            SELECT p_size, n_g, s_g,
                   CAST(ROUND(CAST(s_g AS DOUBLE) * s_g / n_g) AS BIGINT)
                       AS t_g
            FROM g
        ),
        tot AS (
            SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                   CAST(SUM(s_g) AS BIGINT) AS s,
                   CAST(SUM(t_g) AS BIGINT) AS sum_t,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM gq
        ),
        sq AS (
            SELECT CAST(SUM(cents * cents) AS BIGINT) AS ss FROM c
        )
        SELECT t.k AS k_groups, t.n,
               CAST(ROUND(
                   ((CAST(t.n AS DOUBLE) * CAST(t.sum_t AS DOUBLE)
                     - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE))
                    / (CAST(t.k AS DOUBLE) - 1.0))
                   / ((CAST(t.n AS DOUBLE) * CAST(q.ss AS DOUBLE)
                       - CAST(t.n AS DOUBLE) * CAST(t.sum_t AS DOUBLE))
                      / (CAST(t.n AS DOUBLE) - CAST(t.k AS DOUBLE)))
                   * 1000.0) AS BIGINT) AS f_milli,
               CAST(ROUND(
                   (CAST(t.n AS DOUBLE) * CAST(t.sum_t AS DOUBLE)
                    - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE))
                   / (CAST(t.n AS DOUBLE) * CAST(q.ss AS DOUBLE)
                      - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE))
                   * 1000000.0) AS BIGINT) AS eta2_micro
        FROM tot t, sq q
    """,
    tags=("relational", "stats", "anova", "part"),
)
def parts_price_anova_by_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    c = part.select(
        "p_size",
        F.round(F.col("p_retailprice") * 100.0, 0).cast("long").alias("cents"),
    )
    g = c.groupBy("p_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("cents").cast("long").alias("s_g"),
    )
    gq = g.select(
        "p_size",
        "n_g",
        "s_g",
        F.round(F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g"), 0)
        .cast("long")
        .alias("t_g"),
    )
    tot = gq.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("t_g").cast("long").alias("sum_t"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    sq = c.agg(F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss"))
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    kd = F.col("k").cast("double")
    td = F.col("sum_t").cast("double")
    qd = F.col("ss").cast("double")
    ssb = nd * td - sd * sd
    f_stat = (ssb / (kd - 1.0)) / ((nd * qd - nd * td) / (nd - kd))
    eta2 = ssb / (nd * qd - sd * sd)
    return tot.crossJoin(F.broadcast(sq)).select(
        F.col("k").alias("k_groups"),
        "n",
        F.round(f_stat * 1000.0, 0).cast("long").alias("f_milli"),
        F.round(eta2 * 1000000.0, 0).cast("long").alias("eta2_micro"),
    )


# ---------------------------------------------------------------------------
# USER TRIGRAM PATHS — the sequence-mining staple behind sankey/journey
# dashboards: the top 3-step event-type paths, built from two leads over
# each user's (ts, event_id) total order (per-user windows — never
# global), counted corpus-wide, top-20 via TakeOrderedAndProject.
# ---------------------------------------------------------------------------
PATH_TOP = 20


@register(
    "user_trigram_paths",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type AS t1,
                   lead(event_type, 1) OVER w AS t2,
                   lead(event_type, 2) OVER w AS t3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT t1, t2, t3,
               CAST(COUNT(*) AS BIGINT) AS n_paths,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM seq WHERE t3 IS NOT NULL
        GROUP BY 1, 2, 3
        ORDER BY n_paths DESC, t1, t2, t3
        LIMIT {PATH_TOP}
    """,
    tags=("events", "sequence", "journey", "window"),
)
def user_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        seq.groupBy("t1", "t2", "t3")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paths"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.desc("n_paths"), "t1", "t2", "t3")
        .limit(PATH_TOP)
    )


# ---------------------------------------------------------------------------
# DUPLICATE-PAYMENT AUDIT — the classic AP-fraud check: same customer,
# same order total, placed within DUP_WINDOW_DAYS. The self-join is
# BLOCKED on the exact (custkey, cents) composite — fan-out per block is
# a customer's same-price orders, never the order table — and the
# date-window predicate is exact integer days. Exposure counts the
# LATER order of each pair once.
# ---------------------------------------------------------------------------
DUP_WINDOW_DAYS = 7


@register(
    "orders_duplicate_payment_audit",
    oracle=f"""
        WITH o AS (
            SELECT o_orderkey, o_custkey,
                   CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents,
                   CAST(o_orderdate AS DATE) AS d
            FROM orders
        ),
        pairs AS (
            SELECT a.o_custkey, b.cents,
                   date_diff('day', a.d, b.d) AS gap_days
            FROM o a
            JOIN o b
              ON b.o_custkey = a.o_custkey
             AND b.cents = a.cents
             AND b.o_orderkey > a.o_orderkey
             AND date_diff('day', a.d, b.d)
                 BETWEEN -{DUP_WINDOW_DAYS} AND {DUP_WINDOW_DAYS}
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS exposure_cents,
               CAST(SUM(CASE WHEN gap_days = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_same_day
        FROM pairs
    """,
    tags=("relational", "fraud", "audit", "orders"),
)
def orders_duplicate_payment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100.0, 0).cast("long").alias("cents"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("cents").alias("c"),
        F.col("o_orderkey").alias("k_a"),
        F.col("d").alias("d_a"),
    )
    b = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("cents").alias("c"),
        F.col("o_orderkey").alias("k_b"),
        F.col("d").alias("d_b"),
    )
    gap = F.datediff(F.col("d_b"), F.col("d_a"))
    pairs = a.join(b, ["ck", "c"]).filter(
        (F.col("k_b") > F.col("k_a"))
        & (gap >= -DUP_WINDOW_DAYS)
        & (gap <= DUP_WINDOW_DAYS)
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("ck").cast("long").alias("n_customers"),
        F.sum("c").cast("long").alias("exposure_cents"),
        F.sum(F.when(gap == 0, 1).otherwise(0)).cast("long").alias("n_same_day"),
    )


# ---------------------------------------------------------------------------
# BOUNCE RATE BY ENTRY TYPE — which entry points lose the user
# immediately? Gap-rule sessionization (the events_sessionize_batch
# machinery: lag → boundary flag → per-user running session id), then
# per session the entry type and event count; a bounce is a one-event
# session. Per-user windows only; the rollup is type-bounded.
# ---------------------------------------------------------------------------
BOUNCE_GAP_MIN = 30


@register(
    "events_bounce_rate_by_entry",
    oracle=f"""
        WITH s AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts)
                            > {BOUNCE_GAP_MIN * 60}
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
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bounces,
               CAST((2 * CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                              AS BIGINT) * 10000 + COUNT(*))
                    // (2 * COUNT(*)) AS BIGINT) AS bounce_bp
        FROM sess GROUP BY 1
    """,
    tags=("events", "session", "bounce", "window"),
)
def events_bounce_rate_by_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    boundary = F.when(
        lag_ts.isNull()
        | (
            (F.unix_timestamp("ts") - F.unix_timestamp(lag_ts))
            > BOUNCE_GAP_MIN * 60
        ),
        1,
    ).otherwise(0)
    sid = events.select(
        "user_id", "ts", "event_id", "event_type", boundary.alias("boundary")
    ).withColumn(
        "session_id",
        F.sum("boundary").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sess = sid.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(
            F.struct(
                F.col("ts").alias("ts"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("t"),
            )
        )["t"].alias("entry_type"),
    )
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
# PARTITION-SPEC ADVISOR — the table-layout decision before any 100 TB
# write: for each candidate partition key (day, type, day×type), the
# partition count, the biggest partition, and the skew ratio vs the
# mean. Three bounded rollups from ONE pre-aggregate; the spec a lake
# picks is the one whose skew stays near 1 without exploding partition
# count.
# ---------------------------------------------------------------------------
@register(
    "partition_spec_advisor",
    oracle="""
        WITH base AS (
            SELECT CAST(date_trunc('day', ts) AS VARCHAR) AS d, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        spec AS (
            SELECT 'day' AS spec, d AS pkey, CAST(SUM(n) AS BIGINT) AS n
            FROM base GROUP BY 1, 2
            UNION ALL
            SELECT 'type', event_type, CAST(SUM(n) AS BIGINT) FROM base
            GROUP BY 1, 2
            UNION ALL
            SELECT 'day_type', d || '/' || event_type, n FROM base
        )
        SELECT spec,
               CAST(COUNT(*) AS BIGINT) AS n_partitions,
               CAST(SUM(n) AS BIGINT) AS total_rows,
               CAST(MAX(n) AS BIGINT) AS max_partition_rows,
               CAST((2 * CAST(MAX(n) AS BIGINT) * COUNT(*) * 1000
                     + CAST(SUM(n) AS BIGINT))
                    // (2 * CAST(SUM(n) AS BIGINT)) AS BIGINT)
                   AS skew_ratio_milli
        FROM spec GROUP BY 1
    """,
    tags=("events", "planning", "partitioning", "scale"),
)
def partition_spec_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    base = events.groupBy(
        F.date_trunc("day", "ts").cast("string").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    by_day = base.groupBy(F.col("d").alias("pkey")).agg(
        F.sum("n").cast("long").alias("n")
    ).select(F.lit("day").alias("spec"), "pkey", "n")
    by_type = base.groupBy(F.col("event_type").alias("pkey")).agg(
        F.sum("n").cast("long").alias("n")
    ).select(F.lit("type").alias("spec"), "pkey", "n")
    by_both = base.select(
        F.lit("day_type").alias("spec"),
        F.concat(F.col("d"), F.lit("/"), F.col("event_type")).alias("pkey"),
        "n",
    )
    spec = by_day.unionByName(by_type).unionByName(by_both)
    return (
        spec.groupBy("spec")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_partitions"),
            F.sum("n").cast("long").alias("total_rows"),
            F.max("n").cast("long").alias("max_partition_rows"),
        )
        .select(
            "spec",
            "n_partitions",
            "total_rows",
            "max_partition_rows",
            idiv(
                F.col("max_partition_rows") * F.col("n_partitions") * 2 * 1000
                + F.col("total_rows"),
                F.col("total_rows") * 2,
            ).alias("skew_ratio_milli"),
        )
    )


# ---------------------------------------------------------------------------
# ITEM-ITEM COLLABORATIVE FILTERING — cosine similarity between parts
# over the implicit customer-purchase matrix (the recsys counterpart of
# basket_part_pairs' raw co-occurrence): candidate pairs come ONLY from
# per-customer basket expansion (blocked on the customer key — the
# classic CF pruning; heavy baskets above CF_MAX_BASKET are dropped on
# both engines so no single customer explodes quadratically), supports
# under CF_MIN_CO are pruned, and the cosine divides exact integers
# under one correctly-rounded sqrt.
# ---------------------------------------------------------------------------
CF_MIN_CO = 3
CF_MAX_BASKET = 100
CF_TOP = 20


@register(
    "recsys_item_cosine",
    oracle=f"""
        WITH up AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        ),
        basket AS (
            SELECT c FROM up GROUP BY c HAVING COUNT(*) <= {CF_MAX_BASKET}
        ),
        upb AS (SELECT up.c, up.p FROM up JOIN basket USING (c)),
        sizes AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM upb GROUP BY 1),
        co AS (
            SELECT a.p AS p_a, b.p AS p_b, CAST(COUNT(*) AS BIGINT) AS n_co
            FROM upb a JOIN upb b ON a.c = b.c AND a.p < b.p
            GROUP BY 1, 2
            HAVING COUNT(*) >= {CF_MIN_CO}
        )
        SELECT co.p_a, co.p_b, co.n_co, za.n AS n_a, zb.n AS n_b,
               CAST(ROUND(CAST(co.n_co AS DOUBLE)
                          / sqrt(CAST(za.n AS DOUBLE) * CAST(zb.n AS DOUBLE))
                          * 1000000.0) AS BIGINT) AS cosine_micro
        FROM co
        JOIN sizes za ON za.p = co.p_a
        JOIN sizes zb ON zb.p = co.p_b
        ORDER BY cosine_micro DESC, p_a, p_b
        LIMIT {CF_TOP}
    """,
    tags=("relational", "recsys", "cosine", "lineitem"),
)
def recsys_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    up = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    basket = up.groupBy("c").agg(F.count(F.lit(1)).alias("bn")).filter(
        F.col("bn") <= CF_MAX_BASKET
    ).select("c")
    upb = up.join(basket, "c")
    sizes = upb.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = upb.select("c", F.col("p").alias("p_a"))
    b = upb.select("c", F.col("p").alias("p_b"))
    co = (
        a.join(b, "c")
        .filter(F.col("p_a") < F.col("p_b"))
        .groupBy("p_a", "p_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
        .filter(F.col("n_co") >= CF_MIN_CO)
    )
    za = sizes.select(F.col("p").alias("p_a"), F.col("n").alias("n_a"))
    zb = sizes.select(F.col("p").alias("p_b"), F.col("n").alias("n_b"))
    return (
        co.join(za, "p_a")
        .join(zb, "p_b")
        .select(
            "p_a",
            "p_b",
            "n_co",
            "n_a",
            "n_b",
            F.round(
                F.col("n_co").cast("double")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b").cast("double"))
                * 1000000.0,
                0,
            )
            .cast("long")
            .alias("cosine_micro"),
        )
        .orderBy(F.desc("cosine_micro"), "p_a", "p_b")
        .limit(CF_TOP)
    )


# ---------------------------------------------------------------------------
# CHURN LABEL MANIFEST — the leakage-free label/feature table a churn
# model trains on: the observation cutoff is max(ts) − 28 days (exact
# integer microseconds), the label is "no activity after the cutoff",
# and every feature is computed STRICTLY BEFORE the cutoff — the
# feature_asof_training_matrix discipline applied to the classic churn
# framing. One user-keyed aggregate; exact day arithmetic.
# ---------------------------------------------------------------------------
CHURN_HORIZON_DAYS = 28


@register(
    "churn_label_manifest",
    oracle=f"""
        WITH b AS (
            SELECT epoch_us(MAX(ts))
                   - {CHURN_HORIZON_DAYS}::BIGINT * 86400000000 AS cut
            FROM events
        ),
        per_user AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN epoch_us(ts) < b.cut THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_before,
                   CAST(SUM(CASE WHEN epoch_us(ts) < b.cut
                                  AND event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_purchases_before,
                   CAST(COUNT(DISTINCT CASE WHEN epoch_us(ts) < b.cut
                                            THEN event_type END) AS BIGINT)
                       AS n_types_before,
                   CAST((b.cut - MAX(CASE WHEN epoch_us(ts) < b.cut
                                          THEN epoch_us(ts) END))
                        // 86400000000 AS BIGINT) AS days_idle_at_cut,
                   CAST(CASE WHEN SUM(CASE WHEN epoch_us(ts) >= b.cut
                                           THEN 1 ELSE 0 END) = 0
                             THEN 1 ELSE 0 END AS BIGINT) AS churned
            FROM events, b
            GROUP BY user_id, b.cut
        )
        SELECT user_id, n_before, n_purchases_before, n_types_before,
               days_idle_at_cut, churned
        FROM per_user WHERE n_before > 0
    """,
    tags=("events", "ml", "churn", "labeling"),
)
def churn_label_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = events.agg(
        (
            F.unix_micros(F.max(F.col("ts").cast("timestamp")))
            - F.lit(CHURN_HORIZON_DAYS).cast("long") * 86400000000
        ).alias("cut")
    )
    before = ts_us < F.col("cut")
    per_user = (
        events.crossJoin(F.broadcast(b))
        .groupBy("user_id", "cut")
        .agg(
            F.sum(F.when(before, 1).otherwise(0)).cast("long").alias("n_before"),
            F.sum(
                F.when(before & (F.col("event_type") == "purchase"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_purchases_before"),
            F.countDistinct(F.when(before, F.col("event_type")))
            .cast("long")
            .alias("n_types_before"),
            F.max(F.when(before, ts_us)).alias("last_before_us"),
            F.sum(F.when(~before, 1).otherwise(0)).cast("long").alias("n_after"),
        )
    )
    return per_user.filter(F.col("n_before") > 0).select(
        "user_id",
        "n_before",
        "n_purchases_before",
        "n_types_before",
        idiv(F.col("cut") - F.col("last_before_us"), 86400000000).alias(
            "days_idle_at_cut"
        ),
        F.when(F.col("n_after") == 0, 1)
        .otherwise(0)
        .cast("long")
        .alias("churned"),
    )


# ---------------------------------------------------------------------------
# DISCOUNT-CAP COUNTERFACTUAL — the what-if class: revenue under the
# actual discount schedule vs a counterfactual policy capping discounts
# at CF_DISCOUNT_CAP points, per part type. Both worlds are exact
# centi-cent integers computed in the SAME pass (a counterfactual is a
# CASE expression, not a second scan), so the uplift is order-free and
# engine-exact.
# ---------------------------------------------------------------------------
CF_DISCOUNT_CAP = 5  # points


@register(
    "discount_cap_counterfactual",
    oracle=f"""
        WITH r AS (
            SELECT p.p_type,
                   CAST(ROUND(l.l_extendedprice * 100.0) AS BIGINT) AS cents,
                   CAST(ROUND(l.l_discount * 100.0) AS BIGINT) AS disc
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        )
        SELECT p_type,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(cents * (100 - disc)) AS BIGINT) AS actual_ccents,
               CAST(SUM(cents * (100 - least(disc, {CF_DISCOUNT_CAP})))
                    AS BIGINT) AS capped_ccents,
               CAST(SUM(cents * (least(disc, {CF_DISCOUNT_CAP}) - disc) * -1)
                    AS BIGINT) AS uplift_ccents,
               CAST(SUM(CASE WHEN disc > {CF_DISCOUNT_CAP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_lines_affected
        FROM r GROUP BY 1
    """,
    tags=("relational", "counterfactual", "pricing", "lineitem"),
)
def discount_cap_counterfactual(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    r = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_type",
        F.round(F.col("l_extendedprice") * 100.0, 0).cast("long").alias("cents"),
        F.round(F.col("l_discount") * 100.0, 0).cast("long").alias("disc"),
    )
    capped = F.least(F.col("disc"), F.lit(CF_DISCOUNT_CAP).cast("long"))
    return r.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("cents") * (100 - F.col("disc")))
        .cast("long")
        .alias("actual_ccents"),
        F.sum(F.col("cents") * (100 - capped)).cast("long").alias("capped_ccents"),
        F.sum(F.col("cents") * (capped - F.col("disc")) * -1)
        .cast("long")
        .alias("uplift_ccents"),
        F.sum(F.when(F.col("disc") > CF_DISCOUNT_CAP, 1).otherwise(0))
        .cast("long")
        .alias("n_lines_affected"),
    )


# ---------------------------------------------------------------------------
# WALK-FORWARD FORECAST BACKTEST — the harness that decides whether a
# forecaster ships: for every month m with 3 predecessors, forecast GMV
# as the trailing-3-month mean (exact half-up integer cents) and score
# the absolute percentage error in basis points. Unlike the point
# forecasters (EWMA/Holt/Holt-Winters), this is the EVALUATION loop —
# month-spine-bounded windows, one monthly pre-aggregate of the fact
# table.
# ---------------------------------------------------------------------------
@register(
    "gmv_walk_forward_backtest",
    oracle="""
        WITH monthly AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS m,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
                        AS BIGINT) AS gmv
            FROM orders GROUP BY 1
        ),
        lagged AS (
            SELECT m, gmv,
                   lag(gmv, 1) OVER (ORDER BY m) AS g1,
                   lag(gmv, 2) OVER (ORDER BY m) AS g2,
                   lag(gmv, 3) OVER (ORDER BY m) AS g3
            FROM monthly
        )
        SELECT m, gmv,
               CAST((2 * (g1 + g2 + g3) + 3) // 6 AS BIGINT) AS forecast,
               CAST((2 * abs(gmv - (2 * (g1 + g2 + g3) + 3) // 6) * 10000
                     + gmv) // (2 * gmv) AS BIGINT) AS ape_bp
        FROM lagged WHERE g3 IS NOT NULL
    """,
    tags=("orders", "timeseries", "forecast", "backtest"),
)
def gmv_walk_forward_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("m")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("gmv")
    )
    # month-spine window: bounded by the time domain, not the row count
    w = Window.orderBy("m")
    lagged = monthly.select(
        "m",
        "gmv",
        F.lag("gmv", 1).over(w).alias("g1"),
        F.lag("gmv", 2).over(w).alias("g2"),
        F.lag("gmv", 3).over(w).alias("g3"),
    ).filter(F.col("g3").isNotNull())
    forecast = idiv((F.col("g1") + F.col("g2") + F.col("g3")) * 2 + 3, 6)
    return lagged.select(
        "m",
        "gmv",
        forecast.alias("forecast"),
        idiv(
            F.abs(F.col("gmv") - forecast) * 2 * 10000 + F.col("gmv"),
            F.col("gmv") * 2,
        ).alias("ape_bp"),
    )


# ---------------------------------------------------------------------------
# HAAR WAVELET ENERGY — multi-resolution decomposition of the per-type
# hourly count series, ENTIRELY in exact integers: level k's detail
# coefficients are pairwise differences of level k-1's pairwise sums
# (the unnormalized Haar transform), and the per-level energy Σd² is an
# exact int64 — the signal-processing answer to "at which timescale does
# this type's traffic vary". The series rides a dense (type × hour-
# index) grid bounded by the time domain; three grouped reduces, each
# halving the grid.
# ---------------------------------------------------------------------------
@register(
    "events_haar_wavelet_energy",
    oracle=f"""
        WITH bounds AS (
            SELECT epoch_us(MIN(date_trunc('hour', ts))) AS lo FROM events
        ),
        hourly AS (
            SELECT event_type,
                   (epoch_us(date_trunc('hour', ts)) - b.lo)
                       // 3600000000 AS i,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events, bounds b GROUP BY 1, 2, b.lo
        ),
        grid AS (
            SELECT t.event_type, gi.i, COALESCE(h.c, 0) AS c
            FROM (SELECT DISTINCT event_type FROM hourly) t
            CROSS JOIN (
                SELECT unnest(range(0,
                    ((SELECT MAX(i) FROM hourly) // 8 + 1) * 8)) AS i) gi
            LEFT JOIN hourly h ON h.event_type = t.event_type AND h.i = gi.i
        ),
        l1 AS (
            SELECT event_type, i // 2 AS i,
                   CAST(SUM(CASE WHEN i % 2 = 0 THEN c ELSE 0 END)
                        + SUM(CASE WHEN i % 2 = 1 THEN c ELSE 0 END)
                        AS BIGINT) AS s,
                   CAST(SUM(CASE WHEN i % 2 = 0 THEN c ELSE 0 END)
                        - SUM(CASE WHEN i % 2 = 1 THEN c ELSE 0 END)
                        AS BIGINT) AS d
            FROM grid GROUP BY 1, 2
        ),
        l2 AS (
            SELECT event_type, i // 2 AS i,
                   CAST(SUM(CASE WHEN i % 2 = 0 THEN s ELSE 0 END)
                        + SUM(CASE WHEN i % 2 = 1 THEN s ELSE 0 END)
                        AS BIGINT) AS s,
                   CAST(SUM(CASE WHEN i % 2 = 0 THEN s ELSE 0 END)
                        - SUM(CASE WHEN i % 2 = 1 THEN s ELSE 0 END)
                        AS BIGINT) AS d
            FROM l1 GROUP BY 1, 2
        ),
        l3 AS (
            SELECT event_type, i // 2 AS i,
                   CAST(SUM(CASE WHEN i % 2 = 0 THEN s ELSE 0 END)
                        - SUM(CASE WHEN i % 2 = 1 THEN s ELSE 0 END)
                        AS BIGINT) AS d
            FROM l2 GROUP BY 1, 2
        ),
        u AS (
            SELECT event_type, 1 AS level, CAST(SUM(d * d) AS BIGINT) AS energy
            FROM l1 GROUP BY 1
            UNION ALL
            SELECT event_type, 2, CAST(SUM(d * d) AS BIGINT) FROM l2 GROUP BY 1
            UNION ALL
            SELECT event_type, 3, CAST(SUM(d * d) AS BIGINT) FROM l3 GROUP BY 1
        )
        SELECT event_type, CAST(level AS BIGINT) AS level, energy FROM u
    """,
    tags=("events", "timeseries", "wavelet", "signal"),
    bench_ext=True,
)
def events_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hour_us = F.unix_micros(F.date_trunc("hour", F.col("ts").cast("timestamp")))
    bounds = events.agg(F.min(hour_us).alias("lo"))
    hourly = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy(
            "event_type",
            idiv(hour_us - F.col("lo"), 3600000000).alias("i"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # r13: each level's detail coefficient is a SIGNED SUM over its
    # group directly — d_k(g) = Σ_{i: i>>k == g} c_i · σ_k(i) with
    # σ_k(i) = +1 iff bit (k−1) of i is 0 — because chaining through
    # the s-sums only re-associates the same addition (s of level k−1
    # covers disjoint index ranges). Zero cells contribute 0 to every
    # signed sum, so the power-of-8 zero-padded spine/grid was a
    # mathematical no-op: the former max_i job, the spine explode, the
    # types distinct, the crossJoin and the left join are all deleted,
    # and each level aggregates straight off `hourly` instead of
    # re-planning the previous level's subtree (the LPA lesson —
    # guide §1.2/§2.4). Groups with missing hours yield the same d as
    # the padded grid by construction.
    u = None
    for level in (1, 2, 3):
        sign = F.when(
            F.shiftright(F.col("i"), level - 1) % 2 == 0, F.lit(1)
        ).otherwise(F.lit(-1))
        d = hourly.groupBy(
            "event_type", F.shiftright(F.col("i"), level).alias("g")
        ).agg(F.sum(F.col("c") * sign).cast("long").alias("d"))
        e = (
            d.groupBy("event_type")
            .agg(F.sum(F.col("d") * F.col("d")).cast("long").alias("energy"))
            .select(
                "event_type",
                F.lit(level).cast("long").alias("level"),
                "energy",
            )
        )
        u = e if u is None else u.unionByName(e)
    return u


# ---------------------------------------------------------------------------
# REVENUE WATERFALL — the gross → discount → net → tax decomposition a
# finance dashboard reads, per (returnflag, linestatus): every component
# is an exact integer in its own stated unit (cents / centi-cents /
# 1e-4 cents for the tax term, which multiplies two percentage scales),
# so each column is order-free and the waterfall reconciles exactly —
# net_ccents == gross_cents*100 − discount_ccents, by construction on
# both engines. One scan, one bounded rollup (the q1 shape decomposed).
# ---------------------------------------------------------------------------
@register(
    "revenue_waterfall",
    oracle="""
        WITH r AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS price_c,
                   CAST(ROUND(l_discount * 100.0) AS BIGINT) AS d,
                   CAST(ROUND(l_tax * 100.0) AS BIGINT) AS t
            FROM lineitem
        )
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(price_c) AS BIGINT) AS gross_cents,
               CAST(SUM(price_c * d) AS BIGINT) AS discount_ccents,
               CAST(SUM(price_c * (100 - d)) AS BIGINT) AS net_ccents,
               CAST(SUM(price_c * (100 - d) * t) AS BIGINT) AS tax_tccents
        FROM r GROUP BY 1, 2
    """,
    tags=("relational", "finance", "waterfall", "lineitem"),
)
def revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    r = li.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100.0, 0).cast("long").alias("price_c"),
        F.round(F.col("l_discount") * 100.0, 0).cast("long").alias("d"),
        F.round(F.col("l_tax") * 100.0, 0).cast("long").alias("t"),
    )
    return r.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("price_c").cast("long").alias("gross_cents"),
        F.sum(F.col("price_c") * F.col("d")).cast("long").alias("discount_ccents"),
        F.sum(F.col("price_c") * (100 - F.col("d")))
        .cast("long")
        .alias("net_ccents"),
        F.sum(F.col("price_c") * (100 - F.col("d")) * F.col("t"))
        .cast("long")
        .alias("tax_tccents"),
    )


# ---------------------------------------------------------------------------
# STREAMING STATE-BUDGET PLANNER — the operational sizing table behind
# the streaming family's "state bounded by design" claims, computed
# FROM THE DATA: for each stateful operator class, the exact row bound
# its state reaches on this corpus (hours × types for windowed rollups,
# users for attribution, langs × 64 for the hashed-BOW monitor, the
# documented constants for the sketches). A capacity planner reads this
# BEFORE picking executor memory; the gate keeps the documented bounds
# honest against the data they're claimed for.
# ---------------------------------------------------------------------------
@register(
    "streaming_state_budget_planner",
    oracle="""
        WITH d AS (
            SELECT CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT)
                       AS n_hours,
                   CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events
        ),
        l AS (
            SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
            FROM documents
        )
        SELECT op_class, state_rows FROM (
            SELECT 'hourly_windowed_rollup' AS op_class,
                   (SELECT n_hours FROM d) AS state_rows
            UNION ALL
            SELECT 'hour_x_type_rollup',
                   (SELECT n_hours * n_types FROM d)
            UNION ALL
            SELECT 'per_user_attribution', (SELECT n_users FROM d)
            UNION ALL
            SELECT 'type_value_histogram',
                   (SELECT n_types FROM d) * 10
            UNION ALL
            SELECT 'feature_hashing_monitor',
                   (SELECT n_langs FROM l) * 64
            UNION ALL
            SELECT 'hll_registers', 1024
            UNION ALL
            SELECT 'hill_topk_sketch', 100
        )
    """,
    tags=("streaming", "planning", "state", "scale"),
)
def streaming_state_budget_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    d = events.agg(
        F.countDistinct(F.date_trunc("hour", "ts")).cast("long").alias("n_hours"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    l = docs.agg(F.countDistinct("lang").cast("long").alias("n_langs"))
    base = d.crossJoin(F.broadcast(l))
    rows = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("hourly_windowed_rollup").alias("op_class"),
                    F.col("n_hours").alias("state_rows"),
                ),
                F.struct(
                    F.lit("hour_x_type_rollup").alias("op_class"),
                    (F.col("n_hours") * F.col("n_types")).alias("state_rows"),
                ),
                F.struct(
                    F.lit("per_user_attribution").alias("op_class"),
                    F.col("n_users").alias("state_rows"),
                ),
                F.struct(
                    F.lit("type_value_histogram").alias("op_class"),
                    (F.col("n_types") * 10).alias("state_rows"),
                ),
                F.struct(
                    F.lit("feature_hashing_monitor").alias("op_class"),
                    (F.col("n_langs") * 64).alias("state_rows"),
                ),
                F.struct(
                    F.lit("hll_registers").alias("op_class"),
                    F.lit(1024).cast("long").alias("state_rows"),
                ),
                F.struct(
                    F.lit("hill_topk_sketch").alias("op_class"),
                    F.lit(100).cast("long").alias("state_rows"),
                ),
            )
        ).alias("s")
    ).select("s.op_class", "s.state_rows")
    return rows


# ---------------------------------------------------------------------------
# SELF-EXCITATION RATIO — the Hawkes-process branching proxy: what share
# of each type's events lands within SELF_EXCITE_SEC of the SAME user's
# previous event (triggered) vs arriving cold (immigrant)? One per-user
# lag window (never global), exact second arithmetic, bounded rollup.
# High ratios mean bursty cascade behavior — the signal that a rate
# model needs a self-exciting term.
# ---------------------------------------------------------------------------
SELF_EXCITE_SEC = 60


@register(
    "events_self_excitation_ratio",
    oracle=f"""
        WITH s AS (
            SELECT event_type,
                   CASE WHEN lag(ts) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                            IS NOT NULL
                         AND epoch_us(ts) - epoch_us(lag(ts) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id))
                            <= {SELF_EXCITE_SEC}::BIGINT * 1000000
                        THEN 1 ELSE 0 END AS triggered
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(triggered) AS BIGINT) AS n_triggered,
               CAST((2 * CAST(SUM(triggered) AS BIGINT) * 10000 + COUNT(*))
                    // (2 * COUNT(*)) AS BIGINT) AS triggered_bp
        FROM s GROUP BY 1
    """,
    tags=("events", "point-process", "burst", "window"),
)
def events_self_excitation_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    lag_us = F.lag(ts_us).over(w)
    triggered = F.when(
        lag_us.isNotNull()
        & ((ts_us - lag_us) <= SELF_EXCITE_SEC * 1000000),
        1,
    ).otherwise(0)
    s = events.select("event_type", triggered.alias("triggered"))
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("triggered").cast("long").alias("n_triggered"),
        )
        .select(
            "event_type",
            "n_events",
            "n_triggered",
            idiv(
                F.col("n_triggered") * 2 * 10000 + F.col("n_events"),
                F.col("n_events") * 2,
            ).alias("triggered_bp"),
        )
    )


# ---------------------------------------------------------------------------
# NBD (NEGATIVE BINOMIAL) FIT — the marketing-science purchase-frequency
# model fit by method of moments: per-customer order counts give exact
# integer mean/variance moments, and the NBD shape r = m²/(v−m), success
# odds p = m/v assemble from identical double trees rounded to micro.
# Overdispersion (v > m) is asserted by reporting it; a v ≤ m corpus
# degenerates to Poisson and both engines emit the same sentinel.
# ---------------------------------------------------------------------------
@register(
    "basket_size_nbd_fit",
    oracle="""
        WITH k AS (
            SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS k
            FROM orders GROUP BY 1
        ),
        mo AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(k) AS BIGINT) AS s,
                   CAST(SUM(k * k) AS BIGINT) AS ss
            FROM k
        )
        SELECT n AS n_customers, s AS n_orders,
               CAST(ROUND(CAST(s AS DOUBLE) / n * 1000000.0) AS BIGINT)
                   AS mean_micro,
               CAST(ROUND((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                          / (CAST(n AS DOUBLE) * n) * 1000000.0) AS BIGINT)
                   AS var_micro,
               CASE WHEN n * ss - s * s > s * n
                    THEN CAST(ROUND(
                        (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)
                        / ((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                           / (CAST(n AS DOUBLE) * n)
                           - CAST(s AS DOUBLE) / n)
                        * 1000000.0) AS BIGINT)
                    ELSE CAST(-1 AS BIGINT) END AS r_micro
        FROM mo
    """,
    tags=("orders", "stats", "nbd", "closed-form"),
)
def basket_size_nbd_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    k = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    return nbd_assemble(k)


def nbd_assemble(k: DataFrame) -> DataFrame:
    """NBD method-of-moments report from per-customer (o_custkey, k)
    order counts — shared verbatim by the batch query and its streaming
    twin (which drains the per-customer counts in complete mode; this
    assembles post-stream)."""
    mo = k.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("s"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("ss"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    mean = sd / F.col("n")
    var = (nd * F.col("ss") - sd * F.col("s")) / (nd * F.col("n"))
    return mo.select(
        F.col("n").alias("n_customers"),
        F.col("s").alias("n_orders"),
        F.round(mean * 1000000.0, 0).cast("long").alias("mean_micro"),
        F.round(var * 1000000.0, 0).cast("long").alias("var_micro"),
        F.when(
            F.col("n") * F.col("ss") - F.col("s") * F.col("s")
            > F.col("s") * F.col("n"),
            F.round(mean * mean / (var - mean) * 1000000.0, 0).cast("long"),
        )
        .otherwise(F.lit(-1).cast("long"))
        .alias("r_micro"),
    )


# ---------------------------------------------------------------------------
# SINGLE-SOURCE RISK REPORT — supply-chain resilience: parts purchasable
# from fewer than 2 suppliers (observed in the order history) are
# single-source risks; per brand, the exposure count and the revenue
# riding on them. One distinct edge projection, one bounded rollup.
# ---------------------------------------------------------------------------
@register(
    "single_source_risk_report",
    oracle="""
        WITH sp AS (
            SELECT l_partkey, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
                       AS n_suppliers
            FROM lineitem GROUP BY 1
        ),
        rev AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT))
                        AS BIGINT) AS rev_cents
            FROM lineitem GROUP BY 1
        )
        SELECT p.p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(CASE WHEN sp.n_suppliers < 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_single_source,
               CAST(SUM(CASE WHEN sp.n_suppliers < 2 THEN r.rev_cents
                             ELSE 0 END) AS BIGINT) AS exposed_rev_cents
        FROM sp
        JOIN rev r ON r.l_partkey = sp.l_partkey
        JOIN part p ON p.p_partkey = sp.l_partkey
        GROUP BY 1
    """,
    tags=("relational", "supply-chain", "risk", "lineitem"),
)
def single_source_risk_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sp = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers")
    )
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    single = F.when(F.col("n_suppliers") < 2, 1).otherwise(0)
    return (
        sp.join(rev, "l_partkey")
        .join(part, sp.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum(single).cast("long").alias("n_single_source"),
            F.sum(F.when(F.col("n_suppliers") < 2, F.col("rev_cents")).otherwise(0))
            .cast("long")
            .alias("exposed_rev_cents"),
        )
    )


# ---------------------------------------------------------------------------
# CROSS-CORRELATION FUNCTION — does volume LEAD value? Per event type,
# the Pearson correlation between the hourly count series and the
# hourly mean-value series shifted by lag 0..CCF_MAX_LAG hours: exact
# integer moments over the dense hour grid (counts exact; hourly mean
# cents pre-quantized half-up so the series is integer), the lag pairing
# one co-partitioned self-join per lag on the hour index. The r values
# assemble from identical double trees. |types| × |lags| output rows.
# ---------------------------------------------------------------------------
CCF_MAX_LAG = 3


@register(
    "events_ccf_count_value",
    oracle=f"""
        WITH bounds AS (
            SELECT epoch_us(MIN(date_trunc('hour', ts))) AS lo FROM events
        ),
        hourly AS (
            SELECT event_type,
                   (epoch_us(date_trunc('hour', ts)) - b.lo)
                       // 3600000000 AS i,
                   CAST(COUNT(*) AS BIGINT) AS c,
                   CAST((2 * CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT))
                                  AS BIGINT) + COUNT(*))
                        // (2 * COUNT(*)) AS BIGINT) AS mean_cents
            FROM events, bounds b GROUP BY 1, 2, b.lo
        ),
        lags(lag) AS (VALUES {", ".join(f"({k})" for k in range(CCF_MAX_LAG + 1))}),
        paired AS (
            SELECT a.event_type, g.lag, a.c AS x, b.mean_cents AS y
            FROM hourly a
            JOIN lags g ON TRUE
            JOIN hourly b
              ON b.event_type = a.event_type AND b.i = a.i + g.lag
        ),
        mo AS (
            SELECT event_type, lag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM paired GROUP BY 1, 2
        )
        SELECT event_type, CAST(lag AS BIGINT) AS lag, n,
               CAST(ROUND(
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   * 1000000.0) AS BIGINT) AS r_micro
        FROM mo
    """,
    tags=("events", "timeseries", "correlation", "lag"),
)
def events_ccf_count_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return ccf_assemble(spark, ccf_hourly_counts(events))


def ccf_hourly_counts(events: DataFrame) -> DataFrame:
    """Per-(event_type, absolute hour) count + exact cent sum — the one
    definition of the CCF's series spine, shared verbatim by the batch
    query and its streaming twin (the keyed agg state is time-domain x
    type-vocabulary bounded; the twin drains it in complete mode, so the
    drained table is the converged spine)."""
    hour_us = F.unix_micros(
        F.date_trunc("hour", F.col("ts").cast("timestamp"))
    )
    return events.groupBy("event_type", hour_us.alias("hour_us")).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("s"),
    )


def ccf_assemble(spark: SparkSession, hourly_abs: DataFrame) -> DataFrame:
    """CCF report from the absolute-hour spine — shared verbatim by the
    batch query and its streaming twin. The hour INDEX derives here
    (min-hour bound over the converged spine), not in the spine, so the
    stream never needs a global min mid-flight."""
    bounds = hourly_abs.agg(F.min("hour_us").alias("lo"))
    hourly = (
        hourly_abs.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            idiv(F.col("hour_us") - F.col("lo"), 3600000000).alias("i"),
            "c",
            idiv(
                F.col("s") * 2 + F.col("c"), F.col("c") * 2
            ).alias("mean_cents"),
        )
    )
    lags = jvm_values_df(
        spark, [(k,) for k in range(CCF_MAX_LAG + 1)], "lag long"
    )
    a = hourly.select("event_type", "i", F.col("c").alias("x"))
    b = hourly.select(
        F.col("event_type").alias("et_b"),
        F.col("i").alias("i_b"),
        F.col("mean_cents").alias("y"),
    )
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("i_b") == F.col("i") + F.col("lag")),
        )
        .select("event_type", "lag", "x", "y")
    )
    mo = paired.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = F.sqrt(
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) * F.sqrt(
        nd * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return mo.select(
        "event_type",
        "lag",
        "n",
        F.round(num / den * 1000000.0, 0).cast("long").alias("r_micro"),
    )


# ---------------------------------------------------------------------------
# SHUFFLE-PARTITION ADVISOR — the third member of the planning trio
# (partition_spec_advisor for layout, streaming_state_budget_planner for
# state): for each headline join, the estimated shuffle bytes (exact row
# counts × stated per-row widths) and the recommended
# spark.sql.shuffle.partitions at the 128 MiB-per-task convention.
# Pure counting — the advisor itself must never shuffle more than its
# subjects.
# ---------------------------------------------------------------------------
SHUFFLE_TARGET_BYTES = 134_217_728
ROW_WIDTHS = {  # conservative post-projection bytes/row, stated constants
    "lineitem_orders": 48,
    "lineitem_part": 40,
    "events_self": 32,
}


@register(
    "shuffle_partition_advisor",
    oracle=f"""
        WITH n AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_li,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_o,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM part) AS n_p,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_e
        )
        SELECT join_name, shuffle_rows, est_bytes,
               CAST((est_bytes + {SHUFFLE_TARGET_BYTES} - 1)
                    // {SHUFFLE_TARGET_BYTES} AS BIGINT)
                   AS recommended_partitions
        FROM (
            SELECT 'lineitem_orders' AS join_name,
                   n_li + n_o AS shuffle_rows,
                   (n_li + n_o) * {ROW_WIDTHS["lineitem_orders"]} AS est_bytes
            FROM n
            UNION ALL
            SELECT 'lineitem_part', n_li + n_p,
                   (n_li + n_p) * {ROW_WIDTHS["lineitem_part"]}
            FROM n
            UNION ALL
            SELECT 'events_self', n_e * 2,
                   n_e * 2 * {ROW_WIDTHS["events_self"]}
            FROM n
        )
    """,
    tags=("relational", "planning", "shuffle", "scale"),
)
def shuffle_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_li = load_table(spark, sf_dir, "lineitem").count()
    n_o = load_table(spark, sf_dir, "orders").count()
    n_p = load_table(spark, sf_dir, "part").count()
    n_e = load_table(spark, sf_dir, "events").count()
    rows = [
        ("lineitem_orders", n_li + n_o, (n_li + n_o) * ROW_WIDTHS["lineitem_orders"]),
        ("lineitem_part", n_li + n_p, (n_li + n_p) * ROW_WIDTHS["lineitem_part"]),
        ("events_self", n_e * 2, n_e * 2 * ROW_WIDTHS["events_self"]),
    ]
    df = jvm_values_df(
        spark, rows, "join_name string, shuffle_rows long, est_bytes long"
    )
    return df.select(
        "join_name",
        "shuffle_rows",
        "est_bytes",
        idiv(
            F.col("est_bytes") + (SHUFFLE_TARGET_BYTES - 1),
            SHUFFLE_TARGET_BYTES,
        ).alias("recommended_partitions"),
    )


# ---------------------------------------------------------------------------
# TIME TO FIRST PURCHASE — the activation-latency funnel at user
# lifetime granularity: days from each user's first event to their
# first purchase (exact integer days; never-purchasers reported as a
# separate bucket), bucketed into activation bands. One user-keyed
# aggregate — no windows at all.
# ---------------------------------------------------------------------------
@register(
    "user_time_to_first_purchase",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   epoch_us(MIN(ts)) AS first_us,
                   epoch_us(MIN(CASE WHEN event_type = 'purchase'
                                     THEN ts END)) AS first_p_us
            FROM events GROUP BY 1
        ),
        b AS (
            SELECT CASE
                     WHEN first_p_us IS NULL THEN 'never'
                     WHEN (first_p_us - first_us) // 86400000000 < 1
                         THEN 'same_day'
                     WHEN (first_p_us - first_us) // 86400000000 < 7
                         THEN 'within_week'
                     WHEN (first_p_us - first_us) // 86400000000 < 30
                         THEN 'within_month'
                     ELSE 'later' END AS bucket,
                   CASE WHEN first_p_us IS NOT NULL
                        THEN (first_p_us - first_us) // 86400000000 END
                       AS lat_days
            FROM u
        )
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(COALESCE(lat_days, 0)) AS BIGINT) AS sum_latency_days
        FROM b GROUP BY 1
    """,
    tags=("events", "funnel", "activation", "agg"),
)
def user_time_to_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return ttfp_assemble(ttfp_per_user(events))


def ttfp_per_user(events: DataFrame) -> DataFrame:
    """Per-user (first_us, first_p_us) min timestamps — the one
    definition of the activation spine, shared verbatim by the batch
    query and its streaming twin (which drains it in complete mode, one
    converged row per user)."""
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return events.groupBy("user_id").agg(
        F.min(ts_us).alias("first_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", ts_us)
        ).alias("first_p_us"),
    )


def ttfp_assemble(u: DataFrame) -> DataFrame:
    """Activation-band report from the per-user spine — shared verbatim
    by the batch query and its streaming twin."""
    lat = idiv(F.col("first_p_us") - F.col("first_us"), 86400000000)
    bucket = (
        F.when(F.col("first_p_us").isNull(), "never")
        .when(lat < 1, "same_day")
        .when(lat < 7, "within_week")
        .when(lat < 30, "within_month")
        .otherwise("later")
    )
    b = u.select(
        bucket.alias("bucket"),
        F.when(F.col("first_p_us").isNotNull(), lat).alias("lat_days"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.coalesce(F.col("lat_days"), F.lit(0)))
        .cast("long")
        .alias("sum_latency_days"),
    )


# ---------------------------------------------------------------------------
# NAME-TOKEN × BRAND MUTUAL INFORMATION — which name tokens carry brand
# signal? Pointwise MI per (token, brand) cell in pure-ILN micro-nats
# (N·c_tb vs c_t·c_b — the independence test as integer log
# differences), weighted by the cell count and ranked by an exact
# integer contribution key. The column-association profiler that
# complements fd_discovery (exact dependence) with a GRADED measure.
# ---------------------------------------------------------------------------
MI_TOP = 20


def _name_brand_mi_oracle() -> str:
    from kafka_stream_job_spark.operators.text import (
        _ILN_VALUES_SQL,
        _iln_frac_sql,
    )

    return f"""
        WITH tb AS (
            SELECT unnest(string_split(p_name, ' ')) AS token, p_brand
            FROM part
        ),
        c_tb AS (
            SELECT token, p_brand, CAST(COUNT(*) AS BIGINT) AS c
            FROM tb GROUP BY 1, 2
        ),
        c_t AS (SELECT token, CAST(SUM(c) AS BIGINT) AS ct FROM c_tb GROUP BY 1),
        c_b AS (SELECT p_brand, CAST(SUM(c) AS BIGINT) AS cb FROM c_tb GROUP BY 1),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c_tb),
        ilntab(e, lo, hi, sdiv, smul, eln) AS (VALUES {_ILN_VALUES_SQL}),
        w AS (
            SELECT x.token, x.p_brand, x.c, t.ct, b.cb, n.n,
                   (t1.eln + {_iln_frac_sql('(((n.n * x.c) // t1.sdiv) * t1.smul)')})
                   - (t2.eln + {_iln_frac_sql('(((t.ct * b.cb) // t2.sdiv) * t2.smul)')})
                       AS pmi_unats
            FROM c_tb x
            JOIN c_t t ON t.token = x.token
            JOIN c_b b ON b.p_brand = x.p_brand
            CROSS JOIN tot n
            JOIN ilntab t1 ON n.n * x.c >= t1.lo AND n.n * x.c <= t1.hi
            JOIN ilntab t2 ON t.ct * b.cb >= t2.lo AND t.ct * b.cb <= t2.hi
        )
        SELECT token, p_brand, c, CAST(pmi_unats AS BIGINT) AS pmi_unats,
               CAST(c * pmi_unats AS BIGINT) AS mi_contrib_unats
        FROM w
        ORDER BY abs(c * pmi_unats) DESC, token, p_brand
        LIMIT {MI_TOP}
    """


@register(
    "part_name_brand_mi",
    oracle=_name_brand_mi_oracle(),
    tags=("relational", "profiling", "mutual-information", "part"),
    bench_ext=True,
)
def part_name_brand_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    tb = part.select(
        F.explode(F.split("p_name", " ")).alias("token"), "p_brand"
    )
    c_tb = tb.groupBy("token", "p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return name_brand_mi_assemble(spark, c_tb)


def name_brand_mi_assemble(spark: SparkSession, c_tb: DataFrame) -> DataFrame:
    """MI assembly over converged (token, p_brand, c) counts — shared by
    the batch profiler and the streaming drift monitor (the psi_report
    pattern: counts are the only stateful piece; the integer-log PMI
    table joins run post-stream)."""
    from kafka_stream_job_spark.operators.text import _attach_iln

    c_t = c_tb.groupBy("token").agg(F.sum("c").cast("long").alias("ct"))
    c_b = c_tb.groupBy("p_brand").agg(F.sum("c").cast("long").alias("cb"))
    tot = c_tb.agg(F.sum("c").cast("long").alias("n"))
    joined = (
        c_tb.join(c_t, "token")
        .join(F.broadcast(c_b), "p_brand")
        .crossJoin(F.broadcast(tot))
        .withColumn("num", F.col("n") * F.col("c"))
        .withColumn("den", F.col("ct") * F.col("cb"))
    )
    w = _attach_iln(spark, joined, "num", "iln_num")
    w = _attach_iln(spark, w, "den", "iln_den").withColumn(
        "pmi_unats", F.col("iln_num") - F.col("iln_den")
    )
    return (
        w.select(
            "token",
            "p_brand",
            "c",
            F.col("pmi_unats").cast("long").alias("pmi_unats"),
            (F.col("c") * F.col("pmi_unats")).cast("long").alias("mi_contrib_unats"),
        )
        .orderBy(F.abs(F.col("mi_contrib_unats")).desc(), "token", "p_brand")
        .limit(MI_TOP)
    )


# ---------------------------------------------------------------------------
# CUPED VARIANCE REDUCTION — the experimentation-platform estimator that
# makes A/B tests decide faster without more traffic (Deng et al.,
# WSDM'13): regress the experiment-period metric on the PRE-period
# covariate (theta = cov/var, fit POOLED across arms so the adjustment
# is unbiased under randomization) and report per-arm adjusted means
# plus the variance-reduction share (= rho^2). Everything reduces to
# per-arm int64 moments (n, Sx, Sy, Sxx, Syy, Sxy) over exact cents —
# ONE customer-keyed scan, map-side partial aggregates, a 2-row arm
# table; theta and the adjusted means assemble from broadcast scalars.
# Customers without pre/post orders zero-fill (the standard treatment:
# the covariate must be defined for every unit). At 100 TB: the only
# shuffle is the per-customer groupBy; moments are 6 int64s per arm.
# ---------------------------------------------------------------------------
CUPED_SPLIT = "1998-07-01"


@register(
    "orders_cuped_adjustment",
    oracle=f"""
        WITH spend AS (
            SELECT o_custkey AS k,
                   -- whole-dollar quantization BEFORE the moments: the
                   -- sum of squared cents overflows int64 at sf0.1
                   -- already; dollars keep Sxx exact through sf1 (the
                   -- ANOVA quantize-before-sum discipline)
                   CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '{CUPED_SPLIT}'
                            THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) // 100 AS x,
                   CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{CUPED_SPLIT}'
                            THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) // 100 AS y
            FROM orders GROUP BY 1
        ),
        u AS (
            SELECT {md5_int_sql("c.c_custkey", "cuped:")} % 2
                       AS arm,
                   COALESCE(s.x, 0) AS x, COALESCE(s.y, 0) AS y
            FROM customer c LEFT JOIN spend s ON s.k = c.c_custkey
        ),
        m AS (
            SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy
            FROM u GROUP BY 1
        ),
        g AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n,
                   CAST(SUM(sx) AS BIGINT) AS sx,
                   CAST(SUM(sy) AS BIGINT) AS sy,
                   CAST(SUM(sxx) AS BIGINT) AS sxx,
                   CAST(SUM(syy) AS BIGINT) AS syy,
                   CAST(SUM(sxy) AS BIGINT) AS sxy
            FROM m
        ),
        th AS (
            -- pooled theta = cov(x,y)/var(x); centered moments in DOUBLE
            -- (products of int64 sums overflow int64 long before 100 TB)
            SELECT n, sx, sy,
                   (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                       AS theta,
                   1.0 - (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy
                          - ((CAST(n AS DOUBLE) * sxy
                              - CAST(sx AS DOUBLE) * sy)
                             * (CAST(n AS DOUBLE) * sxy
                                - CAST(sx AS DOUBLE) * sy))
                            / (CAST(n AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx))
                         / (CAST(n AS DOUBLE) * syy
                            - CAST(sy AS DOUBLE) * sy) AS var_red
            FROM g
        )
        SELECT m.arm, m.n AS n_users, m.sx AS pre_dollars,
               m.sy AS post_dollars,
               CAST(ROUND(m.sy * 1.0 / m.n * 100.0) AS BIGINT)
                   AS mean_post_centidollars,
               CAST(ROUND((m.sy * 1.0 / m.n
                           - th.theta * (m.sx * 1.0 / m.n
                                         - th.sx * 1.0 / th.n)) * 100.0)
                    AS BIGINT) AS mean_adj_centidollars,
               CAST(ROUND(th.theta * 1000000.0) AS BIGINT) AS theta_micro,
               CAST(ROUND(th.var_red * 10000.0) AS BIGINT)
                   AS var_reduction_bp
        FROM m, th
    """,
    tags=("stats", "ab-test", "experimentation", "cuped", "orders"),
)
def orders_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    split = F.lit(CUPED_SPLIT).cast("timestamp_ntz")
    # whole-dollar quantization BEFORE the moments — see the oracle note
    spend = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        idiv(
            F.sum(
                F.when(F.col("o_orderdate") < split, cents).otherwise(0)
            ).cast("long"),
            100,
        ).alias("x"),
        idiv(
            F.sum(
                F.when(F.col("o_orderdate") >= split, cents).otherwise(0)
            ).cast("long"),
            100,
        ).alias("y"),
    )
    u = (
        customer.join(spend, customer["c_custkey"] == spend["k"], "left")
        .select(
            cuped_arm_col().alias("arm"),
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    return cuped_assemble(u)


def cuped_arm_col() -> "F.Column":
    """Deterministic hash arm assignment over c_custkey — one definition
    for the batch query and the streaming twin, riding the same
    md5_int prefix idiom as every other hash split here."""
    return md5_int("c_custkey", "cuped:") % 2


def cuped_assemble(u: DataFrame) -> DataFrame:
    """CUPED report from per-unit (arm, x, y) rows — shared verbatim by
    the batch query above and its streaming twin, so both check against
    the SAME oracle."""
    # The quadratic moments are exact int64 through the documented design
    # point (~sf1). Past it neither engine goes quietly wrong: DuckDB
    # raises on int64 overflow, and this engine pins ANSI mode ON
    # (session.ENGINE_DEFAULTS), under which both the per-row multiply
    # and the Sum aggregate raise ARITHMETIC_OVERFLOW instead of
    # wrapping. test_cuped_overflow_raises_loudly pins that contract —
    # if ANSI were ever disabled, that test (not a confusing oracle
    # value mismatch) is what fails.
    m = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    g = m.agg(
        F.sum("n").cast("long").alias("gn"),
        F.sum("sx").cast("long").alias("gsx"),
        F.sum("sy").cast("long").alias("gsy"),
        F.sum("sxx").cast("long").alias("gsxx"),
        F.sum("syy").cast("long").alias("gsyy"),
        F.sum("sxy").cast("long").alias("gsxy"),
    )
    nd = F.col("gn").cast("double")
    cov_n = nd * F.col("gsxy") - F.col("gsx").cast("double") * F.col("gsy")
    varx_n = nd * F.col("gsxx") - F.col("gsx").cast("double") * F.col("gsx")
    vary_n = nd * F.col("gsyy") - F.col("gsy").cast("double") * F.col("gsy")
    th = g.select(
        "gn",
        "gsx",
        (cov_n / varx_n).alias("theta"),
        (F.lit(1.0) - (vary_n - cov_n * cov_n / varx_n) / vary_n).alias(
            "var_red"
        ),
    )
    return m.crossJoin(F.broadcast(th)).select(
        "arm",
        F.col("n").alias("n_users"),
        F.col("sx").alias("pre_dollars"),
        F.col("sy").alias("post_dollars"),
        F.round(F.col("sy") * 1.0 / F.col("n") * 100.0, 0)
        .cast("long")
        .alias("mean_post_centidollars"),
        F.round(
            (
                F.col("sy") * 1.0 / F.col("n")
                - F.col("theta")
                * (
                    F.col("sx") * 1.0 / F.col("n")
                    - F.col("gsx") * 1.0 / F.col("gn")
                )
            )
            * 100.0,
            0,
        )
        .cast("long")
        .alias("mean_adj_centidollars"),
        F.round(F.col("theta") * 1000000.0, 0).cast("long").alias(
            "theta_micro"
        ),
        F.round(F.col("var_red") * 10000.0, 0).cast("long").alias(
            "var_reduction_bp"
        ),
    )


# ---------------------------------------------------------------------------
# PERMUTATION TEST — the assumption-free significance check: compare the
# OBSERVED arm uplift in purchase rate against the null distribution of
# the SAME statistic under re-randomization. The 28 null replicas come
# from the 28 BITS of one md5-derived user hash (the frozen-integer
# discipline of the Poisson bootstrap: no RNG, exactly reproducible on
# both engines and any cluster) — replica k assigns each user to the
# arm given by bit k, so ALL replicas evaluate in ONE user-keyed scan
# with 2·28 extra conditional int64 sums (constant-width aggregate
# state; arm-0 sides derive from the totals). p = share of replicas
# whose |uplift| reaches the observed |uplift|; the only floats are the
# per-replica rate differences — identical IEEE dags on both engines.
# ---------------------------------------------------------------------------
_PERM_K = 28  # replicas = bits of the 28-bit md5_int


@register(
    "events_permutation_test",
    oracle=(lambda: f"""
        WITH per_user AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS e,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS p,
                   {md5_int_sql("user_id", "perm:")} % 2 AS arm,
                   {md5_int_sql("user_id", "permbits:")} AS bits
            FROM events GROUP BY user_id
        ),
        g AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(e) AS BIGINT) AS e_tot,
                   CAST(SUM(p) AS BIGINT) AS p_tot,
                   CAST(SUM(CASE WHEN arm = 1 THEN e ELSE 0 END) AS BIGINT)
                       AS e_obs1,
                   CAST(SUM(CASE WHEN arm = 1 THEN p ELSE 0 END) AS BIGINT)
                       AS p_obs1,
                   {", ".join(
                       f"CAST(SUM(CASE WHEN (bits // {1 << k}) % 2 = 1 "
                       f"THEN e ELSE 0 END) AS BIGINT) AS e1_{k}, "
                       f"CAST(SUM(CASE WHEN (bits // {1 << k}) % 2 = 1 "
                       f"THEN p ELSE 0 END) AS BIGINT) AS p1_{k}"
                       for k in range(_PERM_K)
                   )}
            FROM per_user
        ),
        h0 AS (
            -- degenerate-arm guard mirrored from permutation_assemble:
            -- an empty replica arm yields a NULL uplift (not a
            -- DIVIDE_BY_ZERO raise), and NULL >= abs(obs) counts 0
            SELECT *,
                   CASE WHEN e_obs1 = 0 OR e_tot - e_obs1 = 0 THEN NULL
                        ELSE p_obs1 * 1.0 / e_obs1
                             - (p_tot - p_obs1) * 1.0 / (e_tot - e_obs1)
                   END AS obs
            FROM g
        ),
        h AS (
            SELECT n_users, e_tot, p_tot, obs,
                   CAST({" + ".join(
                       f"CASE WHEN abs(CASE WHEN e1_{k} = 0"
                       f" OR e_tot - e1_{k} = 0 THEN NULL"
                       f" ELSE p1_{k} * 1.0 / e1_{k}"
                       f" - (p_tot - p1_{k}) * 1.0 / (e_tot - e1_{k}) END)"
                       f" >= abs(obs)"
                       f" THEN 1 ELSE 0 END"
                       for k in range(_PERM_K)
                   )} AS BIGINT) AS n_ge
            FROM h0
        )
        SELECT n_users, e_tot AS n_events, p_tot AS n_purchases,
               CAST(ROUND(obs * 1000000.0) AS BIGINT) AS obs_uplift_micro,
               CAST({_PERM_K} AS BIGINT) AS n_replicas,
               n_ge AS n_ge_obs,
               n_ge * 10000 // {_PERM_K} AS p_value_bp
        FROM h
    """)(),
    tags=("stats", "ab-test", "experimentation", "permutation", "events"),
)
def events_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return permutation_assemble(perm_per_user_counts(events))


def perm_per_user_counts(events: DataFrame) -> DataFrame:
    """Per-user (user_id, e, p) counts — the one definition of the
    permutation test's unit spine, shared verbatim by the batch query
    and its streaming twin (the groupBy works identically on a
    streaming DataFrame)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("e"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("p"),
    )


def permutation_assemble(per_user: DataFrame) -> DataFrame:
    """Permutation report from per-user (user_id, e, p) rows — shared
    verbatim by the batch query and its streaming twin (the arm and
    replica-bit hashes derive from user_id here, so the stream only has
    to converge the two counts)."""
    per_user = per_user.select(
        "e",
        "p",
        (md5_int("user_id", "perm:") % 2).alias("arm"),
        md5_int("user_id", "permbits:").alias("bits"),
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("e").cast("long").alias("e_tot"),
        F.sum("p").cast("long").alias("p_tot"),
        F.sum(F.when(F.col("arm") == 1, F.col("e")).otherwise(0))
        .cast("long")
        .alias("e_obs1"),
        F.sum(F.when(F.col("arm") == 1, F.col("p")).otherwise(0))
        .cast("long")
        .alias("p_obs1"),
    ]
    for k in range(_PERM_K):
        bit = idiv("bits", 1 << k) % 2
        aggs.append(
            F.sum(F.when(bit == 1, F.col("e")).otherwise(0))
            .cast("long")
            .alias(f"e1_{k}")
        )
        aggs.append(
            F.sum(F.when(bit == 1, F.col("p")).otherwise(0))
            .cast("long")
            .alias(f"p1_{k}")
        )
    g = per_user.agg(*aggs)

    def uplift(p1, e1):
        # Degenerate replica (one arm holds every event): the uplift is
        # undefined — NULL, not a DIVIDE_BY_ZERO raise (ANSI is pinned
        # on both engines; the oracle mirrors this CASE branch so
        # engine and oracle agree on degenerate inputs too). A NULL
        # uplift makes its replica's |·| >= |obs| hit count 0 on both.
        return F.when(
            (e1 == 0) | (F.col("e_tot") - e1 == 0),
            F.lit(None).cast("double"),
        ).otherwise(
            p1 * 1.0 / e1
            - (F.col("p_tot") - p1) * 1.0 / (F.col("e_tot") - e1)
        )

    obs = uplift(F.col("p_obs1"), F.col("e_obs1"))
    n_ge = None
    for k in range(_PERM_K):
        hit = F.when(
            F.abs(uplift(F.col(f"p1_{k}"), F.col(f"e1_{k}"))) >= F.abs(obs),
            1,
        ).otherwise(0)
        n_ge = hit if n_ge is None else n_ge + hit
    n_ge = n_ge.cast("long")
    return g.select(
        "n_users",
        F.col("e_tot").alias("n_events"),
        F.col("p_tot").alias("n_purchases"),
        F.round(obs * 1000000.0, 0).cast("long").alias("obs_uplift_micro"),
        F.lit(_PERM_K).cast("long").alias("n_replicas"),
        n_ge.alias("n_ge_obs"),
        idiv(n_ge * 10000, F.lit(_PERM_K)).alias("p_value_bp"),
    )


# ---------------------------------------------------------------------------
# SAMPLE RATIO MISMATCH CHECK — the #1 A/B-test sanity gate (Fabijan et
# al. 2019): before reading ANY metric, verify the randomizer actually
# delivered the designed 50/50 split of UNITS (users). chi² for two
# cells against equal expected counts collapses to (n0−n1)²/n — exact
# integer arithmetic end to end (micro units via integer division), no
# floats anywhere. Scale shape: one user-keyed distinct aggregate, a
# 2-row arm rollup, one scalar. Shares its per-user spine with the
# streaming twin (the same two counts in JVM agg state).
# ---------------------------------------------------------------------------
SRM_CHI2_CRIT_MICRO = 3_841_459  # chi²(1) at alpha=0.05, micro units


def srm_assemble(users: DataFrame) -> DataFrame:
    """SRM report from per-user 1-row-per-user (user_id) rows — shared
    verbatim by the batch query and its streaming twin."""
    arms = users.groupBy(
        (md5_int("user_id", "srm:") % 2).alias("arm")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = arms.agg(
        F.sum("n").cast("long").alias("n_users"),
        F.sum(F.when(F.col("arm") == 0, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_arm0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_arm1"),
    )
    diff = F.col("n_arm0") - F.col("n_arm1")
    chi2 = idiv(diff * diff * 1000000, F.col("n_users"))
    return g.select(
        "n_users",
        "n_arm0",
        "n_arm1",
        chi2.alias("chi2_micro"),
        F.when(chi2 > SRM_CHI2_CRIT_MICRO, "mismatch")
        .otherwise("ok")
        .alias("srm_verdict"),
    )


_SRM_USERS_SQL = "SELECT DISTINCT user_id FROM events"


def _srm_oracle(users_sql: str) -> str:
    return f"""
        WITH users AS ({users_sql}),
        arms AS (
            SELECT {md5_int_sql("user_id", "srm:")} % 2 AS arm,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM users GROUP BY 1
        ),
        g AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_users,
                   CAST(SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT)
                       AS n_arm0,
                   CAST(SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT)
                       AS n_arm1
            FROM arms
        )
        SELECT n_users, n_arm0, n_arm1,
               (n_arm0 - n_arm1) * (n_arm0 - n_arm1) * 1000000 // n_users
                   AS chi2_micro,
               CASE WHEN (n_arm0 - n_arm1) * (n_arm0 - n_arm1) * 1000000
                         // n_users > {SRM_CHI2_CRIT_MICRO}
                    THEN 'mismatch' ELSE 'ok' END AS srm_verdict
        FROM g
    """


@register(
    "events_srm_check",
    oracle=_srm_oracle(_SRM_USERS_SQL),
    tags=("stats", "ab-test", "experimentation", "srm", "events"),
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return srm_assemble(events.select("user_id").distinct())


# ---------------------------------------------------------------------------
# POWER / MINIMUM-DETECTABLE-EFFECT PLAN — the question every
# experimenter asks BEFORE launching: with this much traffic, what
# uplift could the test even see? Two-proportion z-test MDE at
# alpha=0.05 (two-sided) / 80% power:
#   MDE = (z_{a/2} + z_beta) · sqrt(2·p(1−p)/n_per_arm)
# with the two z constants embedded as exact double literals (they are
# universal constants, not data). Baseline p comes from exact integer
# counts; the ONE float expression is the same IEEE dag on both engines
# (multiply/divide + correctly-rounded sqrt — no transcendentals).
# Scale shape: a single whole-table aggregate.
# ---------------------------------------------------------------------------
_POWER_Z_SUM = 2.801585  # z_{0.025} + z_{0.20} = 1.959964 + 0.841621


@register(
    "events_power_mde_plan",
    oracle=f"""
        WITH c AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_purch
            FROM events
        ),
        f AS (
            -- degenerate-input guard mirrored from power_mde_assemble:
            -- NULL plan columns, never a DIVIDE_BY_ZERO raise
            SELECT n_events, n_purch,
                   n_events // 2 AS n_per_arm,
                   CASE WHEN n_events = 0 THEN NULL
                        ELSE n_purch * 1.0 / n_events END AS p
            FROM c
        ),
        f2 AS (
            SELECT *,
                   CASE WHEN n_per_arm = 0 OR p IS NULL THEN NULL
                        ELSE {_POWER_Z_SUM}
                             * sqrt((2.0 * p * (1.0 - p)) / n_per_arm)
                   END AS mde
            FROM f
        )
        SELECT n_events, n_purch AS n_purchases,
               CASE WHEN n_events = 0 THEN NULL
                    ELSE CAST(n_purch * 10000 // n_events AS BIGINT)
               END AS baseline_rate_bp,
               n_per_arm,
               CAST(ROUND(mde * 1000000.0) AS BIGINT) AS mde_abs_micro,
               CASE WHEN n_purch = 0 THEN NULL
                    ELSE CAST(ROUND(mde / p * 10000.0) AS BIGINT)
               END AS mde_rel_bp
        FROM f2
    """,
    tags=("stats", "ab-test", "experimentation", "power", "events"),
)
def events_power_mde_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    c = events.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("n_purch"),
    )
    return power_mde_assemble(c)


def power_mde_assemble(c: DataFrame) -> DataFrame:
    """MDE report from a 1-row (n_events, n_purch) table — shared
    verbatim by the batch query and its streaming twin. Degenerate
    inputs (no events, or no purchases for the relative MDE) yield
    NULL plan columns instead of an ANSI DIVIDE_BY_ZERO raise; the
    oracle mirrors the same CASE branches so both engines agree."""
    f = c.select(
        "n_events",
        "n_purch",
        idiv("n_events", 2).alias("n_per_arm"),
        F.when(F.col("n_events") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("n_purch") * 1.0 / F.col("n_events"))
        .alias("p"),
    )
    mde = F.when(
        (F.col("n_per_arm") == 0) | F.col("p").isNull(),
        F.lit(None).cast("double"),
    ).otherwise(
        F.lit(_POWER_Z_SUM)
        * F.sqrt(
            (F.lit(2.0) * F.col("p") * (F.lit(1.0) - F.col("p")))
            / F.col("n_per_arm")
        )
    )
    return f.select(
        "n_events",
        F.col("n_purch").alias("n_purchases"),
        F.when(F.col("n_events") == 0, F.lit(None).cast("long"))
        .otherwise(idiv(F.col("n_purch") * 10000, F.col("n_events")))
        .alias("baseline_rate_bp"),
        "n_per_arm",
        F.round(mde * 1000000.0, 0).cast("long").alias("mde_abs_micro"),
        F.when(F.col("n_purch") == 0, F.lit(None).cast("long"))
        .otherwise(F.round(mde / F.col("p") * 10000.0, 0).cast("long"))
        .alias("mde_rel_bp"),
    )


# ---------------------------------------------------------------------------
# DIFFERENCE-IN-DIFFERENCES — the quasi-experimental workhorse (Card &
# Krueger 1994): compare the treatment arm's pre→post change against
# the control arm's, so any shared time trend cancels. Unit = order;
# period splits at the SAME boundary CUPED uses for pre/post; arms are
# a fresh deterministic hash split (prefix "did"). Cell means stay in
# exact cents; the pooled standard error uses per-cell sample variances
# over WHOLE-DOLLAR-quantized order values (the CUPED
# quantize-before-squaring discipline — Σd² stays exact int64 through
# ~sf100, past which ANSI raises loudly on both engines), with the
# centered products promoted to DOUBLE exactly like CUPED's theta. One
# (arm, period)-keyed scan with map-side partial aggregates → a 4-row
# cell table → broadcast scalars; nothing data-sized converges.
# ---------------------------------------------------------------------------
DID_SPLIT = CUPED_SPLIT  # shared pre/post boundary


def did_arm_col() -> "F.Column":
    """Deterministic hash arm over o_custkey (prefix 'did' — an
    experiment distinct from CUPED's), shared by batch and stream."""
    return md5_int("o_custkey", "did:") % 2


def did_assemble(cells: DataFrame) -> DataFrame:
    """DiD report from the 4-row (arm, period, n, sum_cents, sum_d,
    sum_d2) cell table — shared verbatim by the batch query and its
    streaming twin, so both check against the SAME oracle."""
    pick = lambda a, p, c: F.sum(  # noqa: E731 — 4-row conditional pivot
        F.when((F.col("arm") == a) & (F.col("period") == p), F.col(c))
        .otherwise(0)
    ).cast("long")
    g = cells.agg(
        *[
            pick(a, p, c).alias(f"{c}_{a}_{p}")
            for a in (0, 1)
            for p in ("pre", "post")
            for c in ("n", "sum_cents", "sum_d", "sum_d2")
        ]
    )

    def mean_cents(a, p):
        return F.col(f"sum_cents_{a}_{p}") * 1.0 / F.col(f"n_{a}_{p}")

    def var_d(a, p):
        n = F.col(f"n_{a}_{p}").cast("double")
        sd = F.col(f"sum_d_{a}_{p}").cast("double")
        sd2 = F.col(f"sum_d2_{a}_{p}").cast("double")
        return (n * sd2 - sd * sd) / (n * (n - F.lit(1.0)))

    # Degenerate design guard: a missing (n=0) or singleton (n=1)
    # (arm, period) cell — possible at tiny scale factors — makes the
    # cell mean and/or sample variance undefined. Route it through an
    # explicit NULL branch (mirrored in the oracle's CASE) instead of
    # letting pinned-ANSI Spark raise where DuckDB yields NULL.
    degenerate = None
    for a in (0, 1):
        for p in ("pre", "post"):
            cond = F.col(f"n_{a}_{p}") < 2
            degenerate = cond if degenerate is None else (degenerate | cond)

    did_cents = (mean_cents(1, "post") - mean_cents(1, "pre")) - (
        mean_cents(0, "post") - mean_cents(0, "pre")
    )
    se_dollars = F.sqrt(
        var_d(1, "post") / F.col("n_1_post")
        + var_d(1, "pre") / F.col("n_1_pre")
        + var_d(0, "post") / F.col("n_0_post")
        + var_d(0, "pre") / F.col("n_0_pre")
    )

    def guarded(col):
        return F.when(degenerate, F.lit(None).cast("long")).otherwise(col)

    report = g.select(
        guarded(F.round(did_cents * 1000.0, 0).cast("long")).alias(
            "did_millicent"
        ),
        guarded(F.round(se_dollars * 1000.0, 0).cast("long")).alias(
            "se_millidollar"
        ),
        guarded(
            F.round(did_cents / 100.0 / se_dollars * 1000.0, 0).cast("long")
        ).alias("t_milli"),
    )
    per_cell = cells.select(
        "arm",
        "period",
        F.col("n").alias("n_orders"),
        F.round(F.col("sum_cents") * 1.0 / F.col("n"), 0)
        .cast("long")
        .alias("mean_order_cents"),
    )
    return per_cell.crossJoin(F.broadcast(report))


@register(
    "orders_did_estimator",
    oracle=f"""
        WITH per_order AS (
            SELECT {md5_int_sql("o_custkey", "did:")} % 2 AS arm,
                   CASE WHEN o_orderdate < TIMESTAMP '{DID_SPLIT}'
                        THEN 'pre' ELSE 'post' END AS period,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100 AS d
            FROM orders
        ),
        cells AS (
            SELECT arm, period,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents,
                   CAST(SUM(d) AS BIGINT) AS sum_d,
                   CAST(SUM(d * d) AS BIGINT) AS sum_d2
            FROM per_order GROUP BY 1, 2
        ),
        g AS (
            SELECT
              CAST(SUM(CASE WHEN arm=1 AND period='post' THEN n ELSE 0 END) AS BIGINT) AS n_1_post,
              CAST(SUM(CASE WHEN arm=1 AND period='pre'  THEN n ELSE 0 END) AS BIGINT) AS n_1_pre,
              CAST(SUM(CASE WHEN arm=0 AND period='post' THEN n ELSE 0 END) AS BIGINT) AS n_0_post,
              CAST(SUM(CASE WHEN arm=0 AND period='pre'  THEN n ELSE 0 END) AS BIGINT) AS n_0_pre,
              CAST(SUM(CASE WHEN arm=1 AND period='post' THEN sum_cents ELSE 0 END) AS BIGINT) AS sc_1_post,
              CAST(SUM(CASE WHEN arm=1 AND period='pre'  THEN sum_cents ELSE 0 END) AS BIGINT) AS sc_1_pre,
              CAST(SUM(CASE WHEN arm=0 AND period='post' THEN sum_cents ELSE 0 END) AS BIGINT) AS sc_0_post,
              CAST(SUM(CASE WHEN arm=0 AND period='pre'  THEN sum_cents ELSE 0 END) AS BIGINT) AS sc_0_pre,
              CAST(SUM(CASE WHEN arm=1 AND period='post' THEN sum_d ELSE 0 END) AS BIGINT) AS sd_1_post,
              CAST(SUM(CASE WHEN arm=1 AND period='pre'  THEN sum_d ELSE 0 END) AS BIGINT) AS sd_1_pre,
              CAST(SUM(CASE WHEN arm=0 AND period='post' THEN sum_d ELSE 0 END) AS BIGINT) AS sd_0_post,
              CAST(SUM(CASE WHEN arm=0 AND period='pre'  THEN sum_d ELSE 0 END) AS BIGINT) AS sd_0_pre,
              CAST(SUM(CASE WHEN arm=1 AND period='post' THEN sum_d2 ELSE 0 END) AS BIGINT) AS sq_1_post,
              CAST(SUM(CASE WHEN arm=1 AND period='pre'  THEN sum_d2 ELSE 0 END) AS BIGINT) AS sq_1_pre,
              CAST(SUM(CASE WHEN arm=0 AND period='post' THEN sum_d2 ELSE 0 END) AS BIGINT) AS sq_0_post,
              CAST(SUM(CASE WHEN arm=0 AND period='pre'  THEN sum_d2 ELSE 0 END) AS BIGINT) AS sq_0_pre
            FROM cells
        ),
        rep AS (
            -- degenerate-cell guard mirrored from did_assemble: any
            -- missing/singleton (arm, period) cell -> NULL report
            SELECT
              CASE WHEN n_1_post < 2 OR n_1_pre < 2
                     OR n_0_post < 2 OR n_0_pre < 2 THEN NULL ELSE
              CAST(ROUND(((sc_1_post * 1.0 / n_1_post
                           - sc_1_pre * 1.0 / n_1_pre)
                          - (sc_0_post * 1.0 / n_0_post
                             - sc_0_pre * 1.0 / n_0_pre)) * 1000.0)
                   AS BIGINT) END AS did_millicent,
              CASE WHEN n_1_post < 2 OR n_1_pre < 2
                     OR n_0_post < 2 OR n_0_pre < 2 THEN NULL ELSE
              CAST(ROUND(sqrt(
                  (CAST(n_1_post AS DOUBLE) * sq_1_post
                   - CAST(sd_1_post AS DOUBLE) * sd_1_post)
                  / (CAST(n_1_post AS DOUBLE) * (n_1_post - 1.0)) / n_1_post
                + (CAST(n_1_pre AS DOUBLE) * sq_1_pre
                   - CAST(sd_1_pre AS DOUBLE) * sd_1_pre)
                  / (CAST(n_1_pre AS DOUBLE) * (n_1_pre - 1.0)) / n_1_pre
                + (CAST(n_0_post AS DOUBLE) * sq_0_post
                   - CAST(sd_0_post AS DOUBLE) * sd_0_post)
                  / (CAST(n_0_post AS DOUBLE) * (n_0_post - 1.0)) / n_0_post
                + (CAST(n_0_pre AS DOUBLE) * sq_0_pre
                   - CAST(sd_0_pre AS DOUBLE) * sd_0_pre)
                  / (CAST(n_0_pre AS DOUBLE) * (n_0_pre - 1.0)) / n_0_pre
              ) * 1000.0) AS BIGINT) END AS se_millidollar,
              CASE WHEN n_1_post < 2 OR n_1_pre < 2
                     OR n_0_post < 2 OR n_0_pre < 2 THEN NULL ELSE
              CAST(ROUND(((sc_1_post * 1.0 / n_1_post
                           - sc_1_pre * 1.0 / n_1_pre)
                          - (sc_0_post * 1.0 / n_0_post
                             - sc_0_pre * 1.0 / n_0_pre)) / 100.0 / sqrt(
                  (CAST(n_1_post AS DOUBLE) * sq_1_post
                   - CAST(sd_1_post AS DOUBLE) * sd_1_post)
                  / (CAST(n_1_post AS DOUBLE) * (n_1_post - 1.0)) / n_1_post
                + (CAST(n_1_pre AS DOUBLE) * sq_1_pre
                   - CAST(sd_1_pre AS DOUBLE) * sd_1_pre)
                  / (CAST(n_1_pre AS DOUBLE) * (n_1_pre - 1.0)) / n_1_pre
                + (CAST(n_0_post AS DOUBLE) * sq_0_post
                   - CAST(sd_0_post AS DOUBLE) * sd_0_post)
                  / (CAST(n_0_post AS DOUBLE) * (n_0_post - 1.0)) / n_0_post
                + (CAST(n_0_pre AS DOUBLE) * sq_0_pre
                   - CAST(sd_0_pre AS DOUBLE) * sd_0_pre)
                  / (CAST(n_0_pre AS DOUBLE) * (n_0_pre - 1.0)) / n_0_pre
              ) * 1000.0) AS BIGINT) END AS t_milli
            FROM g
        )
        SELECT c.arm, c.period, c.n AS n_orders,
               CAST(ROUND(c.sum_cents * 1.0 / c.n) AS BIGINT)
                   AS mean_order_cents,
               r.did_millicent, r.se_millidollar, r.t_milli
        FROM cells c CROSS JOIN rep r
    """,
    tags=("stats", "ab-test", "experimentation", "did", "orders"),
)
def orders_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    split = F.lit(DID_SPLIT).cast("timestamp_ntz")
    cells = (
        orders.select(
            did_arm_col().alias("arm"),
            F.when(F.col("o_orderdate") < split, "pre")
            .otherwise("post")
            .alias("period"),
            cents.alias("cents"),
            idiv(cents, 100).alias("d"),
        )
        .groupBy("arm", "period")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.sum("d").cast("long").alias("sum_d"),
            F.sum(F.col("d") * F.col("d")).cast("long").alias("sum_d2"),
        )
        .localCheckpoint(eager=False)  # cell rows + the report share it
    )
    return did_assemble(cells)


# ---------------------------------------------------------------------------
# SEQUENTIAL PROBABILITY RATIO TEST (SPRT) — Wald's always-valid
# sequential test, the experimentation-platform complement of the
# fixed-horizon z-test (events_ab_uplift_test) and CUPED
# (orders_cuped_adjustment): walk the event stream in (ts, event_id)
# order accumulating the log-likelihood ratio of H1 (purchase rate
# SPRT_P1) vs H0 (SPRT_P0), and report the FIRST crossing of Wald's
# boundaries ln((1-beta)/alpha) / ln(beta/(1-alpha)) — the moment a
# live monitor could have stopped. Per-event increments and both
# boundaries are integer MILLI-nats precomputed ONCE in Python and
# embedded verbatim in both engines, so there is no float anywhere in
# the walk; the running LLR rides the distributed prefix-sum primitive
# (range exchange + broadcast offsets — no single-partition window),
# and the final LLR is closed-form from the two counts. At 100 TB the
# walk is the same two range exchanges; milli-nat magnitudes stay under
# 2^53 through sf 1000.
# ---------------------------------------------------------------------------
SPRT_P0 = 0.15   # H0 purchase rate
SPRT_P1 = 0.20   # H1 purchase rate
SPRT_ALPHA = 0.05
SPRT_BETA = 0.05
_SPRT_INC1 = round(math.log(SPRT_P1 / SPRT_P0) * 1000)          # x=1 step
_SPRT_INC0 = round(math.log((1 - SPRT_P1) / (1 - SPRT_P0)) * 1000)  # x=0
_SPRT_A = round(math.log((1 - SPRT_BETA) / SPRT_ALPHA) * 1000)  # upper
_SPRT_B = round(math.log(SPRT_BETA / (1 - SPRT_ALPHA)) * 1000)  # lower


@register(
    "events_sprt_monitor",
    oracle=f"""
        WITH walk AS (
            SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
                   ROW_NUMBER() OVER (ORDER BY ts, event_id) AS idx,
                   SUM(CASE WHEN event_type = 'purchase'
                            THEN {_SPRT_INC1} ELSE {_SPRT_INC0} END)
                       OVER (ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS llr
            FROM events
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(x) AS BIGINT) AS n_success,
               CAST({_SPRT_INC1} * SUM(x)
                    + {_SPRT_INC0} * (COUNT(*) - SUM(x)) AS BIGINT)
                   AS llr_final_milli,
               CAST({_SPRT_A} AS BIGINT) AS upper_milli,
               CAST({_SPRT_B} AS BIGINT) AS lower_milli,
               CAST(COALESCE(MIN(CASE WHEN llr >= {_SPRT_A} THEN idx END), 0)
                    AS BIGINT) AS first_up_idx,
               CAST(COALESCE(MIN(CASE WHEN llr <= {_SPRT_B} THEN idx END), 0)
                    AS BIGINT) AS first_down_idx,
               CASE
                   WHEN MIN(CASE WHEN llr >= {_SPRT_A} THEN idx END)
                        IS NOT NULL
                    AND COALESCE(MIN(CASE WHEN llr <= {_SPRT_B} THEN idx END),
                                 9223372036854775807)
                        > MIN(CASE WHEN llr >= {_SPRT_A} THEN idx END)
                   THEN 'accept_h1'
                   WHEN MIN(CASE WHEN llr <= {_SPRT_B} THEN idx END)
                        IS NOT NULL
                   THEN 'accept_h0'
                   ELSE 'continue'
               END AS decision
        FROM walk
    """,
    tags=("stats", "experimentation", "sequential", "sprt", "events"),
)
def events_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_job_spark.operators._distributed import (
        distributed_prefix_sums,
    )

    events = load_table(spark, sf_dir, "events")
    obs = events.select(
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
        F.when(
            F.col("event_type") == "purchase", F.lit(_SPRT_INC1)
        )
        .otherwise(F.lit(_SPRT_INC0))
        .cast("long")
        .alias("inc"),
        F.lit(1).cast("long").alias("one"),
    )
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    # one range exchange carries BOTH running sums: the LLR walk and
    # the global row index (a running sum of ones)
    walked = distributed_prefix_sums(
        obs, order, {"inc": "llr", "one": "idx"}
    )
    up = F.min(F.when(F.col("llr") >= _SPRT_A, F.col("idx")))
    down = F.min(F.when(F.col("llr") <= _SPRT_B, F.col("idx")))
    agg = walked.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("x").cast("long").alias("n_success"),
        up.alias("_up"),
        down.alias("_down"),
    )
    return agg.select(
        "n_events",
        "n_success",
        (
            _SPRT_INC1 * F.col("n_success")
            + _SPRT_INC0 * (F.col("n_events") - F.col("n_success"))
        )
        .cast("long")
        .alias("llr_final_milli"),
        F.lit(_SPRT_A).cast("long").alias("upper_milli"),
        F.lit(_SPRT_B).cast("long").alias("lower_milli"),
        F.coalesce(F.col("_up"), F.lit(0)).cast("long").alias("first_up_idx"),
        F.coalesce(F.col("_down"), F.lit(0))
        .cast("long")
        .alias("first_down_idx"),
        F.when(
            F.col("_up").isNotNull()
            & (
                F.coalesce(F.col("_down"), F.lit(9223372036854775807))
                > F.col("_up")
            ),
            F.lit("accept_h1"),
        )
        .when(F.col("_down").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# QUANTILE TREATMENT EFFECT — the distribution-level readout the mean
# uplift test hides: per hash arm ('qte' split on user_id — user-level
# randomization, event-level outcome), the EXACT p25/p50/p75 of the
# event value in cents by rank selection (the winsorize-audit
# discipline: rank k = max(1, n*q//100) under the total order
# (cents, event_id) — deterministic, no interpolation ambiguity), then
# the median uplift and the interquartile-range shift between arms.
# Scale shape (r12): ONE grouped-count exchange (one row per
# (arm, cents) cell) + a cumulative window over the DOMAIN-bounded
# grouped table (cents ≤ ~56k distinct at any SF) + broadcast target
# ranks — the value at rank k is the smallest cents whose running
# count reaches k, so full rows never need a global order.
# ---------------------------------------------------------------------------
QTE_QS = (25, 50, 75)


@register(
    "events_quantile_uplift",
    oracle=f"""
        WITH e AS (
            SELECT event_id,
                   CAST(ROUND(value * 100.0) AS BIGINT) AS cents,
                   {md5_int_sql("user_id", "qte:")} % 2 AS arm
            FROM events
        ),
        r AS (
            SELECT arm, cents,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY arm ORDER BY cents, event_id
                   ) AS BIGINT) AS rnk
            FROM e
        ),
        n AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1),
        q AS (
            SELECT r.arm,
                   {", ".join(
                       f"MIN(CASE WHEN rnk = GREATEST(1, n * {p} // 100) "
                       f"THEN cents END) AS p{p}"
                       for p in QTE_QS
                   )}
            FROM r JOIN n ON n.arm = r.arm
            GROUP BY r.arm
        ),
        w AS (
            SELECT
                {", ".join(
                    f"CAST(SUM(CASE WHEN q.arm = {a} THEN n.n END) AS BIGINT)"
                    f" AS n_{a}, "
                    + ", ".join(
                        f"CAST(SUM(CASE WHEN q.arm = {a} THEN p{p} END)"
                        f" AS BIGINT) AS p{p}_{a}"
                        for p in QTE_QS
                    )
                    for a in (0, 1)
                )}
            FROM q JOIN n ON n.arm = q.arm
        )
        SELECT n_0, n_1,
               p50_0 AS p50_0_cents, p50_1 AS p50_1_cents,
               p50_1 - p50_0 AS median_uplift_cents,
               p75_0 - p25_0 AS iqr_0_cents,
               p75_1 - p25_1 AS iqr_1_cents,
               (p75_1 - p25_1) - (p75_0 - p25_0) AS iqr_shift_cents
        FROM w
    """,
    tags=("stats", "ab-test", "experimentation", "quantile", "events"),
    bench_ext=True,
)
def events_quantile_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        F.round(F.col("value") * 100.0, 0).cast("long").alias("cents"),
        (md5_int("user_id", "qte:") % 2).alias("arm"),
    )

    # GROUPED-COUNT rank selection (r12, replacing two full-row
    # distributed_rank passes): the value at per-arm rank k under the
    # order (cents, event_id) depends only on the per-(arm, cents)
    # COUNTS — it is the smallest cents whose running count reaches k
    # (the event_id tiebreak orders rows WITHIN one cents value and
    # cannot change which value holds rank k). So aggregate counts
    # first (guide §2.3 "aggregate before you shuffle": the one
    # data-sized exchange carries one row per (arm, cents) cell, not
    # one per event), then run the cumulative window over the GROUPED
    # table. That window partitions by arm, but its input is bounded
    # by the CENTS DOMAIN (value ≤ ~560 ⇒ ≤ ~56k cells per arm at any
    # scale factor — 17,792 observed at sf0.1), not by the data: it is
    # metadata-scale at 100 TB, the same bounded-domain argument as the
    # registry's seqlen histogram windows.
    g = e.groupBy("arm", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("arm")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.withColumn("cum", F.sum("cnt").over(w_cum))
    arm_stats = (
        g.groupBy("arm")
        .agg(F.sum("cnt").cast("long").alias("n"))
        .select(
            "arm",
            "n",
            *[
                F.greatest(F.lit(1), idiv(F.col("n") * p, 100))
                .cast("long")
                .alias(f"k{p}")
                for p in QTE_QS
            ],
        )
    )
    joined = cum.join(F.broadcast(arm_stats), "arm")
    w = joined.agg(
        *[
            col
            for a in (0, 1)
            for col in (
                [
                    F.min(F.when(F.col("arm") == a, F.col("n")))
                    .cast("long")
                    .alias(f"n_{a}")
                ]
                + [
                    F.min(
                        F.when(
                            (F.col("arm") == a)
                            & (F.col("cum") >= F.col(f"k{p}")),
                            F.col("cents"),
                        )
                    )
                    .cast("long")
                    .alias(f"p{p}_{a}")
                    for p in QTE_QS
                ]
            )
        ]
    )
    return w.select(
        "n_0",
        "n_1",
        F.col("p50_0").alias("p50_0_cents"),
        F.col("p50_1").alias("p50_1_cents"),
        (F.col("p50_1") - F.col("p50_0")).alias("median_uplift_cents"),
        (F.col("p75_0") - F.col("p25_0")).alias("iqr_0_cents"),
        (F.col("p75_1") - F.col("p25_1")).alias("iqr_1_cents"),
        (
            (F.col("p75_1") - F.col("p25_1"))
            - (F.col("p75_0") - F.col("p25_0"))
        ).alias("iqr_shift_cents"),
    )

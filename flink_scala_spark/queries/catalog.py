"""The query catalog — every implemented operator as a named query.

Each entry pairs a PySpark builder (``(spark, sf_dir) -> DataFrame``)
with an equivalent ANSI-SQL oracle that DuckDB runs on the same parquet
tables. Column names and types are aligned on both sides (the driver
sorts columns by name and hashes values). Floating-point aggregates are
rounded identically on both sides; window boundaries are emitted as
epoch-seconds BIGINTs so no timezone semantics leak into the compare.

Mapping of reference fixtures to driver testdata (FIXTURES.md §5):
``events(event_id, ts, user_id, event_type, value, props)`` stands in
for the sensor/time streams (key = user_id or event_type, event time =
ts, measurement = value); ``orders`` + ``customer``/``nation`` stand in
for the OrderEvent dashboard; ``documents.text`` feeds word count and
the text pipeline; ``embeddings`` feeds similarity search.
"""

from __future__ import annotations

import functools
import threading
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_scala_spark import tables
from flink_scala_spark.functions.portable import epoch_seconds
from flink_scala_spark.materialize import shared_bounded
from flink_scala_spark.operators import (
    aggregations as agg_ops,
    dashboard,
    joins,
    multistream,
    transforms,
    windows,
    wordcount,
)


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None => non-SQL-expressible, rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}

#: Thread-local name of the catalog entry whose builder is currently
#: executing — the bounded-streaming runner keys its captured physical
#: plans by this, so the streaming plan sweep (tests/test_plans.py)
#: can pin state-operator shapes per catalog entry without re-running.
_CURRENT = threading.local()


def current_query() -> Optional[str]:
    return getattr(_CURRENT, "name", None)


def register(name: str, oracle: Optional[str], *tags: str):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            prev = getattr(_CURRENT, "name", None)
            _CURRENT.name = name
            try:
                return fn(spark, sf_dir)
            finally:
                _CURRENT.name = prev

        QUERIES[name] = QuerySpec(name, wrapped, oracle, tags)
        return fn

    return deco


#: Shared rolling-7-day-distinct CTE block (ud/grid/fan/roll) — THE
#: definition of the rolling-distinct ground truth, composed into the
#: oracles of rolling_distinct_users, rolling_distinct_users_hll
#: (pipeline_queries) and streaming_rolling_distinct_daily
#: (streaming_queries); it lives here so neither sibling query module
#: imports the other's privates.
ROLLING_UD_SQL = """
    ud AS (SELECT DISTINCT user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
           FROM events),
    grid AS (SELECT DISTINCT d FROM ud),
    fan AS (SELECT DISTINCT user_id, d + r AS td
            FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS r) offs),
    roll AS (SELECT td, CAST(count(*) AS BIGINT) AS users_7d
             FROM fan WHERE td IN (SELECT d FROM grid) GROUP BY 1)
"""


def oracle_sql_map() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# Flagship dashboard (A4 / OrderAnalysy.scala)
# ---------------------------------------------------------------------------

@register(
    "order_dashboard_total",
    """
    SELECT CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS order_day,
           count(*) AS total_num,
           round(sum(o_totalprice), 2) AS total_money
    FROM orders GROUP BY 1
    """,
    "A4", "flagship", "bench",
)
def q_order_dashboard_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dashboard.order_totals_by_day(tables.load(spark, sf_dir, "orders"))


@register(
    "order_dashboard_province",
    """
    SELECT CAST(strftime(o.o_orderdate, '%Y%m%d') AS INT) AS order_day,
           n.n_name AS province,
           count(*) AS total_num,
           round(sum(o.o_totalprice), 2) AS total_money
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
    "A4", "flagship", "join", "bench",
)
def q_order_dashboard_province(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dashboard.order_totals_by_day_province(
        tables.load(spark, sf_dir, "orders"),
        tables.load(spark, sf_dir, "customer"),
        tables.load(spark, sf_dir, "nation"),
    )


@register(
    "order_dashboard_rollup",
    """
    SELECT coalesce(order_day, -1) AS order_day,
           coalesce(province, 'ALL') AS province,
           count(*) AS total_num,
           round(sum(o_totalprice), 2) AS total_money
    FROM (
        SELECT CAST(strftime(o.o_orderdate, '%Y%m%d') AS INT) AS order_day,
               n.n_name AS province, o.o_totalprice
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ) t GROUP BY ROLLUP (order_day, province)
    """,
    "A4", "rollup",
)
def q_order_dashboard_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day x province totals plus subtotals and grand total in one
    ROLLUP pass — the dashboard's three views from a single shuffle."""
    return dashboard.order_totals_rollup(
        tables.load(spark, sf_dir, "orders"),
        tables.load(spark, sf_dir, "customer"),
        tables.load(spark, sf_dir, "nation"),
    )


@register(
    "lineitem_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "A1", "A4", "scan", "bench",
)
def q_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary over the engine's biggest table (the TPC-H Q1
    shape): pushed-down date filter, pruned scan, one map-side-combined
    hash agg on a 4-group key.

    All money math runs in DECIMAL so the aggregation is
    order-independent across engines. The 2-dp INPUTS cast to decimal
    exactly (no rounding, so no HALF_UP-vs-HALF_EVEN tie divergence —
    a final round(sum, 2) did diverge by 0.01); products and sums of
    exact decimals are exact, and the single double cast at the end is
    correctly rounded identically in both engines.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc1 = F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    tax1 = F.lit(1) + F.col("l_tax").cast("decimal(4,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * disc1).cast("double").alias("sum_disc_price"),
            F.sum(price * disc1 * tax1).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "revenue_by_region_parttype",
    """
    SELECT r.r_name AS region, p.p_type AS p_type,
           count(*) AS cnt,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
    "A4", "join", "scan", "bench",
)
def q_revenue_by_region_parttype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join revenue rollup: the fact table streams once; every
    dimension (part included) broadcasts, so the only shuffle is the
    final (region, p_type) aggregation."""
    li = tables.load(spark, sf_dir, "lineitem")
    sup = tables.load(spark, sf_dir, "supplier")
    nat = tables.load(spark, sf_dir, "nation")
    reg = tables.load(spark, sf_dir, "region")
    part = tables.load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("r_name").alias("region"), "p_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@register(
    "shipping_priority_topk",
    """
    WITH agg AS (
        SELECT l.l_orderkey,
               CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS order_date,
               o.o_orderpriority,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '2000-09-01 00:00:00'
          AND l.l_shipdate > TIMESTAMP '2000-09-01 00:00:00'
        GROUP BY 1, 2, 3)
    SELECT l_orderkey, order_date, o_orderpriority, revenue,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS rank
          FROM agg) t
    WHERE rank <= 10
    """,
    "join", "topn", "scan", "bench",
)
def q_shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customers (broadcast) x
    date-filtered orders x date-filtered lineitem, revenue per order in
    exact DECIMAL. The global top-10 is orderBy+limit — Spark plans
    TakeOrderedAndProject (each partition keeps its local 10, the
    driver merges 10*P rows), so the full sort never happens; the rank
    column is a window over the 10 survivors only. Both date filters
    push to the scans."""
    cutoff = F.lit("2000-09-01 00:00:00").cast("timestamp")
    li = tables.load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    orders = tables.load(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    cust = tables.load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )
    top = agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    w = Window.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "l_orderkey", "order_date", "o_orderpriority", "revenue", "rank"
    )


@register(
    "orders_without_recent_shipments",
    """
    SELECT o.o_orderkey,
           CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS order_date,
           o.o_orderpriority
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate >= TIMESTAMP '2001-01-01 00:00:00')
    """,
    "join", "antijoin", "bench",
)
def q_orders_without_recent_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left ANTI join (NOT EXISTS): orders with no lineitem shipped in
    2001+. The date filter prunes the probe side at the scan, so the
    anti-join's build input is small; at 100 TB this is the
    existence-check shape (no row multiplication, no distinct
    needed — the join itself dedups)."""
    cutoff = F.lit("2001-01-01 00:00:00").cast("timestamp")
    orders = tables.load(spark, sf_dir, "orders")
    recent = (
        tables.load(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") >= cutoff)
        .select("l_orderkey")
    )
    return (
        orders.join(recent, orders.o_orderkey == recent.l_orderkey, "left_anti")
        .select(
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
    )


@register(
    "big_order_customers",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS order_date,
           CAST(q.total_qty AS DOUBLE) AS total_qty
    FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 220) q
    JOIN orders o ON o.o_orderkey = q.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    "join", "having",
)
def q_big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate the big table
    FIRST (map-side-combinable sum + HAVING prunes to the rare heavy
    orders), then join the survivors back to orders and customer —
    the aggregate-then-join-back pattern that keeps the join input
    tiny instead of joining 100 TB before aggregating. Quantities are
    integral doubles, so the sums are exact."""
    li = tables.load(spark, sf_dir, "lineitem")
    orders = tables.load(spark, sf_dir, "orders")
    cust = tables.load(spark, sf_dir, "customer")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 220)
    )
    return (
        heavy.join(orders, heavy.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("order_date"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


@register(
    "top_events_per_user",
    """
    SELECT user_id, event_id, value, CAST(rank AS INT) AS rank FROM (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rank
        FROM events
    ) t WHERE rank <= 3
    """,
    "topn",
)
def q_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group: Spark plans the rank filter as WindowGroupLimit
    (per-partition top-N pushdown before the shuffle), so the full sort
    never materializes."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("user_id", "event_id", "value", "rank")
    )


# ---------------------------------------------------------------------------
# Word count (S1/S2, T2, T3, A1)
# ---------------------------------------------------------------------------

@register(
    "word_count",
    """
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
    WHERE word <> ''
    GROUP BY word
    """,
    "T2", "T3", "A1", "S1", "bench",
)
def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    return wordcount.word_count(docs, "text")


# ---------------------------------------------------------------------------
# Stateless transforms (T1, T3)
# ---------------------------------------------------------------------------

@register(
    "sensor_parse",
    """
    SELECT trim(parts[1]) AS id,
           CAST(trim(parts[2]) AS BIGINT) AS timestamp,
           CAST(trim(parts[3]) AS DOUBLE) AS temperature
    FROM (
        SELECT string_split(
            concat(event_type, ', ', CAST(user_id AS VARCHAR), ', ', CAST(value AS VARCHAR)),
            ',') AS parts
        FROM events
    ) t
    """,
    "T1",
)
def q_sensor_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV-line -> typed record parse (TransformTest.scala:23-26).

    The driver testdata has no raw text lines, so the query first
    renders events as `id, ts, temp` CSV lines, then exercises the
    split/trim/cast parser — the parse path is identical to the
    reference's.
    """
    ev = _events(spark, sf_dir)
    lines = ev.select(
        F.concat_ws(", ", F.col("event_type"), F.col("user_id").cast("string"),
                    F.col("value").cast("string")).alias("value")
    )
    return transforms.parse_sensor_csv(lines)


@register(
    "filter_threshold",
    """
    SELECT event_id, user_id, round(value, 2) AS value
    FROM events WHERE value >= 20.0
    """,
    "T3",
)
def q_filter_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = transforms.filter_min_value(_events(spark, sf_dir), "value", 20.0)
    return ev.select("event_id", "user_id", F.round("value", 2).alias("value"))


# ---------------------------------------------------------------------------
# Multi-stream (M1-M4)
# ---------------------------------------------------------------------------

@register(
    "split_select_bands",
    """
    SELECT CASE WHEN value < 10 THEN 'low' WHEN value < 30 THEN 'mid' ELSE 'high' END AS band,
           count(*) AS cnt,
           round(sum(value), 2) AS total
    FROM events GROUP BY 1
    """,
    "M1",
)
def q_split_select_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    branches = multistream.split_select(ev, "value", 10.0, 30.0)
    labeled = [
        df.select(F.lit(label).alias("band"), "value") for label, df in branches.items()
    ]
    merged = labeled[0]
    for df in labeled[1:]:
        merged = merged.unionByName(df)
    return merged.groupBy("band").agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total")
    )


@register(
    "connect_co_map",
    """
    SELECT id, level, count(*) AS cnt FROM (
        SELECT event_id AS id, 'error' AS level FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT event_id AS id, 'warn' AS level FROM events WHERE value >= 30.0
    ) t GROUP BY id, level
    """,
    "M2", "M3",
)
def q_connect_co_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(F.col("event_id").alias("id"))
    warnings = ev.filter(F.col("value") >= 30.0).select(F.col("event_id").alias("id"))
    merged = multistream.connect_co_map(errors, warnings)
    return merged.groupBy("id", "level").agg(F.count("*").alias("cnt"))


@register(
    "side_output_alarm",
    """
    SELECT branch, count(*) AS cnt, round(sum(value), 2) AS total FROM (
        SELECT CASE WHEN value > 30.0 THEN 'alarm' ELSE 'main' END AS branch, value
        FROM events
    ) t GROUP BY branch
    """,
    "M4",
)
def q_side_output_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    side, main = multistream.side_output(ev, F.col("value") > 30.0)
    tagged = side.select(F.lit("alarm").alias("branch"), "value").unionByName(
        main.select(F.lit("main").alias("branch"), "value")
    )
    return tagged.groupBy("branch").agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total")
    )


# ---------------------------------------------------------------------------
# Keyed aggregation (A1-A3, T4)
# ---------------------------------------------------------------------------

@register(
    "keyed_sum",
    """
    SELECT user_id, round(sum(value), 2) AS total
    FROM events GROUP BY user_id
    """,
    "A1", "T4", "bench",
)
def q_keyed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.keyed_sum(_events(spark, sf_dir), "user_id", "value")


@register(
    "keyed_sum_salted",
    """
    SELECT user_id, round(sum(value), 2) AS total
    FROM events GROUP BY user_id
    """,
    "A1", "scale",
)
def q_keyed_sum_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.keyed_sum_salted(_events(spark, sf_dir), "user_id", "value")


@register(
    "event_value_quantiles",
    """
    WITH ranked AS (
        SELECT event_type, value, event_id,
               row_number() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        -- NULL pin, mirrored in _quantile_cdf (Spark NULLS FIRST vs
        -- DuckDB NULLS LAST would diverge ranks on NULL-bearing data)
        FROM events WHERE value IS NOT NULL)
    SELECT event_type, max(n) AS n,
           max(CASE WHEN rn = ceil(0.5 * n) THEN value END) AS p50,
           max(CASE WHEN rn = ceil(0.9 * n) THEN value END) AS p90,
           max(CASE WHEN rn = ceil(0.99 * n) THEN value END) AS p99
    FROM ranked GROUP BY event_type
    """,
    "analytics", "quantile", "scale", "bench",
)
def q_event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed per-group p50/p90/p99 by portable rank
    selection (see aggregations.group_quantiles). Round 11: rank
    selection runs over the binned-CDF of distinct values
    (value_cdf_over_bins) — the corpus is hash-aggregated once and
    never sorted, so there is no per-type funnel task; the oracle's
    row_number formulation is unchanged (the quantile value is
    tiebreak-invariant)."""
    return agg_ops.group_quantiles(
        _events(spark, sf_dir), "event_type", "value"
    )


@register(
    "events_json_props",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(k) AS BIGINT) AS sum_k,
           min(k) AS min_k,
           max(k) AS max_k,
           count(DISTINCT k) AS ndv_k
    FROM (SELECT event_type, CAST(props ->> '$.k' AS INT) AS k FROM events) t
    GROUP BY event_type
    """,
    "semistructured", "json", "bench",
)
def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: parse the events.props JSON payload
    (get_json_object stays JVM-side / codegen — no Python UDF) and
    aggregate the extracted field per event_type. The 100 TB pattern:
    extract-then-drop the raw JSON column as early as possible so the
    shuffle carries only typed ints."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("ndv_k"),
        )
    )


@register(
    "generated_order_dashboard",
    """
    WITH ks AS (SELECT unnest(range(0, 2000)) AS k),
    h AS (SELECT k, CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 12)) AS BIGINT) AS h
          FROM ks),
    g AS (SELECT (['guangdong', 'jiangsu', 'shandong', 'zhejiang', 'sichuan', 'henan'])[h % 6 + 1]
                     AS province,
                 round((h % 100000) / 100.0, 2) AS money,
                 1600000000000 + k * 200 AS pay_time
          FROM h)
    SELECT province,
           count(*) AS total_num,
           CAST(sum(CAST(money AS DECIMAL(12,2))) AS DOUBLE) AS total_money,
           min(pay_time) AS first_pay,
           max(pay_time) AS last_pay
    FROM g GROUP BY province
    """,
    "S6", "A4",
)
def q_generated_order_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OrderAnalysy dashboard fed by the CUSTOM PYTHON DATA SOURCE
    (S6, streaming/order_source.py) instead of parquet — the generator
    is deterministic, so the DuckDB oracle regenerates the identical
    2,000 orders from pure SQL (md5 of the row index) and the custom
    source sits inside the exact correctness gate. ``sf_dir`` is
    unused: the source IS the data."""
    from flink_scala_spark.streaming import order_source

    order_source.register(spark)
    df = spark.read.format("order_gen").option("n", 2000).load()
    return df.groupBy("province").agg(
        F.count("*").alias("total_num"),
        F.sum(F.col("money").cast("decimal(12,2)")).cast("double").alias("total_money"),
        F.min("pay_time").alias("first_pay"),
        F.max("pay_time").alias("last_pay"),
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_type_pivot",
    """
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
    "pivot", "A4", "bench",
)
def q_events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format per-user event counts via pivot. The pivot values
    are DECLARED (not discovered): an unlisted-values pivot runs a
    driver-side distinct over the whole input first — at 100 TB that's
    an extra full pass, so production pivots always pin the column
    set. One hash-shuffle; missing cells coalesce to 0."""
    ev = _events(spark, sf_dir)
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES],
    )


@register(
    "latest_event_per_key",
    """
    SELECT user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS last_ts,
           event_id AS last_event_id,
           value AS last_value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
    WHERE rn = 1
    """,
    "A3", "cdc", "bench",
)
def q_latest_event_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins compaction (the CDC/upsert dedup every
    incremental pipeline needs): newest event per (user_id,
    event_type), deterministic under ts ties via event_id.

    Implemented as ``max_by`` over a (ts, event_id) struct — ONE
    map-side-combinable hash aggregate, which beats the
    window-row_number form at scale (no per-group sort, no full
    materialization of ranked rows; each partition keeps one candidate
    row per key)."""
    ev = _events(spark, sf_dir)
    newest = F.max_by(
        F.struct("ts", "event_id", "value"),
        F.struct("ts", "event_id"),
    )
    agg = ev.groupBy("user_id", "event_type").agg(newest.alias("r"))
    return agg.select(
        "user_id",
        "event_type",
        F.unix_timestamp("r.ts").alias("last_ts"),
        F.col("r.event_id").alias("last_event_id"),
        F.col("r.value").alias("last_value"),
    )


@register(
    "running_sum",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM events
    """,
    "A1", "bench",
)
def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.running_sum(_events(spark, sf_dir), "user_id", "event_id", "value")


@register(
    "ordered_fold",
    """
    SELECT user_id,
           arg_min(CAST(floor(epoch(ts)) AS BIGINT), event_id) + count(*) - 1 AS folded_ts,
           round(CASE WHEN count(*) > 1 THEN arg_max(value, event_id) + 1
                      ELSE arg_max(value, event_id) END, 2) AS folded_value
    FROM events GROUP BY user_id
    """,
    "A2",
)
def q_ordered_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("ts_l", epoch_seconds("ts"))
    return agg_ops.ordered_fold(ev, "user_id", "event_id", "ts_l", "value")


@register(
    "ordered_fold_general",
    """
    SELECT user_id,
           arg_min(CAST(floor(epoch(ts)) AS BIGINT), event_id) + count(*) - 1 AS folded_ts,
           round(CASE WHEN count(*) > 1 THEN arg_max(value, event_id) + 1
                      ELSE arg_max(value, event_id) END, 2) AS folded_value
    FROM events GROUP BY user_id
    """,
    "A2", "udf",
)
def q_ordered_fold_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("ts_l", epoch_seconds("ts"))
    return agg_ops.ordered_fold_general(ev, "user_id", "event_id", "ts_l", "value")


@register(
    "arg_min_row",
    """
    SELECT user_id, event_id, round(value, 2) AS value FROM (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
    "A3", "bench",
)
def q_arg_min_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = agg_ops.arg_min(
        _events(spark, sf_dir), "user_id", "value", "event_id", ["event_id", "value"]
    )
    return out.select("user_id", "event_id", F.round("value", 2).alias("value"))


# ---------------------------------------------------------------------------
# Event-time windows (W4-W10)
# ---------------------------------------------------------------------------

@register(
    "tumbling_window_counts",
    """
    SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
           CAST(floor(epoch(ts) / 300) * 300 + 300 AS BIGINT) AS window_end,
           event_type,
           count(*) AS cnt,
           round(sum(value), 2) AS total
    FROM events GROUP BY 1, 2, 3
    """,
    "W4", "W10", "bench",
)
def q_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return windows.tumbling_agg(
        ev, "ts", "5 minutes", ["event_type"],
        [F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total")],
    )


@register(
    "tumbling_window_unique_users",
    """
    SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
           event_type,
           count(DISTINCT user_id) AS unique_users,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
    "W4", "distinct",
)
def q_tumbling_window_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed exact distinct count (unique users per hour per type).
    Spark plans count(DISTINCT) as a two-stage expand/agg — both
    stages map-side combinable, no per-window set materialization.
    At 100 TB the sketch alternative is the KMV query (X25); this is
    the exact path."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.countDistinct("user_id").alias("unique_users"),
            F.count("*").alias("cnt"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "unique_users",
            "cnt",
        )
    )


@register(
    "tumbling_window_min_by",
    """
    SELECT CAST(floor(epoch(ts) / 120) * 120 AS BIGINT) AS window_start,
           CAST(floor(epoch(ts) / 120) * 120 + 120 AS BIGINT) AS window_end,
           user_id, event_id, round(value, 2) AS value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY CAST(floor(epoch(ts) / 120) * 120 AS BIGINT), user_id
            ORDER BY value, event_id) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
    "W4", "A3",
)
def q_tumbling_window_min_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WindowTest.scala:67-74: keyed 2 s tumbling window + minBy —
    scaled to 120 s windows on the events fixture."""
    ev = _events(spark, sf_dir)
    chosen = F.min_by(
        F.struct(F.col("event_id"), F.col("value")),
        F.struct(F.col("value"), F.col("event_id")),
    ).alias("_row")
    out = ev.groupBy(F.window("ts", "2 minutes").alias("w"), F.col("user_id")).agg(chosen)
    return out.select(
        F.unix_timestamp("w.start").alias("window_start"),
        F.unix_timestamp("w.end").alias("window_end"),
        "user_id",
        F.col("_row.event_id").alias("event_id"),
        F.round(F.col("_row.value"), 2).alias("value"),
    )


@register(
    "day_window_offset_utc8",
    """
    SELECT CAST(floor((epoch(ts) - 57600) / 86400) * 86400 + 57600 AS BIGINT) AS window_start,
           CAST(floor((epoch(ts) - 57600) / 86400) * 86400 + 57600 + 86400 AS BIGINT) AS window_end,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
    "W6", "W7",
)
def q_day_window_offset_utc8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TestUtcTime.scala:42,50 — 1-day tumbling window with a 16 h
    offset so windows align to UTC+8 local midnight."""
    ev = _events(spark, sf_dir)
    return windows.tumbling_agg(
        ev, "ts", "1 day", [], [F.count("*").alias("cnt")], start_time="16 hours"
    )


@register(
    "window_all_minute",
    """
    SELECT CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS window_start,
           CAST(floor(epoch(ts) / 60) * 60 + 60 AS BIGINT) AS window_end,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
    "W7",
)
def q_window_all_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return windows.tumbling_agg(ev, "ts", "1 minute", [], [F.count("*").alias("cnt")])


@register(
    "sliding_window_counts",
    """
    SELECT ws AS window_start, event_type, count(*) AS cnt FROM (
        SELECT event_type,
               unnest(generate_series(
                   CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) - 300,
                   CAST(floor(epoch(ts) / 300) * 300 AS BIGINT), 300)) AS ws
        FROM events
    ) t GROUP BY ws, event_type
    """,
    "W4", "sliding", "bench",
)
def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return windows.sliding_agg(
        ev, "ts", "10 minutes", "5 minutes", ["event_type"], [F.count("*").alias("cnt")]
    )


@register(
    "session_windows",
    """
    WITH flagged AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_l, value,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                         - lag(CAST(floor(epoch(ts)) AS BIGINT))
                           OVER (PARTITION BY user_id ORDER BY ts) > 600
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_l
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(ts_l) AS session_start, max(ts_l) AS session_end,
           count(*) AS cnt
    FROM numbered GROUP BY user_id, session_id
    """,
    "session", "bench",
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return windows.session_agg(ev, "ts", 600, "user_id", [F.count("*").alias("cnt")])


@register(
    "evictor_prefilter",
    """
    SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
           CAST(floor(epoch(ts) / 600) * 600 + 600 AS BIGINT) AS window_end,
           count(*) AS cnt
    FROM events WHERE value > 5.0 GROUP BY 1, 2
    """,
    "W9",
)
def q_evictor_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 evictor-as-filter (TestTriggerAndEvictor.scala:122-139): the
    reference evictor drops invalid rows before the window fn; here the
    predicate pushes down to the parquet scan."""
    ev = _events(spark, sf_dir).filter(F.col("value") > 5.0)
    return windows.tumbling_agg(ev, "ts", "10 minutes", [], [F.count("*").alias("cnt")])


@register(
    "trigger_per_element_fire",
    """
    SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
           user_id, event_id,
           CAST(row_number() OVER w AS INT) AS fire_seq,
           round(sum(value) OVER (PARTITION BY CAST(floor(epoch(ts) / 600) * 600 AS BIGINT), user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM events
    WINDOW w AS (PARTITION BY CAST(floor(epoch(ts) / 600) * 600 AS BIGINT), user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
    """,
    "W8", "bench",
)
def q_trigger_per_element_fire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 custom trigger (UtcTrigger, TestTriggerAndEvictor.scala:84-107):
    per-element FIRE = the window emits its running aggregate at every
    arrival; each output row is one fire."""
    ev = _events(spark, sf_dir)
    return windows.per_element_fire(ev, "ts", 600, "user_id", "value")


@register(
    "late_data_accounting",
    """
    SELECT lateness, count(*) AS cnt FROM (
        SELECT CASE
            WHEN wm IS NULL OR ts_l >= wm THEN 'on_time'
            WHEN ts_l >= wm - 120 THEN 'late'
            ELSE 'dropped' END AS lateness
        FROM (
            SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts_l,
                   max(CAST(floor(epoch(ts)) AS BIGINT)) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 60 AS wm
            FROM events
        ) t
    ) t2 GROUP BY lateness
    """,
    "W5",
)
def q_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    classified = windows.classify_late(ev, "ts", "event_id", 60, 120)
    return classified.groupBy("lateness").agg(F.count("*").alias("cnt"))


# ---------------------------------------------------------------------------
# Stateful batch twins (ST1-ST4)
# ---------------------------------------------------------------------------

@register(
    "delta_alarm",
    """
    SELECT user_id, event_id, round(prev, 2) AS prev_value, round(value, 2) AS curr_value
    FROM (
        SELECT user_id, event_id, value,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ) t WHERE abs(value - prev) > 10.0
    """,
    "ST1", "ST2", "ST3", "bench",
)
def q_delta_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1-ST3 batch twin: |Δvalue| > 10 between consecutive per-key
    readings (StateTest.scala:67-74). The streaming twin keeps the last
    value in keyed state (flink_scala_spark.streaming.stateful)."""
    from pyspark.sql import Window as W

    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev", F.lag("value").over(w))
        .filter(F.abs(F.col("value") - F.col("prev")) > 10.0)
        .select(
            "user_id",
            "event_id",
            F.round("prev", 2).alias("prev_value"),
            F.round("value", 2).alias("curr_value"),
        )
    )


@register(
    "rising_streak_alarm",
    """
    WITH diffed AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_l, event_id, value,
               CASE WHEN value > lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    THEN 0 ELSE 1 END AS brk
        FROM events
    ), islands AS (
        SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_l, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        FROM diffed
    )
    SELECT user_id, CAST(run_id AS BIGINT) AS run_id, count(*) AS run_len,
           min(ts_l) AS run_start, max(ts_l) AS run_end
    FROM islands GROUP BY user_id, run_id
    HAVING max(ts_l) - min(ts_l) >= 600 AND count(*) >= 3
    """,
    "ST4",
)
def q_rising_streak_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 batch twin (ProcessAlarmTest.scala:76-108): temperature
    rising continuously past a time horizon fires an alarm. Batch form:
    gaps-and-islands over per-key rising runs; alarm = runs spanning
    >= 600 s with >= 3 readings. The streaming twin registers a timer
    (flink_scala_spark.streaming.stateful)."""
    from pyspark.sql import Window as W

    ev = _events(spark, sf_dir).withColumn("ts_l", epoch_seconds("ts"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    diffed = ev.withColumn(
        "brk",
        F.when(F.col("value") > F.lag("value").over(w), F.lit(0)).otherwise(F.lit(1)),
    )
    islands = diffed.withColumn(
        "run_id", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("user_id", "run_id")
        .agg(
            F.count("*").alias("run_len"),
            F.min("ts_l").alias("run_start"),
            F.max("ts_l").alias("run_end"),
        )
        .filter((F.col("run_end") - F.col("run_start") >= 600) & (F.col("run_len") >= 3))
    )


@register(
    "count_window_sum",
    """
    SELECT user_id, window_seq, count(*) AS cnt,
           round(sum(value), 2) AS total,
           min(ts_l) AS first_ts, max(ts_l) AS last_ts
    FROM (
        SELECT user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS ts_l,
               CAST((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1)
                    // 10 AS BIGINT) AS window_seq
        FROM events
    ) t GROUP BY user_id, window_seq
    """,
    "W4", "count-window", "bench",
)
def q_count_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed count window (10 events per window per user): the
    reference taxonomy's third window family, closed by arrival count
    rather than event time."""
    ev = _events(spark, sf_dir).withColumn("ts_l", epoch_seconds("ts"))
    out = windows.count_window_agg(
        ev,
        "ts",
        "event_id",
        10,
        "user_id",
        [
            F.round(F.sum("value"), 2).alias("total"),
            F.min("ts_l").alias("first_ts"),
            F.max("ts_l").alias("last_ts"),
        ],
    )
    return out


@register(
    "count_window_sliding",
    """
    SELECT user_id, fire_seq, w_cnt, w_total FROM (
        SELECT user_id,
               CAST(row_number() OVER w AS BIGINT) AS fire_seq,
               CAST(count(*) OVER f AS BIGINT) AS w_cnt,
               round(sum(value) OVER f, 2) AS w_total
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
               f AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    ) t WHERE fire_seq % 5 = 0
    """,
    "W4", "count-window", "sliding",
)
def q_count_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding count window (size 10, slide 5): every 5th arrival per
    user emits the last-10-records aggregate — Flink's
    countWindow(10, 5) shape."""
    ev = _events(spark, sf_dir)
    return windows.sliding_count_window_agg(
        ev,
        "ts",
        "event_id",
        10,
        5,
        "user_id",
        [
            lambda f: F.count("*").over(f).cast("long").alias("w_cnt"),
            lambda f: F.round(F.sum("value").over(f), 2).alias("w_total"),
        ],
    )


@register(
    "skew_join_salted",
    """
    SELECT e.event_type, count(*) AS cnt,
           round(sum(e.value * m.weight), 2) AS weighted
    FROM events e
    JOIN (SELECT 'click' AS event_type, 1.0 AS weight
          UNION ALL SELECT 'view', 0.5
          UNION ALL SELECT 'purchase', 10.0
          UNION ALL SELECT 'signup', 5.0
          UNION ALL SELECT 'error', 0.0) m
      ON e.event_type = m.event_type
    GROUP BY e.event_type
    """,
    "scale", "skew", "join", "bench",
)
def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-key join de-skewed by salting: event_type has ~5 hot
    values over millions of rows — the worst-case join-key skew. The
    big side salts into 8 deterministic sub-keys; the 5-row weight dim
    replicates per salt. Result identical to the plain join (the
    oracle runs the plain join); the win is 8x finer task granularity
    on the hot keys plus a de-skewed downstream aggregation."""
    ev = _events(spark, sf_dir)
    weights = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0),
         ("signup", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    joined = joins.salted_skew_join(
        ev, weights, "event_type", salt_buckets=8, salt_col_src="event_id"
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted"),
    )


@register(
    "value_histogram",
    """
    SELECT event_type, CAST(floor(value / 2.0) * 2.0 AS DOUBLE) AS bin_lo,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
    "analytics", "histogram", "bench",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — one map-side
    combinable agg; bin edges via floor so both engines bucket
    identically (width 2.0 is exactly representable)."""
    ev = _events(spark, sf_dir)
    bin_lo = (F.floor(F.col("value") / 2.0) * 2.0).cast("double")
    return ev.groupBy("event_type", bin_lo.alias("bin_lo")).agg(
        F.count("*").alias("cnt")
    )


@register(
    "windowed_topk_types",
    """
    SELECT window_start, event_type, cnt, CAST(rank AS INT) AS rank FROM (
        SELECT window_start, event_type, cnt,
               row_number() OVER (PARTITION BY window_start
                                  ORDER BY cnt DESC, event_type) AS rank
        FROM (SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
                     event_type, count(*) AS cnt
              FROM events GROUP BY 1, 2) t
    ) t2 WHERE rank <= 3
    """,
    "analytics", "trending", "topk", "bench",
)
def q_windowed_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending shape: top-3 event types per hour window — a windowed
    agg feeding a per-window WindowGroupLimit top-k (the pre-shuffle
    top-N pushdown), deterministic tie-break on the type name."""
    ev = _events(spark, sf_dir)
    win = (F.floor(epoch_seconds("ts") / 3600) * 3600).cast("long")
    counts = ev.groupBy(win.alias("window_start"), "event_type").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("window_start", "event_type", "cnt", "rank")
    )


@register(
    "session_stats",
    """
    WITH flagged AS (
        SELECT user_id, event_type, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_l,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                         - lag(CAST(floor(epoch(ts)) AS BIGINT))
                           OVER (PARTITION BY user_id ORDER BY ts) > 600
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_l
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           max(ts_l) - min(ts_l) AS duration_s,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0 AS INT)
               AS converted,
           round(sum(value), 2) AS total_value
    FROM numbered GROUP BY user_id, session_id
    """,
    "session", "analytics", "bench",
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level rollup: sessionization (gaps-and-islands, 600 s
    gap) composed with per-session aggregates — event count, duration,
    purchase-conversion flag, value total. The composed form of
    session_windows that product analytics actually consumes."""
    ev = _events(spark, sf_dir)
    # Same gaps-and-islands session assignment as windows.session_agg,
    # with the richer per-session aggregate set inline.
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    ts_l = epoch_seconds("ts")
    flagged = ev.withColumn(
        "new_session",
        F.when(ts_l - F.lag(ts_l).over(w) > 600, F.lit(1)).otherwise(F.lit(0)),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long"),
    ).withColumn("ts_l", ts_l)
    return numbered.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_l") - F.min("ts_l")).alias("duration_s"),
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) > 0
        ).cast("int").alias("converted"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "rolling_window_avg",
    """
    SELECT user_id, event_id,
           CAST(cnt_600 AS BIGINT) AS cnt_600,
           CAST(sum_q AS DOUBLE) / (1000000.0 * CAST(cnt_600 AS DOUBLE)) AS avg_600
    FROM (
        SELECT user_id, event_id,
               count(*) OVER w AS cnt_600,
               sum(qv) OVER w AS sum_q
        FROM (SELECT user_id, event_id,
                     CAST(floor(value * 1000000.0) AS BIGINT) AS qv,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_l FROM events) t
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_l
                     RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
    ) t2
    """,
    "W4", "range-frame",
)
def q_rolling_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-time rolling aggregate: a RANGE frame (value-based, not
    row-count-based) — each event sees the average over its user's
    last 600 SECONDS, however many rows that is; the frame family the
    ROWS-based ops can't express. One shuffle + in-partition sort.

    The frame aggregates FIXED-POINT BIGINTs (floor(value*1e6), the
    label_centroids technique): a double sum's accumulation structure
    differs between engines (running vs segment tree) and a 2-dp round
    of a boundary-adjacent average flips sides, so the windowed sum
    must be exact integers with one final double division."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 1_000_000.0).cast("long").alias("qv"),
        epoch_seconds("ts").alias("ts_l"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_l")
        .rangeBetween(-600, Window.currentRow)
    )
    framed = ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("cnt_600"),
        F.sum("qv").over(w).alias("sum_q"),
    )
    return framed.select(
        "user_id",
        "event_id",
        "cnt_600",
        (
            F.col("sum_q").cast("double")
            / (F.lit(1_000_000.0) * F.col("cnt_600").cast("double"))
        ).alias("avg_600"),
    )


@register(
    "revenue_day_over_day",
    """
    WITH d AS (SELECT CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS order_day,
                      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
               FROM orders GROUP BY 1)
    SELECT order_day, revenue,
           lag(revenue) OVER (ORDER BY order_day) AS prev_revenue,
           (revenue - lag(revenue) OVER (ORDER BY order_day))
               / lag(revenue) OVER (ORDER BY order_day) AS pct_change
    FROM d
    """,
    "analytics", "period-over-period",
)
def q_revenue_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period: daily revenue with previous-day comparison.
    The lag window runs over the already-aggregated day table (one row
    per day — a single-partition window over DAYS is fine; the same
    window over raw rows would not be), and the DECIMAL day sums make
    the pct-change division exact across engines."""
    orders = tables.load(spark, sf_dir, "orders")
    day = F.date_format("o_orderdate", "yyyyMMdd").cast("int")
    d = orders.groupBy(day.alias("order_day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("revenue")
    )
    w = Window.orderBy("order_day")
    prev = F.lag("revenue").over(w)
    return d.select(
        "order_day",
        "revenue",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("pct_change"),
    )


@register(
    "gap_fill_forward",
    """
    WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_l, value,
                      event_id
               FROM events),
    rng AS (SELECT user_id,
                   CAST(floor(min(ts_l) / 600) * 600 AS BIGINT) AS lo,
                   CAST(floor(max(ts_l) / 600) * 600 AS BIGINT) AS hi
            FROM e GROUP BY 1),
    grid AS (SELECT user_id, unnest(range(lo, hi + 600, 600)) AS grid_ts FROM rng),
    u AS (SELECT user_id, ts_l AS ord_ts, 0 AS is_grid, value,
                 CAST(NULL AS BIGINT) AS grid_ts, event_id AS ord_id FROM e
          UNION ALL
          SELECT user_id, grid_ts, 1, CAST(NULL AS DOUBLE), grid_ts,
                 CAST(0 AS BIGINT) FROM grid),
    filled AS (SELECT user_id, grid_ts, is_grid,
                      last_value(value IGNORE NULLS) OVER (
                          PARTITION BY user_id ORDER BY ord_ts, is_grid, ord_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS filled_value
               FROM u)
    SELECT user_id, grid_ts, round(filled_value, 2) AS filled_value
    FROM filled WHERE is_grid = 1
    """,
    "analytics", "gap-fill", "timeseries",
)
def q_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a 10-minute grid spanning each user's
    active range, forward-filled with the last observed value at or
    before each grid point — the union + last(ignorenulls) technique
    the as-of join uses (X13), so one shuffle and one in-partition
    sort produce the filled series; the grid fan-out is bounded by
    range/step per user, independent of event count. event_id is the
    final ordering key so two same-second events of one user fill
    deterministically (grid rows never tie — unique per (user, ts) —
    and get a constant 0)."""
    ev = _events(spark, sf_dir).select(
        "user_id", epoch_seconds("ts").alias("ts_l"), "value", "event_id"
    )
    rng = ev.groupBy("user_id").agg(
        (F.floor(F.min("ts_l") / 600) * 600).cast("long").alias("lo"),
        (F.floor(F.max("ts_l") / 600) * 600).cast("long").alias("hi"),
    )
    grid = rng.select(
        "user_id",
        F.explode(F.sequence("lo", F.col("hi"), F.lit(600))).alias("grid_ts"),
    )
    actual = ev.select(
        "user_id",
        F.col("ts_l").alias("ord_ts"),
        F.lit(0).alias("is_grid"),
        "value",
        F.lit(None).cast("long").alias("grid_ts"),
        F.col("event_id").cast("long").alias("ord_id"),
    )
    gridded = grid.select(
        "user_id",
        F.col("grid_ts").alias("ord_ts"),
        F.lit(1).alias("is_grid"),
        F.lit(None).cast("double").alias("value"),
        "grid_ts",
        F.lit(0).cast("long").alias("ord_id"),
    )
    u = actual.unionByName(gridded)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ord_ts", "is_grid", "ord_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        "user_id",
        "grid_ts",
        "is_grid",
        F.last("value", ignorenulls=True).over(w).alias("filled_value"),
    )
    return filled.where(F.col("is_grid") == 1).select(
        "user_id", "grid_ts", F.round("filled_value", 2).alias("filled_value")
    )


@register(
    "scd2_history",
    """
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS eff_from,
           lead(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS eff_to,
           CAST(lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL AS INT) AS is_current,
           round(value, 2) AS value
    FROM events WHERE event_type = 'purchase'
    """,
    "warehouse", "scd2", "cdc",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2: each key's change events
    become validity intervals [eff_from, eff_to) with the latest row
    flagged current — the dimension-history build every warehouse
    ingest runs on CDC streams. One shuffle on the key, one
    in-partition sort, lead() closes each interval; event_id breaks
    same-second ties identically in both engines."""
    ev = _events(spark, sf_dir).where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_l = epoch_seconds("ts")
    nxt_ts = F.lead(ts_l).over(w)
    nxt_id = F.lead("event_id").over(w)
    return ev.select(
        "user_id",
        ts_l.alias("eff_from"),
        nxt_ts.alias("eff_to"),
        nxt_id.isNull().cast("int").alias("is_current"),
        F.round("value", 2).alias("value"),
    )


@register(
    "temporal_join_scd2",
    """
    WITH dim AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS eff_from,
               lead(CAST(floor(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS eff_to,
               round(value, 2) AS dim_value
        FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS click_ts
        FROM events WHERE event_type = 'click'
    )
    SELECT c.user_id, c.event_id, c.click_ts,
           d.eff_from, d.eff_to, d.dim_value
    FROM clicks c
    LEFT JOIN dim d
      ON d.user_id = c.user_id
     AND d.eff_from <= c.click_ts
     AND (d.eff_to IS NULL OR c.click_ts < d.eff_to)
    """,
    "warehouse", "temporal-join", "scd2", "bench",
)
def q_temporal_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-time) join — Flink SQL's FOR SYSTEM_TIME AS
    OF against a versioned table, composed from the X101 SCD2 build:
    each click joins the dimension version whose validity interval
    [eff_from, eff_to) contains the click's event time; clicks before
    the key's first version keep NULLs (LEFT). Versions partition
    time, so at most one row matches — no dedup needed.

    Scale: one user_id-keyed sort-merge join; per-key fan-out is the
    key's version count (bounded by its change history, not the
    corpus), the interval containment is a residual predicate. The
    same semantics are reachable shuffle-for-shuffle via the as-of
    union trick (X13) when version metadata isn't needed in the
    output. Same-second version collisions produce zero-width
    intervals that never match — identically in both engines (the
    (ts, event_id) tie-break pinned by X101)."""
    ev = _events(spark, sf_dir)
    ts_l = epoch_seconds("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("d_user"),
        ts_l.alias("eff_from"),
        F.lead(ts_l).over(w).alias("eff_to"),
        F.round("value", 2).alias("dim_value"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", ts_l.alias("click_ts")
    )
    return clicks.join(
        dim,
        (clicks["user_id"] == dim["d_user"])
        & (dim["eff_from"] <= clicks["click_ts"])
        & (dim["eff_to"].isNull() | (clicks["click_ts"] < dim["eff_to"])),
        "left",
    ).select("user_id", "event_id", "click_ts", "eff_from", "eff_to", "dim_value")


# Synthetic changelog read of the events table, shared by the batch
# CDC apply and its streaming twin: entity = (user_id, k % 5), op =
# DELETE when k % 10 == 0 else UPSERT, ordered by (ts, event_id).
_CDC_LOG_SQL = """
        SELECT user_id,
               CAST(props ->> '$.k' AS INT) % 5 AS entity,
               CASE WHEN CAST(props ->> '$.k' AS INT) % 10 = 0
                    THEN 'D' ELSE 'U' END AS op,
               ts, event_id, value
        FROM events
"""


def _cdc_log(ev: DataFrame) -> DataFrame:
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "user_id",
        (k % 5).alias("entity"),
        F.when(k % 10 == 0, "D").otherwise("U").alias("op"),
        "ts",
        "event_id",
        "value",
    )


@register(
    "cdc_apply_changelog",
    f"""
    WITH log AS ({_CDC_LOG_SQL}),
    latest AS (
        SELECT user_id, entity, op,
               CAST(floor(epoch(ts)) AS BIGINT) AS last_ts,
               round(value, 2) AS last_value,
               row_number() OVER (PARTITION BY user_id, entity
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM log
    )
    SELECT user_id, entity, last_ts, last_value
    FROM latest WHERE rn = 1 AND op = 'U'
    """,
    "warehouse", "cdc", "bench",
)
def q_cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog materialization (the Debezium/retract-stream apply):
    a stream of keyed UPSERT/DELETE operations collapses to final
    table state — last op per key wins, keys whose last op is a
    DELETE vanish. One map-side-combinable ``max_by`` hash agg (no
    per-key sort, the X37 technique) then a row-local delete filter;
    the op column derives from the JSON payload entirely inside
    codegen."""
    ev = _events(spark, sf_dir)
    log = _cdc_log(ev)
    newest = F.max_by(
        F.struct("op", epoch_seconds("ts").alias("ts_l"), F.round("value", 2).alias("v")),
        F.struct(F.col("ts"), F.col("event_id")),
    )
    latest = log.groupBy("user_id", "entity").agg(newest.alias("r"))
    return latest.where(F.col("r.op") == "U").select(
        "user_id",
        "entity",
        F.col("r.ts_l").alias("last_ts"),
        F.col("r.v").alias("last_value"),
    )


@register(
    "events_variant_props",
    """
    SELECT event_type,
           CAST(sum(k * k) AS BIGINT) AS sum_k_sq,
           count(*) FILTER (WHERE k IS NULL) AS n_null_k
    FROM (SELECT event_type, CAST(props ->> '$.k' AS INT) AS k FROM events) t
    GROUP BY event_type
    """,
    "semistructured", "variant",
)
def q_events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: ``parse_json``
    shreds the payload ONCE into a binary variant value,
    ``try_variant_get`` then extracts typed fields without re-parsing
    — at 100 TB this beats per-extraction ``get_json_object`` (which
    re-parses the string for every field). The variant value itself is
    engine-internal, so the query emits only extracted/aggregated
    atoms — the oracle is plain JSON SQL over the same rows."""
    ev = _events(spark, sf_dir)
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    shredded = ev.select("event_type", k.alias("k"))
    return shredded.groupBy("event_type").agg(
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("sum_k_sq"),
        F.count(F.when(F.col("k").isNull(), 1)).alias("n_null_k"),
    )


@register(
    "events_type_unpivot",
    """
    WITH wide AS (
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click') AS click,
               count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               count(*) FILTER (WHERE event_type = 'error') AS error
        FROM events GROUP BY user_id
    )
    SELECT user_id, metric, val FROM wide
    UNPIVOT (val FOR metric IN (click, purchase, error))
    """,
    "reshape", "unpivot",
)
def q_events_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverse of X36's pivot: ``unpivot`` (melt) turns the wide
    per-user counts matrix back into tidy (user, metric, value) rows —
    the reshape every feature store needs in both directions. Expand
    is row-local (fan-out = column count), so the only shuffle is the
    pivot agg itself; declared metric columns keep the driver out of it."""
    ev = _events(spark, sf_dir)
    wide = ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(t)
            for t in ("click", "purchase", "error")
        ]
    )
    return wide.unpivot("user_id", ["click", "purchase", "error"], "metric", "val")


@register(
    "incremental_agg_maintenance",
    f"""
    WITH log AS ({_CDC_LOG_SQL}),
    latest AS (
        SELECT user_id, entity, op,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id, entity
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM log
    ),
    live AS (
        SELECT user_id, entity, cents FROM latest WHERE rn = 1 AND op = 'U'
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_live,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM live GROUP BY 1
    """,
    "warehouse", "cdc", "ivm",
)
def q_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a materialized per-user aggregate
    (live-entity count + sum) is brought up to date from a changelog
    DELTA — the last 10 days of CDC ops — by targeted corrections,
    never rescanning the base log. The maintenance step's cost is
    proportional to |delta| + |affected materialized rows| (a semi
    join on the delta's keys): at 100 TB this is the difference
    between a nightly full recompute of the lake and an
    O(day's-changes) update. The time split guarantees every delta op
    outranks every base op for its key, so the delta's own last-op
    state IS the key's new state; subtract the affected keys' old
    live contributions, add their new ones. Contributions are integer
    cents (floor(value*100)) so the adjusted sums are associative and
    EXACTLY equal a from-scratch recompute — which is what the oracle
    does: it never sees the cut, proving incremental == full."""
    ev = tables.load(spark, sf_dir, "events")
    log = _cdc_log(ev)
    cut = F.lit("2024-01-21 00:00:00").cast("timestamp")
    cents = F.floor(F.col("r.value") * 100).cast("long")
    newest = F.max_by(
        F.struct("op", "value"), F.struct(F.col("ts"), F.col("event_id"))
    )
    base = log.where(F.col("ts") < cut)
    delta = log.where(F.col("ts") >= cut)
    base_live = (
        base.groupBy("user_id", "entity")
        .agg(newest.alias("r"))
        .where(F.col("r.op") == "U")
        .select("user_id", "entity", cents.alias("cents"))
        # materialized ONCE — this plays the stored state a production
        # pipeline reads back; without it the demo's plan would rescan
        # and re-aggregate the base log for both consumers below
        # (lazy: one materialization inside the final action)
        .transform(shared_bounded)
    )
    # the stored materialization (in production: read, not computed)
    base_agg = base_live.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("cents").alias("s")
    )
    # ---- the incremental maintenance step: cost ∝ |delta| ----
    delta_state = delta.groupBy("user_id", "entity").agg(newest.alias("r"))
    affected_old = base_live.join(
        delta_state.select("user_id", "entity"), ["user_id", "entity"], "left_semi"
    )
    sub = affected_old.groupBy("user_id").agg(
        F.count("*").alias("c_sub"), F.sum("cents").alias("s_sub")
    )
    add = (
        delta_state.where(F.col("r.op") == "U")
        .select("user_id", "entity", cents.alias("cents"))
        .groupBy("user_id")
        .agg(F.count("*").alias("c_add"), F.sum("cents").alias("s_add"))
    )
    z = F.lit(0).cast("long")
    merged = (
        base_agg.join(sub, "user_id", "full")
        .join(add, "user_id", "full")
        .select(
            "user_id",
            (
                F.coalesce("n", z) - F.coalesce("c_sub", z) + F.coalesce("c_add", z)
            ).alias("n_live"),
            (
                F.coalesce("s", z) - F.coalesce("s_sub", z) + F.coalesce("s_add", z)
            ).alias("sum_cents"),
        )
    )
    return merged.where(F.col("n_live") > 0)

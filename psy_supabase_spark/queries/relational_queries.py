"""Relational + JSON operator pack (SURVEY.md §2.1-2.4, §2.7).

The reference only exercises degenerate single-table forms (tenancy by
schema, SURVEY.md §2.3) — the engine exposes the full relational surface
Spark gives us: multi-way joins (broadcast dims), semi/anti joins,
grouping-set rollups, pivots, and JSONB-parity predicates on `events.props`.

Float determinism: every money/value aggregate is computed in DECIMAL on
both engines and cast to DOUBLE at the end — bit-exact regardless of
summation order.  JSON access: ``get_json_object`` ≡ DuckDB
``json_extract_string`` (both NULL on missing key / malformed JSON).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import json_ops
from ..registry import register
from ..sources.catalog import load_table

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _dec(col: str, scale: str = "decimal(18,2)") -> F.Column:
    return F.col(col).cast(scale)


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) * CAST(1 + l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary.  Filter reaches the parquet scan
    (PushedFilters on l_shipdate); aggregation is map-side partial then a
    32-way shuffle on the 4-group key — trivially scalable."""
    li = load_table(spark, sf_dir, "lineitem")
    one_minus_disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    one_plus_tax = (F.lit(1) + F.col("l_tax")).cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * one_minus_disc).cast("double").alias("sum_disc_price"),
            F.sum(_dec("l_extendedprice") * one_minus_disc * one_plus_tax).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "revenue_by_nation",
    oracle="""
    SELECT r_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-way join.  nation/region (and customer at small
    SF) go broadcast; the lineitem⨝orders join is the only real shuffle —
    at 100 TB both sides would be bucketed on orderkey to eliminate it."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    one_minus_disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * one_minus_disc).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "top_orders_by_revenue",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY l_orderkey
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + top-k (TakeOrderedAndProject after partial agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    one_minus_disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_extendedprice") * one_minus_disc).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS parity) — broadcast the distinct key side."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "orders_with_discounted_items",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
    """,
)
def orders_with_discounted_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS parity) with the predicate pushed below the join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_discount") > 0.05)
    return orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "events_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup (batch twin of the streaming hourly agg)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
    )


@register(
    "event_type_pivot_per_user",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
)
def event_type_pivot_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix (explicit values list keeps
    the plan a single pass — no distinct-values pre-scan)."""
    ev = load_table(spark, sf_dir, "events")
    piv = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).agg(F.count(F.lit(1)))
    return piv.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in EVENT_TYPES]
    )


@register(
    "json_filter_recency_topk",
    oracle="""
    SELECT event_id, user_id, event_type, ts,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
    ORDER BY ts DESC, event_id DESC
    LIMIT 100
    """,
)
def json_filter_recency_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+O2: JSON-path predicate + recency top-k (reference
    query.txt:141-158: `metadata->>'topic' = X ORDER BY created_at DESC
    LIMIT k`)."""
    ev = load_table(spark, sf_dir, "events")
    k = json_ops.json_get("props", "k").cast("int")
    return (
        ev.select("event_id", "user_id", "event_type", "ts", k.alias("k"))
        .where(F.col("k") >= 50)
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
    )


@register(
    "json_compound_predicate",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, value,
           lower(event_type) = lower('PuRcHaSe') AS topic_ci_match
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 70
       OR (event_type = 'purchase' AND value >= 100)
    """,
)
def json_compound_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: compound JSON predicate with cast (reference database.py:344-386:
    `CAST(metadata->'effectiveness'->>'term_overlap' AS FLOAT) >= x OR ...`).

    ``topic_ci_match`` is the P2 evidence column: the reference's
    case-insensitive topic equality (`database.py:326-336`,
    `metadata.get('topic','').lower() == topic.lower()`) — both sides
    lowered, mixed-case query literal."""
    ev = load_table(spark, sf_dir, "events")
    k = json_ops.json_get("props", "k").cast("int")
    ci = F.lower(F.col("event_type")) == F.lower(F.lit("PuRcHaSe"))
    return ev.select(
        "event_id", "event_type", k.alias("k"), "value", ci.alias("topic_ci_match")
    ).where((F.col("k") >= 70) | ((F.col("event_type") == "purchase") & (F.col("value") >= 100)))


@register(
    "json_stats_by_type",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           COUNT(json_extract_string(props, '$.k')) AS n_with_k
    FROM events GROUP BY event_type
    """,
)
def json_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-derived aggregate: integer stats of props.k per type (NULL keys
    drop out of COUNT(col) in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    k = json_ops.json_get("props", "k")
    return ev.groupBy("event_type").agg(
        F.sum(k.cast("int")).cast("bigint").alias("sum_k"),
        F.count(k).alias("n_with_k"),
    )


@register(
    "min_cost_supplier_per_part",
    oracle="""
    WITH costs AS (
      SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal,
             MIN(s.s_acctbal) OVER (PARTITION BY p.p_partkey) AS min_bal
      FROM part p
      JOIN supplier s ON s.s_suppkey = 1 + (p.p_partkey % (SELECT COUNT(*) FROM supplier))
    )
    SELECT p_partkey, p_name, s_name, s_acctbal
    FROM costs WHERE s_acctbal = min_bal AND p_partkey < 200
    """,
)
def min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated 'min per group' subquery, decorrelated to
    a window (the Catalyst-friendly spelling; testdata has no partsupp so
    a deterministic part→supplier pairing stands in)."""
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    n_supp = supp.count()
    joined = part.join(supp, supp.s_suppkey == 1 + (part.p_partkey % n_supp))
    w = Window.partitionBy("p_partkey")
    return (
        joined.select("p_partkey", "p_name", "s_name", "s_acctbal", F.min("s_acctbal").over(w).alias("_mb"))
        .where((F.col("s_acctbal") == F.col("_mb")) & (F.col("p_partkey") < 200))
        .drop("_mb")
    )


@register(
    "large_orders_having",
    oracle="""
    SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    """,
)
def large_orders_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: GROUP BY + HAVING on a decimal sum."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_tq"))
        .where(F.col("_tq") > 150)
        .select("l_orderkey", F.col("_tq").cast("double").alias("total_qty"))
    )


@register(
    "events_cube",
    oracle="""
    SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY CUBE(event_type, CAST(user_id % 10 AS BIGINT))
    """,
)
def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (event_type, user bucket) — all four
    grouping combinations in one pass, carrying the distinct-user count
    (expand + two-phase agg) and the decimal-exact value total, so it
    also covers the per-type rollup and the distinct-users-by-type
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            (F.col("user_id") % 10).cast("bigint").alias("user_bucket"),
            "user_id",
            "value",
        )
        .cube("event_type", "user_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
    )

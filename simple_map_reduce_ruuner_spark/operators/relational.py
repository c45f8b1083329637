"""Relational operator coverage: scans, filters, joins (broadcast /
shuffle / semi / anti / as-of), aggregations (incl. rollup), windows,
sorts / top-k, set operations, scalar functions.

The reference implements none of these (SURVEY.md §2.C) — its only
relational operators live inside the four user programs. This module is
the engine's full relational surface, built purely on DataFrame ops so
Catalyst supplies pushdown, pruning, join selection, and AQE.

Determinism-for-oracle conventions used throughout:
- Double sums go through ``dsum`` (decimal-cast) so partial-aggregation
  order can never flip a rounded digit vs the DuckDB oracle.
- Every top-k / window rank has a total tiebreak order.
- Every computed column is aliased identically in Spark and oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.sources.tables import load_table

# Products of 2-decimal inputs have ≤6 decimals; DECIMAL(30,6) holds them
# exactly, so SUM is exact and engine-independent (see module docstring).
_DEC = "decimal(30,6)"


def dsum(col: Column) -> Column:
    """Order-independent exact sum of a money-like double column."""
    return F.sum(col.cast(_DEC))


def dsum_sql(expr: str) -> str:
    return f"SUM(CAST({expr} AS DECIMAL(30,6)))"


def as_money(col: Column) -> Column:
    """Decimal aggregate → rounded double output column.

    Rounds the DECIMAL first (exact, HALF_UP — DuckDB's decimal round
    is identical, negative ties included) and only then casts to double.
    Rounding after the cast is engine-divergent at exact half-cent sums:
    Spark rounds the double's shortest decimal repr ("…485" → .49) while
    DuckDB rounds the binary value ("…48499999…" → .48).
    """
    return F.round(col, 2).cast("double")


# --------------------------------------------------------------------------
# Q1-style pricing summary: filter + multi-aggregate + group (partial/final
# hash agg; the canonical "is the scan pruned and the agg map-side" probe).
# --------------------------------------------------------------------------


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    grouped = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            as_money(dsum(F.col("l_quantity"))).alias("sum_qty"),
            as_money(dsum(F.col("l_extendedprice"))).alias("sum_base_price"),
            as_money(dsum(disc_price)).alias("sum_disc_price"),
            as_money(dsum(charge)).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return grouped


PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND({dsum_sql('l_quantity')}, 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND({dsum_sql('l_extendedprice')}, 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND({dsum_sql('l_extendedprice * (1 - l_discount)')}, 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND({dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}, 2) AS DOUBLE) AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# Star join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region.
# customer/nation/region are broadcast — no shuffle of the fact table
# beyond the final small-key aggregation exchange.
# --------------------------------------------------------------------------


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(as_money(dsum(revenue)).alias("revenue"))
    )


REVENUE_BY_NATION_SQL = f"""
SELECT n_name,
       CAST(ROUND({dsum_sql('l_extendedprice * (1 - l_discount)')}, 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Top-k with total order (sort + limit; TakeOrderedAndProject physical op —
# a driver-side k-row heap, never a full sort at scale).
# --------------------------------------------------------------------------

TOP_SUPPLIERS_K = 5


def top_suppliers_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(as_money(dsum(revenue)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("s_suppkey"))
        .limit(TOP_SUPPLIERS_K)
    )


TOP_SUPPLIERS_REVENUE_SQL = f"""
SELECT s_suppkey, s_name,
       CAST(ROUND({dsum_sql('l_extendedprice * (1 - l_discount)')}, 2) AS DOUBLE) AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
ORDER BY revenue DESC, s_suppkey ASC
LIMIT {TOP_SUPPLIERS_K}
"""


# --------------------------------------------------------------------------
# Semi / anti joins (existence predicates — no row multiplication).
# --------------------------------------------------------------------------


def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join against a filtered build side — the filter is pushed into
    the orders scan, so the join's build input shrinks before any shuffle."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


CUSTOMERS_WITHOUT_URGENT_ORDERS_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
"""


def parts_with_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name", "p_brand"
    )


PARTS_WITH_SHIPMENTS_SQL = """
SELECT p_partkey, p_name, p_brand
FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""


# --------------------------------------------------------------------------
# Window functions: rank-per-group top-N and running totals.
# --------------------------------------------------------------------------

TOP_ORDERS_N = 3


def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_ORDERS_N)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


TOP_ORDERS_PER_CUSTOMER_SQL = f"""
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS totalprice, rn
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC
           ) AS rn
    FROM orders
)
WHERE rn <= {TOP_ORDERS_N}
"""


def customer_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative order value per customer in order-date order."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        as_money(F.sum(F.col("o_totalprice").cast(_DEC)).over(w)).alias(
            "running_total"
        ),
    )


CUSTOMER_RUNNING_TOTAL_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2) AS DOUBLE) AS running_total
FROM orders
"""


# --------------------------------------------------------------------------
# ROLLUP (hierarchical grouping sets).
# --------------------------------------------------------------------------


def order_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            as_money(dsum(F.col("o_totalprice"))).alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "n_orders", "total")
    )


ORDER_STATUS_ROLLUP_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(ROUND({dsum_sql('o_totalprice')}, 2) AS DOUBLE) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# --------------------------------------------------------------------------
# Set operations.
# --------------------------------------------------------------------------


def _rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.where(F.col("c_acctbal") > 7000).select(
        F.col("c_custkey").alias("custkey")
    )


def _big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.where(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )


def rich_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT DISTINCT: high-balance customers with no 300k+ order."""
    # subtract == EXCEPT DISTINCT (matches the SQL oracle's EXCEPT).
    return _rich_customers(spark, sf_dir).subtract(_big_spenders(spark, sf_dir))


RICH_WITHOUT_BIG_ORDERS_SQL = """
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 7000
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
"""


def rich_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT DISTINCT: high-balance customers who placed a 300k+ order."""
    return _rich_customers(spark, sf_dir).intersect(_big_spenders(spark, sf_dir))


RICH_WITH_BIG_ORDERS_SQL = """
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 7000
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
"""


def event_type_bag_surplus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, surplus): EXCEPT ALL — bag (multiplicity-aware) set
    difference, the reconciliation semantics the DISTINCT variants above
    cannot express. Each event type's first-half-of-January occurrences
    minus its second-half occurrences, clamped at zero: exceptAll keeps
    ``max(0, count_a − count_b)`` copies per value, which the grouped
    count then reports compactly. The plan never materializes duplicate
    rows row-by-row — Catalyst rewrites ExceptAll to a count-diff
    generate, so the shuffle carries one row per distinct value.
    """
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    mid = F.lit("2024-01-16").cast("timestamp")
    first_half = ev.where(F.col("ts") < mid).select("event_type")
    second_half = ev.where(F.col("ts") >= mid).select("event_type")
    return (
        first_half.exceptAll(second_half)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("surplus"))
    )


EVENT_TYPE_BAG_SURPLUS_SQL = """
WITH diff AS (
    SELECT event_type FROM events WHERE ts < TIMESTAMP '2024-01-16'
    EXCEPT ALL
    SELECT event_type FROM events WHERE ts >= TIMESTAMP '2024-01-16'
)
SELECT event_type, CAST(count(*) AS BIGINT) AS surplus
FROM diff
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# As-of join: each error event matched to the same user's most recent
# prior-or-equal signup. Implemented with a union + last_value window —
# one shuffle on user_id, no range-explosion, skew-safe under AQE.
# (DuckDB oracle uses its native ASOF JOIN.)
# --------------------------------------------------------------------------


def error_asof_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts")
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    tagged = errors.select(
        "user_id",
        F.col("error_ts").alias("ts"),
        F.col("error_id"),
        F.lit(None).cast("timestamp").alias("signup_ts"),
        F.lit(1).alias("is_error"),
    ).unionAll(
        signups.select(
            "user_id",
            F.col("signup_ts").alias("ts"),
            F.lit(None).cast("long").alias("error_id"),
            F.col("signup_ts"),
            F.lit(0).alias("is_error"),
        )
    )
    # At equal ts, signups sort first (is_error ascending) so an error can
    # match a signup at the very same timestamp ("<=" as-of semantics).
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_error")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = tagged.withColumn(
        "last_signup_ts", F.last("signup_ts", ignorenulls=True).over(w)
    )
    return (
        matched.where(F.col("is_error") == 1)
        .where(F.col("last_signup_ts").isNotNull())
        .select("user_id", "error_id", F.col("last_signup_ts").alias("signup_ts"))
    )


ERROR_ASOF_SIGNUP_SQL = """
SELECT e.user_id, e.event_id AS error_id, s.ts AS signup_ts
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
    ON e.user_id = s.user_id AND e.ts >= s.ts
"""


# --------------------------------------------------------------------------
# Scalar-function showcase: string / date / math / array / map / json on a
# single projection (everything stays in whole-stage codegen).
# --------------------------------------------------------------------------


def event_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.upper("event_type").alias("type_upper"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.hour("ts").cast("long").alias("hour"),
        # domain-clamped: DuckDB raises on sqrt/ln of negatives while
        # Spark returns NaN/NULL — an asymmetric crash on any negative
        # reading (review-found); greatest(value, 0) makes both engines
        # total and identical
        F.round(F.sqrt(F.greatest(F.col("value"), F.lit(0.0))), 6).alias(
            "sqrt_value"
        ),
        F.round(
            F.log(F.greatest(F.col("value"), F.lit(0.0)) + F.lit(1.0)), 6
        ).alias("log1p_value"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.length("props").cast("long").alias("props_len"),
        F.concat_ws(":", "event_type", F.col("user_id").cast("string")).alias(
            "type_user"
        ),
        (F.col("user_id") % 16).alias("user_bucket"),
    )


EVENT_FEATURES_SQL = """
SELECT event_id,
       upper(event_type) AS type_upper,
       strftime(ts, '%Y-%m-%d') AS day,
       EXTRACT(hour FROM ts)::BIGINT AS hour,
       ROUND(sqrt(greatest(value, 0)), 6) AS sqrt_value,
       ROUND(ln(greatest(value, 0) + 1.0), 6) AS log1p_value,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
       length(props) AS props_len,
       event_type || ':' || CAST(user_id AS VARCHAR) AS type_user,
       user_id % 16 AS user_bucket
FROM events
"""

"""Second relational batch: union-all (A7), CUBE, range join, and a
plain shuffle (sort-merge) join — completing the §2.C join/agg/set-op
checklist alongside relational.py.

- union_all_merge   — the reference's merge phase (Master.java:173-178)
                      as a real operator: union of two mapped partial-count
                      streams, re-merged by a final aggregation. This is
                      the A7 byte-concat expressed relationally.
- cube_order_stats  — CUBE grouping sets (rollup's sibling).
- clicks_before_errors — range join: equi key (user_id) + interval
                      predicate on event time. Formulated as equi-join
                      first (hash/SMJ on user_id) with the range as a
                      post-join filter: at scale the equi key bounds the
                      join fan-out and AQE handles skewed users; a pure
                      non-equi join would be a nested-loop disaster.
- supplier_part_smj — deliberately non-broadcast join (both sides large
                      at scale): shuffle join on the join key, grouped
                      aggregate on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.functions.text import explode_tokens
from simple_map_reduce_ruuner_spark.operators.relational import as_money, dsum, dsum_sql
from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table


def union_all_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A7 as a relational operator: two disjoint partial
    aggregations (en docs vs non-en docs = two 'mapper outputs'),
    union-all'd, then re-merged by the final aggregation — the
    partial→final contract of SURVEY.md §1.4 made visible."""
    docs = load_table(spark, sf_dir, "documents")
    en = docs.where(F.col("lang") == "en")
    rest = docs.where(F.col("lang") != "en")

    def partial(df: DataFrame) -> DataFrame:
        return (
            explode_tokens(df, out="word")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("partial_cnt"))
        )

    return (
        partial(en)
        .unionAll(partial(rest))
        .groupBy("word")
        .agg(F.sum("partial_cnt").alias("cnt"))
    )


UNION_ALL_MERGE_SQL = r"""
WITH tok AS (
    SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS word
    FROM documents
),
partials AS (
    SELECT word, count(*) AS partial_cnt FROM tok WHERE word <> '' AND lang = 'en' GROUP BY word
    UNION ALL
    SELECT word, count(*) AS partial_cnt FROM tok WHERE word <> '' AND lang <> 'en' GROUP BY word
)
SELECT word, CAST(SUM(partial_cnt) AS BIGINT) AS cnt FROM partials GROUP BY word
"""


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            as_money(dsum(F.col("o_totalprice"))).alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "n_orders", "total")
    )


CUBE_ORDER_STATS_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(ROUND({dsum_sql('o_totalprice')}, 2) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def clicks_before_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per error event, how many clicks the same user made in
    the preceding 10 minutes. Equi on user_id; time range as join filter."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    joined = errors.join(
        clicks,
        (errors.user_id == clicks.user_id)
        & (clicks.click_ts <= errors.error_ts)
        & (clicks.click_ts >= errors.error_ts - F.expr("INTERVAL 10 MINUTES")),
        "left",
    )
    return joined.groupBy(errors.user_id, "error_id").agg(
        F.count(clicks.click_ts).alias("n_recent_clicks")
    )


CLICKS_BEFORE_ERRORS_SQL = """
SELECT e.user_id, e.event_id AS error_id,
       count(c.ts) AS n_recent_clicks
FROM (SELECT * FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
       ON c.user_id = e.user_id
      AND c.ts <= e.ts
      AND c.ts >= e.ts - INTERVAL 10 minutes
GROUP BY e.user_id, e.event_id
"""


def supplier_part_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (supplier, part) shipped quantity, kept where it exceeds 1.5×
    that supplier's mean — ONE supplier-keyed shuffle (guide §2.4).

    The r14 shape aggregated by (supp, part), re-aggregated the result
    by supp for the mean, and joined the two — three exchanges plus a
    duplicated agg subtree. Hash-partitioning the projected fact by
    l_suppkey up front makes everything downstream partition-local:
    HashPartitioning(l_suppkey) satisfies the (l_suppkey, l_partkey)
    grouping's ClusteredDistribution (subset rule), and the mean becomes
    a window over the same partitioning instead of a join. No explicit
    partition count, so AQE still sizes the exchange from the data.

    mean = exact decimal sum / count (plain avg() would accumulate
    doubles in engine-dependent order and could flip the boundary
    filter below); the window's decimal sum is order-exact the same way
    the old dsum re-aggregate was.
    """
    from pyspark.sql import Window

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_partkey", "l_quantity")
        .repartition(F.col("l_suppkey"))
    )
    agg = li.groupBy("l_suppkey", "l_partkey").agg(
        as_money(dsum(F.col("l_quantity"))).alias("total_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    w = Window.partitionBy("l_suppkey")
    supp_mean = dsum(F.col("total_qty")).over(w).cast("double") / F.count(
        F.lit(1)
    ).over(w)
    return (
        agg.withColumn("supp_mean", supp_mean)
        .where(F.col("total_qty") > F.col("supp_mean") * 1.5)
        .select("l_suppkey", "l_partkey", "total_qty", "n_lines")
    )


SUPPLIER_PART_VOLUME_SQL = f"""
WITH agg AS (
    SELECT l_suppkey, l_partkey,
           CAST(ROUND({dsum_sql('l_quantity')}, 2) AS DOUBLE) AS total_qty,
           count(*) AS n_lines
    FROM lineitem GROUP BY 1, 2
),
m AS (SELECT l_suppkey,
             CAST(SUM(CAST(total_qty AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS supp_mean
      FROM agg GROUP BY 1)
SELECT agg.l_suppkey, l_partkey, total_qty, n_lines
FROM agg JOIN m USING (l_suppkey)
WHERE total_qty > supp_mean * 1.5
"""


def window_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/offset window-function coverage beyond row_number:
    dense_rank, percent_rank, cume_dist, ntile, lag, lead, nth_value —
    one windowed projection, single shuffle on the partition key."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    # nth_value needs an explicit full frame: the default frame stops at
    # CURRENT ROW, which nulls the 2nd value for the first row per group
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.lag("o_orderkey", 1).over(w).alias("prev_orderkey"),
        F.lead("o_orderkey", 1).over(w).alias("next_orderkey"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_orderkey"),
    )


WINDOW_SHOWCASE_SQL = """
SELECT o_custkey, o_orderkey,
       dense_rank()   OVER w AS drank,
       ROUND(percent_rank() OVER w, 6) AS prank,
       ROUND(cume_dist() OVER w, 6) AS cdist,
       ntile(4)       OVER w AS quartile,
       lag(o_orderkey, 1)  OVER w AS prev_orderkey,
       lead(o_orderkey, 1) OVER w AS next_orderkey,
       nth_value(o_orderkey, 2) OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS second_orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar coverage: truncation, extraction, day diffs,
    calendar-safe month addition, ISO weekday."""
    orders = load_table(spark, sf_dir, "orders")
    ref_date = F.lit("1995-06-15").cast("timestamp")
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.datediff(ref_date, "o_orderdate").cast("long").alias("days_to_ref"),
        F.add_months("o_orderdate", 3).cast("timestamp_ntz").alias("plus_3mo"),
        (F.weekday("o_orderdate") + 1).cast("long").alias("isodow"),
    )


DATE_ARITHMETIC_SQL = """
SELECT o_orderkey,
       date_trunc('month', o_orderdate) AS order_month,
       EXTRACT(year FROM o_orderdate)::BIGINT AS yr,
       EXTRACT(quarter FROM o_orderdate)::BIGINT AS qtr,
       date_diff('day', o_orderdate::DATE, DATE '1995-06-15')::BIGINT AS days_to_ref,
       (o_orderdate::DATE + INTERVAL 3 months)::TIMESTAMP AS plus_3mo,
       isodow(o_orderdate)::BIGINT AS isodow
FROM orders
"""


def order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDAF surface, partition-grouped: per customer, the largest
    gap in days between consecutive orders.

    Pattern: repartition by key so every group is complete within one
    partition, then ONE vectorized pandas groupby per partition via
    mapInPandas. A per-group ``applyInPandas`` form dispatches Python
    once per customer — measured 24 s vs ~2 s for this formulation at
    sf0.1, purely interpreter dispatch overhead on 15k tiny groups. Same
    lesson at 100 TB: grouped Python must be batched per partition, not
    per key.
    """
    import pandas as pd

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")

    def gaps_per_partition(batches):
        chunks = list(batches)
        if not chunks:  # empty partition: pd.concat([]) raises
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(["o_custkey", "o_orderdate"])
        days = pdf["o_orderdate"].dt.normalize()
        by_key = pdf.groupby("o_custkey")
        gap = days.groupby(pdf["o_custkey"]).diff().dt.days
        out = pd.DataFrame(
            {
                "n_orders": by_key.size().astype("int64"),
                "max_gap_days": gap.groupby(pdf["o_custkey"])
                .max()
                .fillna(0)
                .astype("int64"),
            }
        ).reset_index()
        yield out[["o_custkey", "n_orders", "max_gap_days"]]

    return orders.repartition("o_custkey").mapInPandas(
        gaps_per_partition, "o_custkey long, n_orders long, max_gap_days long"
    )


ORDER_GAPS_SQL = """
WITH d AS (
    SELECT o_custkey,
           date_diff('day',
               lag(o_orderdate::DATE) OVER (PARTITION BY o_custkey ORDER BY o_orderdate),
               o_orderdate::DATE) AS gap
    FROM orders
)
SELECT o_custkey,
       count(*) AS n_orders,
       coalesce(max(gap), 0)::BIGINT AS max_gap_days
FROM d
GROUP BY o_custkey
"""


PRIORITIES = (
    "1-URGENT",
    "2-HIGH",
    "3-MEDIUM",
    "4-NOT SPECIFIED",
    "5-LOW",
)


def status_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per status, one column per priority. Explicit
    pivot values keep the plan single-pass (no distinct-values pre-scan)."""
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", list(PRIORITIES))
        .agg(F.count(F.lit(1)))
    )
    # stable oracle-friendly column names
    renames = {p: f"p{p[0]}" for p in PRIORITIES}
    for old, new in renames.items():
        piv = piv.withColumnRenamed(old, new)
    return piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"p{p[0]}"), F.lit(0)).cast("long").alias(f"p{p[0]}") for p in PRIORITIES],
    )


STATUS_PRIORITY_PIVOT_SQL = """
SELECT o_orderstatus,
       count(*) FILTER (o_orderpriority = '1-URGENT')        AS p1,
       count(*) FILTER (o_orderpriority = '2-HIGH')          AS p2,
       count(*) FILTER (o_orderpriority = '3-MEDIUM')        AS p3,
       count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
       count(*) FILTER (o_orderpriority = '5-LOW')           AS p5
FROM orders
GROUP BY o_orderstatus
"""


def grouping_sets_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): totals by status, by
    priority, and overall — but not the full cross product."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            as_money(dsum(F.col("o_totalprice"))).alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "n_orders", "total")
    )


GROUPING_SETS_STATS_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(ROUND({dsum_sql('o_totalprice')}, 2) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


QUERIES: dict[str, Query] = {
    "status_priority_pivot": Query(
        status_priority_pivot, STATUS_PRIORITY_PIVOT_SQL, "PIVOT with explicit values"
    ),
    "grouping_sets_stats": Query(
        grouping_sets_stats, GROUPING_SETS_STATS_SQL, "explicit GROUPING SETS"
    ),
    "order_gaps": Query(
        order_gaps,
        ORDER_GAPS_SQL,
        "repartition + mapInPandas per-partition pandas groupby "
        "(max day-gap per customer)",
    ),
    "window_showcase": Query(
        window_showcase,
        WINDOW_SHOWCASE_SQL,
        "dense_rank/percent_rank/ntile/lag/lead window functions",
    ),
    "date_arithmetic": Query(
        date_arithmetic, DATE_ARITHMETIC_SQL, "date/time scalar functions"
    ),
    "union_all_merge": Query(
        union_all_merge,
        UNION_ALL_MERGE_SQL,
        "union-all of partial aggregations + final merge (reference A7)",
    ),
    "cube_order_stats": Query(cube_order_stats, CUBE_ORDER_STATS_SQL, "CUBE grouping sets"),
    "clicks_before_errors": Query(
        clicks_before_errors,
        CLICKS_BEFORE_ERRORS_SQL,
        "range join (equi key + time-interval predicate)",
    ),
    "supplier_part_volume": Query(
        supplier_part_volume,
        SUPPLIER_PART_VOLUME_SQL,
        "shuffle join + two-level aggregate (no broadcastable side)",
    ),
}

"""Reference workload 4: group-by + collect-distinct-set + HAVING.

Reference semantics (finding_the_suspects/mapper.py:8-16, reducer.py:8-19):
key = ``name-family-year`` (string concat, mapper.py:13); value = the set
of distinct cities seen for that key; keep keys with **more than N**
distinct cities (reducer.py:18-19, N=10).

Spark: ``groupBy(...).agg(collect_set(...))`` runs partial+final natively
(ObjectHashAggregate), reproducing the mapper's per-chunk set building and
the reducer's set union. The HAVING is a post-aggregation filter.

Two bindings:
- ``suspects_df``: the literal reference shape over any
  (name, family, city, year) DataFrame — used by the golden-replay test
  against ``exampleCodes/finding_the_suspects/sample.data``.
- ``suspects_orders``: the same operator over the driver tables — customers
  whose orders span more than N distinct order-months.

Arrays are sorted (``array_sort``) so results hash identically to the
oracle despite set-iteration order being undefined in both engines.

Scale note: ``collect_set`` materializes each group's set in executor
memory — fine for bounded sets (cities, months). For unbounded-cardinality
groups at 100 TB, use ``countDistinct``/``approx_count_distinct`` instead of
materializing (see peaks.py / approx.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.sources.tables import load_table

MIN_DISTINCT_CITIES = 10  # reference threshold, finding_the_suspects/reducer.py:18
# the driver-table binding's threshold, read by the builder and its oracle
MIN_DISTINCT_MONTHS = 8


def suspects_df(df: DataFrame) -> DataFrame:
    """Literal reference shape: df(name, family, city, year) →
    (key, cities array) for keys with > MIN_DISTINCT_CITIES distinct
    cities."""
    return (
        df.groupBy(
            F.concat_ws("-", "name", "family", F.col("year").cast("string")).alias(
                "key"
            )
        )
        .agg(F.array_sort(F.collect_set("city")).alias("cities"))
        .where(F.size("cities") > MIN_DISTINCT_CITIES)
    )


def suspects_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-table binding: customers with more than MIN_DISTINCT_MONTHS
    distinct order months. The customer dim is broadcast (small at any
    scale vs orders)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    months = F.array_sort(F.collect_set(F.date_format("o_orderdate", "yyyy-MM")))
    # The set is serialized to a sorted comma-joined string: scalar columns
    # hash identically across engines, whereas raw array cells are unhashable
    # in the external comparator.
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(months.alias("months_arr"))
        .where(F.size("months_arr") > MIN_DISTINCT_MONTHS)
        .select(
            "c_custkey",
            "c_name",
            F.size("months_arr").cast("long").alias("n_months"),
            F.concat_ws(",", "months_arr").alias("months"),
        )
    )


SUSPECTS_ORDERS_SQL = f"""
SELECT c_custkey, c_name, CAST(len(months_arr) AS BIGINT) AS n_months,
       array_to_string(months_arr, ',') AS months
FROM (
    SELECT c_custkey, c_name,
           list_sort(list(DISTINCT strftime(o_orderdate, '%Y-%m'))) AS months_arr
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
)
WHERE len(months_arr) > {MIN_DISTINCT_MONTHS}
"""

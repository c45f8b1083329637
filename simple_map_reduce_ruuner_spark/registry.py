"""Central query registry: name → (Spark builder, DuckDB oracle SQL).

``__spark_entry__.py`` re-exports this. Every operator from SURVEY.md §2
that is implemented gets one named entry here; oracle SQL is ``None`` only
for genuinely non-SQL-expressible operators (the driver then records a
weaker rows-only check).

Every builder is called as ``fn(spark, sf_dir)`` and takes nothing else:
the one oracle per entry is written for the builder's fixed settings
(top-k sizes, thresholds, index parameters), so those are module
constants that the builder and its oracle both read, never options.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from simple_map_reduce_ruuner_spark.operators import peaks, relational, suspects, wordcount

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    fn: QueryFn
    oracle: str | None
    doc: str = ""


def _builtin_queries() -> dict[str, Query]:
    q: dict[str, Query] = {}

    # --- reference-parity workloads (SURVEY.md §2.B) ---
    q["word_count"] = Query(
        wordcount.word_count,
        wordcount.WORD_COUNT_SQL,
        "reference workload 1: whitespace-token frequency (B1-B4)",
    )
    q["salted_word_count"] = Query(
        wordcount.salted_word_count,
        wordcount.WORD_COUNT_SQL,
        "word_count via two-phase salted aggregation (skew mitigation)",
    )
    q["char_count"] = Query(
        wordcount.char_count,
        wordcount.CHAR_COUNT_SQL,
        "reference workload 2: character frequency (B5-B6)",
    )
    q["suspects_orders"] = Query(
        suspects.suspects_orders,
        suspects.SUSPECTS_ORDERS_SQL,
        "reference workload 4: group + collect_set + HAVING (B10-B13)",
    )
    q["peak_concurrency_explode"] = Query(
        peaks.peak_concurrency_explode,
        peaks.PEAK_CONCURRENCY_SQL,
        "reference workload 3, direct interval-explode formulation (B7-B9)",
    )
    q["peak_concurrency_sweep"] = Query(
        peaks.peak_concurrency_sweep,
        peaks.PEAK_CONCURRENCY_SQL,
        "reference workload 3, O(n) sweep-line formulation (scale path)",
    )

    # --- relational surface (SURVEY.md §2.C coverage) ---
    q["pricing_summary"] = Query(
        relational.pricing_summary,
        relational.PRICING_SUMMARY_SQL,
        "filter + grouped multi-aggregate (TPC-H Q1 shape)",
    )
    q["revenue_by_nation"] = Query(
        relational.revenue_by_nation,
        relational.REVENUE_BY_NATION_SQL,
        "star join with broadcast dims + grouped sum",
    )
    q["top_suppliers_revenue"] = Query(
        relational.top_suppliers_revenue,
        relational.TOP_SUPPLIERS_REVENUE_SQL,
        "join + agg + total-order top-k",
    )
    q["customers_without_urgent_orders"] = Query(
        relational.customers_without_urgent_orders,
        relational.CUSTOMERS_WITHOUT_URGENT_ORDERS_SQL,
        "anti join (NOT EXISTS) with pushed-down build-side filter",
    )
    q["parts_with_shipments"] = Query(
        relational.parts_with_shipments,
        relational.PARTS_WITH_SHIPMENTS_SQL,
        "semi join (EXISTS)",
    )
    q["top_orders_per_customer"] = Query(
        relational.top_orders_per_customer,
        relational.TOP_ORDERS_PER_CUSTOMER_SQL,
        "window row_number rank-per-group",
    )
    q["customer_running_total"] = Query(
        relational.customer_running_total,
        relational.CUSTOMER_RUNNING_TOTAL_SQL,
        "window running sum",
    )
    q["order_status_rollup"] = Query(
        relational.order_status_rollup,
        relational.ORDER_STATUS_ROLLUP_SQL,
        "ROLLUP grouping sets",
    )
    q["rich_without_big_orders"] = Query(
        relational.rich_without_big_orders,
        relational.RICH_WITHOUT_BIG_ORDERS_SQL,
        "set operation (EXCEPT DISTINCT)",
    )
    q["rich_with_big_orders"] = Query(
        relational.rich_with_big_orders,
        relational.RICH_WITH_BIG_ORDERS_SQL,
        "set operation (INTERSECT DISTINCT)",
    )
    q["event_type_bag_surplus"] = Query(
        relational.event_type_bag_surplus,
        relational.EVENT_TYPE_BAG_SURPLUS_SQL,
        "set operation (EXCEPT ALL, bag semantics) + compact count report",
    )
    q["error_asof_signup"] = Query(
        relational.error_asof_signup,
        relational.ERROR_ASOF_SIGNUP_SQL,
        "as-of join via union + last_value window",
    )
    q["event_features"] = Query(
        relational.event_features,
        relational.EVENT_FEATURES_SQL,
        "scalar functions: string/date/math/json/map",
    )
    return q


def all_queries() -> dict[str, Query]:
    """Full registry: the builtin queries plus every extension module's
    ``QUERIES`` dict. The extension modules import ``Query`` from this
    module, so they are imported here rather than at the top; an import
    error propagates instead of silently dropping a module's queries.
    Entries are sorted by name.
    """
    from simple_map_reduce_ruuner_spark.operators import (
        approx, behavior, bpe_index, clustering, codecs, cogroup_ops,
        curation, dedup, graph, ivf, mixing, multimodal, pipeline, privacy,
        profiling, rankstats, relational2, relational3, relational4,
        relational5, relational6, relational7, relational8, similarity,
        sql4, textlm, textstats, timeseries, training,
    )
    from simple_map_reduce_ruuner_spark.streaming import windows

    q = _builtin_queries()
    for module in (
        approx, behavior, bpe_index, clustering, codecs, cogroup_ops,
        curation, dedup, graph, ivf, mixing, multimodal, pipeline, privacy,
        profiling, rankstats, relational2, relational3, relational4,
        relational5, relational6, relational7, relational8, similarity,
        sql4, textlm, textstats, timeseries, training, windows,
    ):
        q.update(module.QUERIES)
    return {name: q[name] for name in sorted(q)}

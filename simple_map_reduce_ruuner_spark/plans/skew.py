"""Skew mitigation by key salting.

AQE's skew-join handles hot join keys automatically (enabled in the
session factory); :func:`salted_aggregate` is the manual form for what
AQE can't see — skewed *aggregation* keys. It is an algebraic rewrite
(two-phase aggregation), so results are exactly equal to the unsalted
form — asserted in tests/test_bucketing_and_skew.py and by the
``salted_word_count`` registry query's oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    key_cols: list[str],
    agg_exprs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation with a salted first phase.

    Phase 1 groups by (key, salt) — a hot key spreads over ``n_salts``
    reducers; phase 2 re-merges per key. Supports the algebraic
    aggregates whose partials merge by sum/min/max (``count``/``sum``/
    ``min``/``max``), i.e. the same class the reference's
    chunk-partial → global-final contract supports (SURVEY.md §1.4).

    ``agg_exprs``: output column → "fn(input)" e.g. {"cnt": "count(*)",
    "total": "sum(value)"}.
    """
    remerge = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
    salted = df.withColumn(
        "__salt", F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(n_salts))
    )
    phase1 = salted.groupBy(*key_cols, "__salt").agg(
        *[F.expr(expr).alias(out) for out, expr in agg_exprs.items()]
    )
    finals = []
    for out, expr in agg_exprs.items():
        fn = expr.split("(", 1)[0].strip().lower()
        if fn not in remerge:
            raise ValueError(f"non-algebraic aggregate not salt-able: {expr}")
        # DISTINCT partials do NOT re-merge by sum: a value seen under
        # two salts would be counted twice — reject, don't silently
        # inflate (review-found guard bypass)
        if "distinct" in expr.lower():
            raise ValueError(
                f"DISTINCT aggregate not salt-able (partials overlap): {expr}"
            )
        finals.append(getattr(F, remerge[fn])(out).alias(out))
    return phase1.groupBy(*key_cols).agg(*finals)


"""Skew handling: the salted aggregation is result-identical to its
unsalted form, and AQE splits a hot join partition at runtime."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.plans.skew import salted_aggregate
from simple_map_reduce_ruuner_spark.sources.tables import load_table


def test_salted_aggregate_equals_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    salted = salted_aggregate(
        ev, ["event_type"], {"cnt": "count(*)", "mx": "max(value)"}, n_salts=8
    )
    got = {(r.event_type, r.cnt, r.mx) for r in salted.collect()}
    plain = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("value").alias("mx")
    )
    expected = {(r.event_type, r.cnt, r.mx) for r in plain.collect()}
    assert got == expected


def test_salted_aggregate_rejects_non_algebraic(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_aggregate(ev, ["event_type"], {"a": "avg(value)"})


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's runtime skew-join split — the automatic complement to the
    manual salting above. A 90%-hot key would pin one reducer in a plain
    sort-merge join; with skew-join enabled AQE splits the oversized
    partition at runtime (SortMergeJoin(skew=true) + AQEShuffleRead
    skewed in the final plan). Thresholds are lowered so the split fires
    at test scale; production keeps the defaults."""
    from pyspark.sql import functions as F

    conf = spark.conf
    keys = [
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.shuffle.partitions",
    ]
    saved = {k: conf.get(k, None) for k in keys}
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.shuffle.partitions", "8")

        big = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = big.join(small, "k")
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)

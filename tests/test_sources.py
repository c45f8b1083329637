"""Source/sink coverage: chunked text read (reference A1), single-file
text sink (A9), the SQL front-end over the fixture views, and Spark's
own parquet schema merging and dynamic partition pruning."""

from __future__ import annotations

import os

from simple_map_reduce_ruuner_spark.sources.tables import load_table
from simple_map_reduce_ruuner_spark.sources.text import (
    read_text_chunked,
    write_text_single,
)


def test_text_chunked_read_and_single_sink(spark, tmp_path):
    # ~1 MB of text, chunk_mb=1 → multiple line-aligned partitions
    lines = [f"line-{i} " + "x" * 100 for i in range(10_000)]
    src = tmp_path / "input.txt"
    src.write_text("\n".join(lines) + "\n")

    df = read_text_chunked(spark, str(src), chunk_mb=1)
    assert df.count() == 10_000
    # chunking is line-aligned: no partial/duplicated lines
    assert sorted(r.value for r in df.collect()) == sorted(lines)
    # chunk knob produced >1 input partition (the reference's shred step)
    assert df.rdd.getNumPartitions() > 1

    out = str(tmp_path / "final_result.out")
    write_text_single(df.orderBy("value"), out)
    assert os.path.exists(out)
    with open(out) as fh:
        assert sorted(fh.read().splitlines()) == sorted(lines)


def test_sql_surface_over_registered_views(spark, sf_dir):
    """register_temp_views + spark.sql must plan the same query the
    DataFrame API does — the SQL front-end is a first-class way in."""
    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.sources.tables import (
        load_table,
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    via_sql = {
        (r.l_returnflag, r.n)
        for r in spark.sql(
            "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n"
            " FROM lineitem GROUP BY l_returnflag"
        ).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    via_df = {
        (r.l_returnflag, r.n)
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert via_sql == via_df and via_sql


def test_schema_evolution_merge_schema(spark, sf_dir, tmp_path):
    """mergeSchema unions column sets across file generations (the
    additive-evolution contract an append-only corpus needs)."""
    out = str(tmp_path / "evolving")
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "lang").write.parquet(out + "/gen=1")
    docs.select("doc_id", "lang", "source").write.parquet(out + "/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert {"doc_id", "lang", "source", "gen"} <= set(merged.columns)
    # old-generation rows surface the new column as NULL
    assert merged.where("gen = 1 AND source IS NULL").count() == docs.count()


def test_dynamic_partition_pruning_in_plan(spark, sf_dir, tmp_path):
    """Joining a partitioned fact to a filtered dim plants a dynamic
    pruning subquery on the fact scan — at 100 TB this is what keeps a
    dim-filtered join from scanning every partition."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "events_by_type")
    load_table(spark, sf_dir, "events").write.partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("click", 1.5), ("error", 2.5)], "event_type string, weight double"
    ).where(F.col("weight") > 2)
    joined = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]

"""SparkSession factory with scale-oriented defaults.

The reference engine's only physical knob is chunk size (``blockSize`` MB,
Master.java:45,93-95) — in Spark that is ``spark.sql.files.maxPartitionBytes``
(same line-aligned, size-bounded input splitting). Everything else the
reference hand-rolls (scheduling, shipping, gather) is Spark's scheduler.

Defaults chosen for the 100 TB design point, scaled down for local test:
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned shuffle counts.
- Session timezone pinned to UTC so timestamp-derived results are
  deterministic and match naive-timestamp oracles (DuckDB).
- Arrow enabled: every Python-boundary crossing (Pandas UDF, toPandas)
  is columnar-batched, never row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "simple-map-reduce-ruuner-spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Input chunking is not a session setting: it is the ``chunk_mb`` of
    :func:`~simple_map_reduce_ruuner_spark.sources.text.read_text_chunked`
    and :func:`~simple_map_reduce_ruuner_spark.engine.run_job`.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

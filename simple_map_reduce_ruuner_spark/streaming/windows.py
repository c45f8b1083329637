"""Time-window operators: tumbling, sliding, and session windows, in both
batch and Structured Streaming form.

The reference is batch-only (SURVEY.md §2.C "streaming: absent"); its
closest construct is the 86,400-second bucketing of workload 3. These
operators provide the real streaming surface:

- Batch form: ``F.window`` / ``F.session_window`` over the events table —
  these are the registry queries, each with a DuckDB oracle (time_bucket /
  gap-and-cumsum SQL).
- Streaming form: :func:`stream_tumbling_counts` wires the same
  aggregation over ``readStream`` with a watermark; the test suite runs it
  with ``trigger(availableNow)`` against a file source and asserts the
  result equals the batch query on the same snapshot — the
  batch/streaming equivalence Structured Streaming guarantees.

Scale notes: windowed aggregation shuffles once on (window, key);
watermark bounds state. Session windows are merged in the state store by
Spark; the batch oracle's lag/cumsum formulation is the classic
sessionization rewrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table

TUMBLE = "5 minutes"
SLIDE_DURATION = "10 minutes"
SLIDE_STEP = "5 minutes"
SESSION_GAP = "4 hours"
SESSION_GAP_SECONDS = 4 * 3600


def _dsum(col: Column) -> Column:
    return F.round(F.sum(col.cast("decimal(30,6)")), 2).cast("double")


def tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("value")).alias("sum_value"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "sum_value")
    )


TUMBLING_COUNTS_SQL = """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart,
       event_type,
       count(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in 2 windows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", SLIDE_DURATION, SLIDE_STEP).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n")
    )


SLIDING_COUNTS_SQL = """
SELECT wstart, event_type, count(*) AS n
FROM (
    SELECT event_type,
           unnest([
               time_bucket(INTERVAL '5 minutes', ts),
               time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
           ]) AS wstart
    FROM events
)
GROUP BY 1, 2
"""


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 4-hour inactivity gap."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


SESSION_WINDOWS_SQL = f"""
WITH ordered AS (
    SELECT user_id, ts, event_id,
           -- strict >: Spark MERGES an event arriving exactly gap after its
           -- predecessor (touching windows coalesce; pinned by
           -- test_session_window_exact_gap_merges), so only a strictly
           -- larger gap starts a new session
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL {SESSION_GAP_SECONDS} seconds
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
tagged AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM ordered
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_SECONDS} seconds AS session_end,
       count(*) AS n_events
FROM tagged
GROUP BY user_id, session_id
"""


# --------------------------------------------------------------------------
# Structured Streaming form (exercised by tests, not the batch registry)
# --------------------------------------------------------------------------

EVENTS_DDL = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
# how far behind the max event time a window stays open for late rows
WATERMARK = "10 minutes"


def stream_tumbling_counts(
    spark: SparkSession,
    input_dir: str,
    reader_options: dict[str, str] | None = None,
) -> DataFrame:
    """readStream → watermark → tumbling-window agg. Append-safe: the
    watermark lets Spark finalize windows and bound state; late rows past
    the watermark are dropped — the standard late-data policy."""
    src = (
        spark.readStream.schema(EVENTS_DDL)
        .options(**(reader_options or {}))  # e.g. maxFilesPerTrigger
        .parquet(input_dir)
    )
    # Spark watermarks require a zoned TIMESTAMP event-time column
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ): cast in, cast back out.
    # With the session timezone at its UTC default this is lossless.
    return (
        src.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("value")).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("wstart"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_sliding_counts(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming twin of :func:`sliding_counts` — overlapping windows via
    the same ``F.window(duration, step)``; each event updates 2 windows'
    state, watermark bounds how long a window stays open."""
    src = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    return (
        src.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", SLIDE_DURATION, SLIDE_STEP).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("wstart"),
            "event_type",
            "n",
        )
    )


def stream_session_windows(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming twin of :func:`session_windows` — ``F.session_window``
    merges overlapping per-key windows in the state store; the watermark
    finalizes a session once no event can extend it (gap + watermark past
    its end), which is what bounds state at 100 TB."""
    src = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    return (
        src.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


def segment_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stream-static enrichment pattern: events joined
    to the customer dimension (broadcast — the dim is the small side by
    construction), tumbling counts per market segment. The streaming twin
    is :func:`stream_segment_counts`."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy(F.window("ts", TUMBLE).alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("c_mktsegment").alias("segment"),
            "n",
        )
    )


SEGMENT_EVENT_COUNTS_SQL = """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart,
       c_mktsegment AS segment,
       count(*) AS n
FROM events
JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


def stream_segment_counts(
    spark: SparkSession, input_dir: str, sf_dir: str
) -> DataFrame:
    """Stream-static enrichment: the event stream joins a STATIC dim
    table (re-read per micro-batch, broadcast) before the windowed agg —
    the standard pattern for enriching a fact stream with slowly-changing
    reference data without a stream-stream join's state."""
    src = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        src.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK)
        .join(F.broadcast(cust), "user_id")
        .groupBy(F.window("ts", TUMBLE).alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("wstart"),
            F.col("c_mktsegment").alias("segment"),
            "n",
        )
    )


QUERIES: dict[str, Query] = {
    "tumbling_counts": Query(
        tumbling_counts, TUMBLING_COUNTS_SQL, "tumbling time windows"
    ),
    "sliding_counts": Query(sliding_counts, SLIDING_COUNTS_SQL, "sliding windows"),
    "session_windows": Query(
        session_windows, SESSION_WINDOWS_SQL, "gap-based session windows"
    ),
    "segment_event_counts": Query(
        segment_event_counts,
        SEGMENT_EVENT_COUNTS_SQL,
        "stream-static enrichment (batch form): dim join + tumbling agg",
    ),
}

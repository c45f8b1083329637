"""Watermarked stream-stream join: the streaming twin of the batch range
join (``relational2.clicks_before_errors``).

Spark's stream-stream inner join buffers both sides in the state store;
the watermark plus the time-range join condition lets it PRUNE state: a
click older than (error watermark - 10 min) can never match a future
error, so its state is dropped. That bound is what makes the join runnable
forever at 100 TB/day — without the range condition + watermarks the state
grows without limit (Spark refuses to plan append-mode stream-stream joins
that lack them).

The test (``tests/test_streaming.py``) runs this with availableNow against
a snapshot and asserts equality with the batch inner-join counts — the
stream/batch equivalence contract, same pattern as the window twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.operators.timeseries import THROTTLE_COOLDOWN_S
from simple_map_reduce_ruuner_spark.streaming.windows import EVENTS_DDL, WATERMARK

# both join sides' watermark delay: longer than the 10-minute join window
JOIN_WATERMARK = "30 minutes"


def stream_clicks_before_errors(spark: SparkSession, input_dir: str) -> DataFrame:
    """(user_id, error_id, click_ts) pairs: each error joined to the
    same user's clicks in the preceding 10 minutes, as a watermarked
    stream-stream INNER join emitted in append mode.

    The join itself is the stateful operator under test; the count-per-
    error aggregation stays batch-side (a non-windowed aggregation after
    a stream-stream join has no event-time column to finalize on in
    append mode). Inner, not left as in the batch anchor: append-mode
    outer joins emit their null-padded rows only after the watermark
    passes, unobservable under a single availableNow batch — the test
    compares against the batch join restricted to matched rows.
    """
    src = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    events = src.withColumn("ts", F.col("ts").cast("timestamp"))
    errors = (
        events.where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", JOIN_WATERMARK)
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", JOIN_WATERMARK)
    )
    joined = errors.join(
        clicks,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("error_ts"))
        & (F.col("click_ts") >= F.col("error_ts") - F.expr("INTERVAL 10 MINUTES")),
    )
    return joined.select(
        F.col("e_user").alias("user_id"),
        "error_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )


def stream_clicks_errors_left(spark: SparkSession, input_dir: str) -> DataFrame:
    """LEFT OUTER variant of :func:`stream_clicks_before_errors`: errors
    with no preceding click still emit, null-padded — but only after the
    watermark passes the error's join window, because until then a
    matching click could still arrive. Under availableNow the final
    no-data batch advances the watermark past every error older than
    (max event time − delay) and flushes their null rows; errors younger
    than the delay stay buffered — the semantics
    ``tests/test_streaming.py`` pins against the batch left join.
    """
    src = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    events = src.withColumn("ts", F.col("ts").cast("timestamp"))
    errors = (
        events.where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", JOIN_WATERMARK)
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", JOIN_WATERMARK)
    )
    joined = errors.join(
        clicks,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("error_ts"))
        & (F.col("click_ts") >= F.col("error_ts") - F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    )
    return joined.select(
        F.col("e_user").alias("user_id"),
        "error_id",
        F.col("error_ts").cast("timestamp_ntz").alias("error_ts"),
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )


def stream_dedup_events(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming exact-dedup: ``dropDuplicatesWithinWatermark`` on the
    event key — the streaming-ingest twin of ``exact_dedup``.

    Plain streaming ``dropDuplicates`` keys state FOREVER (every key
    ever seen); the within-watermark variant evicts a key's state once
    the watermark passes its event time, so state is bounded by the
    watermark horizon — the only formulation that survives an unbounded
    100 TB/day stream. Duplicates arriving within the watermark window
    are suppressed (exactly the at-least-once-delivery dedup contract).
    """
    src = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    events = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
    )


def stream_cooldown_dedup(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming keyed-cooldown dedup: ``dropDuplicatesWithinWatermark``
    on (user_id, event_type) with the cooldown as the watermark delay —
    the stream form of ``operators.timeseries.throttle_suppress``
    (alert throttling).

    Contract vs the batch greedy chain: a key's state entry lives until
    the watermark passes the KEPT row's event time + cooldown, so
    (a) every key emits at least once (keys never vanish), (b) no two
    emissions of one key are ever closer than the cooldown (a second
    row is kept only once the watermark passed expiry, and non-late
    rows sit above the watermark), and (c) the per-key emission count
    never exceeds the batch chain's — any cooldown-spaced subset is
    bounded by the greedy (earliest-first) selection, which is maximal
    for interval scheduling. WHICH row of a batch represents a key is
    arrival order, not event-time order (the operator keeps the first
    arrival), so row-level equality with the batch chain is not part of
    the contract — the properties are pinned in tests/test_streaming.py.
    """
    src = spark.readStream.schema(EVENTS_DDL).parquet(input_dir)
    events = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", f"{THROTTLE_COOLDOWN_S} seconds")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select(
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp_ntz").alias("emit_ts"),
            "event_id",
        )
    )

"""Time-series resampling: dense daily spine + zero-fill + forward fill.

The feature-pipeline staple the relational surface doesn't cover
elsewhere: events are sparse in time, training features need a dense
regular grid. ``events_daily_fill`` computes per-user daily aggregates,
generates each user's full [first_day, last_day] spine with
``sequence()`` + ``explode`` (no cross join against a global calendar —
each user only materializes their own span), left-joins the actuals,
zero-fills counts, and forward-fills the last known value with a
``last(ignorenulls)`` running window.

Scale shape: one shuffle for the daily aggregate (partial/final), one
for the span, one window partitioned by user. Spine size is
O(users x avg span days) — rows are 4 small columns, never events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.operators.relational import dsum, dsum_sql
from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table, session_cache


def events_daily_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(dsum(F.col("value")), 2).cast("double").alias("day_value"),
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = spans.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    filled = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # day emitted as timestamp_ntz: the repo-wide normalization for
    # calendar outputs (DATE round-trips as midnight timestamps through
    # Arrow/pandas; see date_arithmetic)
    return filled.select(
        "user_id",
        F.col("day").cast("timestamp_ntz").alias("day"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        F.last("day_value", ignorenulls=True).over(w).alias("ffill_value"),
    )


EVENTS_DAILY_FILL_SQL = f"""
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           count(*) AS n,
           CAST(ROUND({dsum_sql("value")}, 2) AS DOUBLE) AS day_value
    FROM events GROUP BY 1, 2
),
spans AS (
    SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
),
spine AS (
    SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
    FROM spans
)
SELECT s.user_id, CAST(s.day AS TIMESTAMP) AS day,
       CAST(coalesce(d.n, 0) AS BIGINT) AS n_events,
       last_value(d.day_value IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
FROM spine s
LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
"""


# --------------------------------------------------------------------------
# Ordered-sequence funnel: signup → click → purchase
# --------------------------------------------------------------------------


def signup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered funnel: first signup, first click AT-OR-AFTER the
    signup, first purchase at-or-after that click; ``stage`` = stages
    completed (1-3). The behavioral-analytics sequence-match, expressed
    as three bounded min-aggregations instead of per-user event-log
    scans: each step joins one filtered event slice against the previous
    step's frontier timestamp — shuffles are keyed by user_id and carry
    one row per user, never the event log.
    """
    ev = load_table(spark, sf_dir, "events")

    def first_after(event_type: str, frontier: DataFrame, bound_col: str, out: str):
        step = (
            ev.where(F.col("event_type") == event_type)
            .select("user_id", "ts")
            .join(frontier, "user_id")
            .where(F.col("ts") >= F.col(bound_col))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )
        return frontier.join(step, "user_id", "left")

    signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    with_click = first_after("click", signup, "signup_ts", "click_ts")
    with_purchase = first_after("purchase", with_click, "click_ts", "purchase_ts")
    stage = (
        F.lit(1)
        + F.when(F.col("click_ts").isNotNull(), 1).otherwise(0)
        + F.when(F.col("purchase_ts").isNotNull(), 1).otherwise(0)
    )
    return with_purchase.select(
        "user_id",
        "signup_ts",
        "click_ts",
        "purchase_ts",
        stage.cast("long").alias("stage"),
    )


SIGNUP_FUNNEL_SQL = """
WITH s AS (
    SELECT user_id, min(ts) AS signup_ts
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(e.ts) AS click_ts
    FROM events e JOIN s ON s.user_id = e.user_id AND e.ts >= s.signup_ts
    WHERE e.event_type = 'click'
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(e.ts) AS purchase_ts
    FROM events e JOIN c ON c.user_id = e.user_id AND e.ts >= c.click_ts
    WHERE e.event_type = 'purchase'
    GROUP BY e.user_id
)
SELECT s.user_id, s.signup_ts, c.click_ts, p.purchase_ts,
       CAST(1 + (c.click_ts IS NOT NULL)::INT
              + (p.purchase_ts IS NOT NULL)::INT AS BIGINT) AS stage
FROM s
LEFT JOIN c ON c.user_id = s.user_id
LEFT JOIN p ON p.user_id = s.user_id
"""


def rolling_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: sum and count of the same user's values in the
    trailing hour — a RANGE window frame over event time.

    The time-decayed-feature staple (rate limiting, behavioral features,
    anomaly baselines). Spark range frames need a numeric ordering key,
    so the frame runs over whole seconds since a fixed NTZ epoch —
    computed with ``timestampdiff`` on the naive timestamp, NOT
    ``unix_timestamp``, which would interpret wall time in the session
    timezone and shift gaps across DST boundaries. Rows sharing a
    timestamp are RANGE peers in both engines, making the result
    order-independent. One exchange on user_id + one in-partition sort.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.timestamp_diff(
        "SECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts"),
    ).alias("sec")
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, 0)
    )
    return ev.select("event_id", "user_id", "ts", "value", sec).select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).cast("long").alias("n_last_hour"),
        F.round(F.sum(F.col("value").cast("decimal(30,6)")).over(w), 2)
        .cast("double")
        .alias("value_last_hour"),
    )


ROLLING_HOUR_VALUE_SQL = """
SELECT event_id, user_id, ts,
       CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))) OVER w, 2) AS DOUBLE)
           AS value_last_hour
FROM events
WINDOW w AS (
    PARTITION BY user_id
    ORDER BY date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
)
"""


# single source of truth: the batch sessionization MUST use the same gap
# as the streaming session windows (their equivalence is tested)
from simple_map_reduce_ruuner_spark.streaming.windows import SESSION_GAP_SECONDS


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign a per-user session sequence number to every event: a new
    session starts when the gap since the previous event exceeds the
    session gap (strictly — an event exactly gap seconds later still
    merges, matching Spark ``session_window`` semantics pinned in
    tests/test_streaming.py).

    The per-event complement of the session_windows aggregate: the
    running SUM over is-new-session flags is the standard sessionization
    idiom. One exchange on user_id; both window passes share the same
    sort order, so Catalyst plans a single sort.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_sec = F.timestamp_diff("SECOND", prev_ts, F.col("ts"))
    is_new = F.when(
        prev_ts.isNull() | (gap_sec > SESSION_GAP_SECONDS), 1
    ).otherwise(0)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("session_seq"),
    )


SESSIONIZE_EVENTS_SQL = f"""
WITH flagged AS (
    SELECT event_id, user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR date_diff('second', lag(ts) OVER w, ts)
                        > {SESSION_GAP_SECONDS}
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, ts,
       CAST(sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS session_seq
FROM flagged
"""


def session_overlap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_start, session_end, n_overlapping): for every
    user session, how many OTHER sessions (any user) overlap it in time
    — cross-user concurrency attribution, the interval×interval join
    the pipeline otherwise lacks (order_followups_week is point×
    interval; peaks is point-in-time concurrency).

    A naive formulation self-joins sessions on the overlap predicate —
    O(overlap pairs), which is quadratic-ish whenever concurrency is
    high (the oracle below does exactly that; DuckDB's IEJoin absorbs
    it at test scale). The distributed formulation uses the counting
    identity instead:

        overlaps(s) = #{starts < s.end} − #{ends ≤ s.start} − 1

    Both counts are ranks along the ONE time axis, so a single merged
    sweep computes them without any join: every session emits a start
    row and an end row; ordering by (t, end-before-start) makes the
    running count of start-rows AT an end-row equal #{starts < s.end}
    (same-instant starts sort after, correctly excluded) and the
    running count of end-rows AT a start-row equal #{ends ≤ s.start}
    (same-instant ends sort before, correctly included). The global
    running sums parallelize by hour bucket: per-bucket totals (a tiny
    aggregate) broadcast back as prefix offsets — the standard
    distributed prefix-sum — so no single-partition window ever sees
    the full axis. Each row carries its session key, so one final
    groupBy per session recovers both counts; no join back.

    Exchanges: sessions window (user_id), bucket window (hour), final
    groupBy (session key) — all O(n) in sessions, independent of how
    many pairs overlap. At 4h-gap sessions an hour bucket holds ~1/744
    of a month's axis rows; shrink the bucket for denser axes.
    """
    from simple_map_reduce_ruuner_spark.streaming.windows import session_windows

    # Store entry "session_windows" (a lazy checkpoint): the axis feeds
    # BOTH the per-bucket offset aggregate and the ranked window below,
    # and the old union-of-two-projections form additionally duplicated
    # the subtree per branch — the session-window aggregation (scan +
    # user_id shuffle) appeared 4× in the physical plan, 9 exchanges in
    # all (``git show ffa0b7b:plans/r15/session_overlap_counts_before.txt``).
    # Exploding both axis rows out of one pass and materializing
    # sessions once (serialized MEMORY_AND_DISK blocks, reused by later
    # calls in the session) makes it run once (guide §2.4).
    #
    # r16 NULL RESULT (``git show ffa0b7b:OPTIMIZATION_r16.md``): moving the
    # checkpoint UP to the bucket-repartitioned axis (partitioning
    # preserved, one exchange shared by the offset aggregate and the
    # ranked window; naive exchange-sharing fails twice over — the
    # inner join's inferred isnotnull(bucket) and column pruning make
    # the sibling exchanges canonically unequal) measured +0.2-0.3 s
    # per invocation over 3×5-rep interleaved process rounds: two
    # block-cache reads of the axis cost more than re-deriving it from
    # this sessions checkpoint. Same finding as pagerank's reverted
    # preserve-partitioning rewrite, at smaller magnitude.
    sessions = session_cache(
        spark, sf_dir, "session_windows", lambda: session_windows(spark, sf_dir)
    )
    axis = sessions.select(
        "user_id",
        "session_start",
        "session_end",
        F.explode(
            F.array(
                F.struct(
                    F.col("session_start").alias("t"), F.lit(1).alias("is_start")
                ),
                F.struct(
                    F.col("session_end").alias("t"), F.lit(0).alias("is_start")
                ),
            )
        ).alias("d"),
    ).select(
        "user_id",
        "session_start",
        "session_end",
        F.col("d.t").alias("t"),
        F.col("d.is_start").alias("is_start"),
        F.date_trunc("HOUR", F.col("d.t")).alias("bucket"),
    )

    per_bucket = axis.groupBy("bucket").agg(
        F.sum("is_start").alias("n_starts"),
        F.sum(1 - F.col("is_start")).alias("n_ends"),
    )
    w_prefix = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("n_starts").over(w_prefix), F.lit(0)).alias("off_starts"),
        F.coalesce(F.sum("n_ends").over(w_prefix), F.lit(0)).alias("off_ends"),
    )

    # end rows (is_start=0) sort before start rows at the same instant
    w_bucket = Window.partitionBy("bucket").orderBy("t", "is_start").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = axis.join(F.broadcast(offsets), "bucket").select(
        "user_id",
        "session_start",
        "session_end",
        "is_start",
        (F.col("off_starts") + F.sum("is_start").over(w_bucket)).alias("r_starts"),
        (F.col("off_ends") + F.sum(1 - F.col("is_start")).over(w_bucket)).alias(
            "r_ends"
        ),
    )
    return (
        ranked.groupBy("user_id", "session_start", "session_end")
        .agg(
            # at the end row, r_starts counts starts strictly before s.end
            F.max(F.when(F.col("is_start") == 0, F.col("r_starts"))).alias("a"),
            # at the start row, r_ends counts ends at-or-before s.start
            F.max(F.when(F.col("is_start") == 1, F.col("r_ends"))).alias("b"),
        )
        .select(
            "user_id",
            "session_start",
            "session_end",
            (F.col("a") - F.col("b") - 1).cast("long").alias("n_overlapping"),
        )
    )


def _session_overlap_counts_sql() -> str:
    from simple_map_reduce_ruuner_spark.streaming.windows import SESSION_WINDOWS_SQL

    return f"""
WITH sessions AS ({SESSION_WINDOWS_SQL.strip()})
SELECT s.user_id, s.session_start, s.session_end,
       CAST(count(t.session_start) AS BIGINT) AS n_overlapping
FROM sessions s
LEFT JOIN sessions t
  ON t.session_start < s.session_end
 AND t.session_end > s.session_start
 AND NOT (t.user_id = s.user_id AND t.session_start = s.session_start)
GROUP BY 1, 2, 3
"""


ROLLING_MEDIAN_ROWS = 4  # trailing window: this many preceding + current


def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, median_value): per-user rolling exact median of the
    last ROLLING_MEDIAN_ROWS+1 event values — the order-statistics
    denoiser (robust to spikes where the rolling MEAN of
    rolling_hour_value is not).

    Exactness: the median interpolates between ORDER STATISTICS, so it
    is deterministic where a float mean is not — values become integer
    cents, every interpolation point is k or k+0.5 (exact doubles in
    both engines' a+(b−a)·f form), and the one /100.0 at the end is a
    single IEEE division. Window frame state is O(frame rows); one
    exchange on user_id shared with the in-partition (ts, event_id)
    sort.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    med = F.expr(
        f"percentile(cents, 0.5) OVER (PARTITION BY user_id "
        f"ORDER BY ts, event_id "
        f"ROWS BETWEEN {ROLLING_MEDIAN_ROWS} PRECEDING AND CURRENT ROW)"
    )
    return (
        ev.withColumn("cents", cents)
        .select("event_id", (med / F.lit(100.0)).alias("median_value"))
    )


ROLLING_MEDIAN_VALUE_SQL = f"""
SELECT event_id,
       quantile_cont(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT), 0.5)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {ROLLING_MEDIAN_ROWS} PRECEDING AND CURRENT ROW)
           / 100.0 AS median_value
FROM events
"""


THROTTLE_COOLDOWN_S = 6 * 3600  # 6-hour suppression window per key


def throttle_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed cooldown dedup (alert throttling): per (user_id, event_type),
    emit an event only if it arrives ≥ cooldown after the LAST EMITTED
    event of that key; everything in between is suppressed and counted
    against its emitter. One row per emission with the suppressed count.

    This is the batch twin of keyed ``dropDuplicatesWithinWatermark``
    semantics (streaming/joins.stream_cooldown_dedup is the stream form):
    the greedy epoch chain — next emission = first event past
    last_emit + cooldown — depends on its own previous output, so no
    window-function rewrite exists. It runs as ONE group-boundary-aware
    ``mapInPandas`` scan over key-hash-partitioned, key-then-time-sorted
    partitions: one shuffle, O(1) carry state (the latest pending
    emission) across Arrow batches, and Python overhead per BATCH, not
    per group — the per-group ``applyInPandas`` form paid ~2 ms of
    pandas invocation per key, which at 750k keys (the 100x events
    decade) was 55x of wall clock; this form measured ~10x faster
    there while byte-identical. The explicit numbered repartition also
    keeps AQE from coalescing the small-shuffle case down to 1-2
    Python workers. The DuckDB oracle replays the chain with a
    recursive CTE (depth = max per-key row count).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return throttle_of(ev, THROTTLE_COOLDOWN_S)


def throttle_of(ev: DataFrame, cooldown_s: int) -> DataFrame:
    """Kernel of :func:`throttle_suppress` over any (user_id,
    event_type, ts, event_id) frame with a configurable cooldown —
    factored for the randomized differential fuzz (r13 verdict item 6),
    which drives it with tiny Arrow batches so groups straddle batch
    boundaries."""
    cooldown_ns = cooldown_s * 1_000_000_000
    par = ev.sparkSession.sparkContext.defaultParallelism

    def kernel(batches):
        import numpy as np
        import pandas as pd

        cols = (
            "user_id",
            "event_type",
            "emit_ts",
            "first_event_id",
            "n_suppressed",
        )

        def frame(rows):
            return pd.DataFrame(
                {
                    "user_id": pd.Series(
                        [r[0] for r in rows], dtype="int64"
                    ),
                    "event_type": pd.Series(
                        [r[1] for r in rows], dtype="object"
                    ),
                    "emit_ts": pd.Series(
                        np.asarray([r[2] for r in rows], dtype="int64")
                        .astype("datetime64[ns]")
                    ),
                    "first_event_id": pd.Series(
                        [r[3] for r in rows], dtype="int64"
                    ),
                    "n_suppressed": pd.Series(
                        [r[4] for r in rows], dtype="int64"
                    ),
                }
            )

        # carry across batches: the CURRENT key and its latest emission
        # (still collecting suppressions until the key changes or a new
        # emission supersedes it)
        cur_key = None
        pending = None  # [user_id, event_type, emit_ns, event_id, n_sup]
        last_ns = 0
        for pdf in batches:
            done = []
            u = pdf["user_id"].to_numpy()
            et = pdf["event_type"].to_numpy()
            ts = (
                pdf["ts"].to_numpy().astype("datetime64[ns]").astype("int64")
            )
            eid = pdf["event_id"].to_numpy()
            for i in range(len(u)):
                key = (u[i], et[i])
                if key != cur_key:
                    if pending is not None:
                        done.append(pending)
                    cur_key = key
                    pending = [int(u[i]), et[i], int(ts[i]), int(eid[i]), 0]
                    last_ns = ts[i]
                elif ts[i] - last_ns >= cooldown_ns:
                    done.append(pending)
                    pending = [int(u[i]), et[i], int(ts[i]), int(eid[i]), 0]
                    last_ns = ts[i]
                else:
                    pending[4] += 1
            if done:
                yield frame(done)
        if pending is not None:
            yield frame([pending])

    return (
        ev.repartition(par, "user_id", "event_type")
        .sortWithinPartitions("user_id", "event_type", "ts", "event_id")
        .mapInPandas(
            kernel,
            "user_id long, event_type string, emit_ts timestamp_ntz, "
            "first_event_id long, n_suppressed long",
        )
    )


def throttle_oracle_sql(cooldown_s: int, table: str = "events") -> str:
    """The recursive-CTE chain replay for any cooldown/table — shared
    by the registry oracle and the randomized differential fuzz."""
    return f"""
WITH RECURSIVE ordered AS (
    SELECT user_id, event_type, ts, event_id,
           row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
           ) AS rn
    FROM {table}
),
chain AS (
    SELECT user_id, event_type, ts, event_id, rn, ts AS emit_ts
    FROM ordered WHERE rn = 1
    UNION ALL
    SELECT o.user_id, o.event_type, o.ts, o.event_id, o.rn,
           CASE WHEN o.ts >= c.emit_ts
                         + INTERVAL {cooldown_s} seconds
                THEN o.ts ELSE c.emit_ts END
    FROM chain c JOIN ordered o
      ON o.user_id = c.user_id AND o.event_type = c.event_type
     AND o.rn = c.rn + 1
)
SELECT user_id, event_type, emit_ts,
       CAST(arg_min(event_id, rn) AS BIGINT) AS first_event_id,
       CAST(count(*) - 1 AS BIGINT) AS n_suppressed
FROM chain
GROUP BY 1, 2, 3
"""


THROTTLE_SUPPRESS_SQL = throttle_oracle_sql(THROTTLE_COOLDOWN_S)


QUERIES: dict[str, Query] = {
    "throttle_suppress": Query(
        throttle_suppress,
        THROTTLE_SUPPRESS_SQL,
        "keyed cooldown dedup (alert throttling): greedy epoch chain via "
        "group-boundary-aware mapInPandas; recursive-CTE oracle",
    ),
    "rolling_median_value": Query(
        rolling_median_value,
        ROLLING_MEDIAN_VALUE_SQL,
        "per-user rolling exact median (order-statistics denoiser)",
    ),
    "session_overlap_counts": Query(
        session_overlap_counts,
        _session_overlap_counts_sql(),
        "interval-overlap counts via merged sweep rank - no self-join",
    ),
    "events_daily_fill": Query(
        events_daily_fill,
        EVENTS_DAILY_FILL_SQL,
        "daily resample: dense per-user spine, zero-fill counts, forward-fill values",
    ),
    "signup_funnel": Query(
        signup_funnel,
        SIGNUP_FUNNEL_SQL,
        "ordered signup->click->purchase funnel, one row per signed-up user",
    ),
    "rolling_hour_value": Query(
        rolling_hour_value,
        ROLLING_HOUR_VALUE_SQL,
        "trailing-hour RANGE-frame window per user (time-decayed features)",
    ),
    "sessionize_events": Query(
        sessionize_events,
        SESSIONIZE_EVENTS_SQL,
        "per-event session-id assignment (lag gap flag + running sum)",
    ),
}


EWMA_ALPHA_NUM, EWMA_ALPHA_DEN = 1, 8  # alpha = 1/8: exact binary scale


def ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of value over the
    event stream: s₀ = y₀, sₜ = yₜ/8 + sₜ₋₁·7/8 — the classic smoothing
    baseline (load averages, latency smoothing, anomaly thresholds).

    Like :func:`throttle_suppress`, the recurrence consumes its own
    previous OUTPUT, so no window rewrite exists — this is the second
    member of the sequential-recurrence family and reuses its scan
    shape: one keyed shuffle, key-then-time-sorted partitions, a
    group-boundary-aware ``mapInPandas`` with O(1) carry state across
    Arrow batches. Cross-engine exactness: y is integer cents, α = 1/8
    is an exact binary fraction, and both engines evaluate the SAME
    IEEE expression (y/8.0 + s·7.0/8.0) in the same order per step, so
    the doubles agree bit-for-bit and are emitted RAW — rounding is
    deliberately absent: every EWMA value is an exact binary fraction
    (denominator 8^t), so fixed-decimal rounding lands on exact .5
    ties where numpy (half-even) and DuckDB (half-away) disagree
    (found by the parity gate at 6 decimals). The
    DuckDB oracle replays the chain with a recursive CTE (the
    throttle_suppress pattern).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        # cents cast happens SPARK-side with the house decimal cast so
        # the kernel never re-derives integers from doubles in pandas
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    par = ev.sparkSession.sparkContext.defaultParallelism

    def kernel(batches):
        import numpy as np
        import pandas as pd

        cur_key = None
        s = 0.0
        for pdf in batches:
            u = pdf["user_id"].to_numpy()
            eid = pdf["event_id"].to_numpy()
            cents = pdf["cents"].to_numpy()
            out = np.empty(len(u), dtype="float64")
            for i in range(len(u)):
                y = float(cents[i])
                if u[i] != cur_key:
                    cur_key = u[i]
                    s = y
                else:
                    s = y / 8.0 + s * 7.0 / 8.0
                out[i] = s
            yield pd.DataFrame(
                {
                    "user_id": pd.Series(u, dtype="int64"),
                    "event_id": pd.Series(eid, dtype="int64"),
                    "ewma_cents": pd.Series(out),
                }
            )

    return (
        ev.repartition(par, "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(
            kernel, "user_id long, event_id long, ewma_cents double"
        )
    )


EWMA_VALUE_SQL = """
WITH RECURSIVE ordered AS (
    SELECT user_id, event_id,
           CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                AS DOUBLE) AS y,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS rn
    FROM events
),
chain AS (
    SELECT user_id, event_id, rn, y AS s
    FROM ordered WHERE rn = 1
    UNION ALL
    SELECT o.user_id, o.event_id, o.rn, o.y / 8.0 + c.s * 7.0 / 8.0
    FROM chain c JOIN ordered o
      ON o.user_id = c.user_id AND o.rn = c.rn + 1
)
SELECT user_id, event_id, s AS ewma_cents
FROM chain
"""


QUERIES["ewma_value"] = Query(
    ewma_value,
    EWMA_VALUE_SQL,
    "per-user EWMA of value (alpha=1/8): sequential recurrence via "
    "group-boundary mapInPandas; recursive-CTE oracle",
)


def interarrival_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed histogram of per-user inter-arrival gaps — the
    ops-side arrival-process profile (burstiness, session boundaries,
    throttle/cooldown tuning all read off this table).

    Integer-exact everywhere: gaps are exact integer MICROSECONDS from
    consecutive events of the same user (lag over (ts, event_id)), and
    the log2 bucket is ``length(bin(gap))`` — the binary-string length
    equals floor(log2)+1 for positive ints, so no float log touches the
    data; both engines compute the identical bucket. Output one row per
    (event bucket): count, exact min/max gap. Scale: one user-keyed
    window, then a 64-group-bounded aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select("user_id", "ts", "event_id", us.alias("us"))
        .select(
            (F.col("us") - F.lag("us").over(w)).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
    )
    bucket = F.when(
        F.col("gap_us") > 0, F.length(F.bin(F.col("gap_us")))
    ).otherwise(F.lit(0))
    return (
        gaps.select(bucket.cast("long").alias("log2_bucket"), "gap_us")
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap_us").cast("long").alias("min_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
        )
    )


INTERARRIVAL_HIST_SQL = """
WITH gaps AS (
    SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS gap_us
    FROM events
)
SELECT CAST(CASE WHEN gap_us > 0 THEN length(bin(gap_us)) ELSE 0 END
            AS BIGINT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM gaps
WHERE gap_us IS NOT NULL
GROUP BY 1
"""


QUERIES["interarrival_hist"] = Query(
    interarrival_hist,
    INTERARRIVAL_HIST_SQL,
    "log2-bucketed per-user inter-arrival gaps via binary-string "
    "length: float-free bucketing, 64-group-bounded aggregate",
)


ACF_LAGS = 3  # lags 1..3


def value_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, lag, n_pairs, acf): lag-1..ACF_LAGS autocorrelation
    of event values per event_type — the periodicity/stickiness signal
    a monitoring pipeline runs beside the EWMA (a high lag-k ACF says
    the smoother's residuals are structured, not noise).

    Definition: Pearson correlation over the (yₜ, yₜ₋ₗ) pairs of the
    (ts, event_id)-ordered series — the standard sample ACF up to the
    edge-effect convention, computed on the PAIRED means (exact for
    cross-engine parity; the "divide by overall mean" textbook variant
    differs only at O(lag/n)).

    Exactness (the welch/OLS discipline): all six sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as DECIMAL(38,0) over exact
    cents — order-independent, so partial aggregation can't flip a
    digit — and the final r is a handful of IEEE ops written in the
    SAME order in both engines: num/den where den =
    sqrt(vx·vy) with vx, vy cast to double BEFORE the multiply (the
    decimal product nΣx²·nΣy² would overflow 38 digits exactly at
    fleet scale — the OLS intercept lesson). NULL on zero variance or
    n < 2 in both engines.

    Scale shape: one keyed window (event_type ordered by ts, event_id)
    produces all ACF_LAGS lag columns in a single pass; the stack to
    (lag, x, y) rows multiplies by ACF_LAGS before the
    |event_type|×ACF_LAGS-bounded aggregate. No driver-side state.
    """
    ev = load_table(spark, sf_dir, "events")
    y = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type",
        y.alias("y"),
        *[F.lag(y, L).over(w).alias(f"x{L}") for L in range(1, ACF_LAGS + 1)],
    )
    stack = ", ".join(f"{L}, y, x{L}" for L in range(1, ACF_LAGS + 1))
    pairs = lagged.select(
        "event_type",
        F.expr(f"stack({ACF_LAGS}, {stack}) AS (lag, y, x)"),
    ).where(F.col("x").isNotNull())
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = (
        pairs.select("event_type", "lag", d("x").alias("x"), d("y").alias("y"))
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    ok = (F.col("n") >= 2) & (vx > 0) & (vy > 0)
    return agg.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.when(ok, F.round(num / F.sqrt(vx * vy), 6))
        .otherwise(F.lit(None))
        .alias("acf"),
    )


def _acf_sql() -> str:
    lag_cols = ", ".join(
        f"lag(y, {L}) OVER (PARTITION BY event_type ORDER BY ts, event_id)"
        f" AS x{L}"
        for L in range(1, ACF_LAGS + 1)
    )
    unpivot = " UNION ALL ".join(
        f"SELECT event_type, {L} AS lag, y, x{L} AS x FROM lagged"
        f" WHERE x{L} IS NOT NULL"
        for L in range(1, ACF_LAGS + 1)
    )
    return f"""
WITH base AS (
    SELECT event_type, ts, event_id,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
    FROM events
),
lagged AS (SELECT event_type, y, {lag_cols} FROM base),
pairs AS ({unpivot}),
agg AS (
    SELECT event_type, lag,
           CAST(count(*) AS HUGEINT) AS n,
           CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
           CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
           sum(CAST(x AS HUGEINT) * y) AS sxy,
           sum(CAST(x AS HUGEINT) * x) AS sxx,
           sum(CAST(y AS HUGEINT) * y) AS syy
    FROM pairs GROUP BY 1, 2
)
SELECT event_type,
       CAST(lag AS BIGINT) AS lag,
       CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE) > 0
                 AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS acf
FROM agg
"""


VALUE_ACF_SQL = _acf_sql()

QUERIES["value_acf"] = Query(
    value_acf,
    VALUE_ACF_SQL,
    "lag-1..3 autocorrelation per event_type: exact decimal sufficient "
    "statistics, one pinned-order IEEE expression (welch discipline)",
)


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n, cp_pos, cp_frac_milli, dev_ppm): CUSUM-style
    changepoint localization per event_type — WHERE in the series the
    mean shifted, the localization complement to the family's detectors
    (ks_value_shift says IF the split halves differ; this says where the
    break sits and how hard the cumulative path pulls away from a
    constant-mean line).

    Statistic, kept exact the welch/OLS/ACF way: over the (ts, event_id)
    ordered cents yᵢ of one event_type, the scaled deviation at k is
        D_k = n·S_k − k·S_n      (S_k = prefix sum, all DECIMAL(38,0))
    which is n·(S_k − k·ȳ) with the division cleared — so argmax/max of
    |D_k| is the classic CUSUM changepoint estimator with zero IEEE ops.
    Headroom: |D| ≤ 2·n·Σ|y| ≤ 2·10⁸·(10⁸·10⁶) = 2·10²² ≪ 10³⁸ at a
    100 TB per-type series — no overflow cliff (the OLS lesson, sized).
    cp_pos is the EARLIEST k attaining the max (exact decimal equality
    join, deterministic in both engines); dev_ppm = 10⁶·max|D| div
    (n·Σ|y|) is the integer-exact normalized pull, range [0, 2·10⁶],
    NULL when the series is all-zero (n·Σ|y| = 0 — guarded, ANSI-safe).

    Scale shape: ONE scan, ONE exchange on event_type. The
    ordered-prefix and whole-partition windows share the same sort, and
    the per-type max|D| is a THIRD window over the same partitioning
    rather than an aggregate-and-join-back — the first cut aggregated
    max into a broadcast join and the column-pruned aggregate branch
    canonicalized differently from the probe branch, so the runtime
    plan scanned events and ran the window stack TWICE (the token_pmi
    lesson, caught by this round's executed-plan audit). Stacking the
    max as a window keeps everything in the one sorted partition;
    the earliest-argmax is then a filter + one |event_type|-bounded
    aggregate. No join, no driver state, no floats.
    """
    ev = load_table(spark, sf_dir, "events")
    y = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    devs = ev.select(
        "event_type",
        F.row_number().over(w).cast("long").alias("k"),
        F.sum(d38(y)).over(w_cum).alias("s_k"),
        F.sum(d38(y)).over(w_all).alias("s_n"),
        F.count(F.lit(1)).over(w_all).cast("decimal(38,0)").alias("n"),
        F.sum(d38(F.abs(y))).over(w_all).alias("gross"),
    ).select(
        "event_type",
        "k",
        "n",
        "gross",
        F.abs(
            F.col("n") * F.col("s_k") - d38(F.col("k")) * F.col("s_n")
        ).alias("abs_dev"),
    )
    return (
        devs.withColumn("max_dev", F.max("abs_dev").over(w_all))
        .where(F.col("abs_dev") == F.col("max_dev"))
        .groupBy("event_type")
        .agg(
            F.min("n").alias("nn"),
            F.min("k").alias("cp_pos"),
            F.min("gross").alias("g"),
            F.min("max_dev").alias("md"),
        )
        .select(
            "event_type",
            F.col("nn").cast("long").alias("n"),
            "cp_pos",
            F.expr("CAST(cp_pos * 1000 div nn AS BIGINT)").alias(
                "cp_frac_milli"
            ),
            F.when(
                F.col("nn") * F.col("g") > 0,
                F.expr("CAST((md * 1000000) div (nn * g) AS BIGINT)"),
            ).alias("dev_ppm"),
        )
    )


CUSUM_CHANGEPOINT_SQL = """
WITH base AS (
    SELECT event_type, ts, event_id,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
    FROM events
),
devs AS (
    SELECT event_type,
           CAST(row_number() OVER wo AS BIGINT) AS k,
           CAST(count(*) OVER wa AS HUGEINT) AS n,
           sum(CAST(abs(y) AS HUGEINT)) OVER wa AS gross,
           abs(CAST(count(*) OVER wa AS HUGEINT)
                   * (sum(CAST(y AS HUGEINT)) OVER wc)
               - CAST(row_number() OVER wo AS HUGEINT)
                   * (sum(CAST(y AS HUGEINT)) OVER wa)) AS abs_dev
    FROM base
    WINDOW wo AS (PARTITION BY event_type ORDER BY ts, event_id),
           wc AS (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING),
           wa AS (PARTITION BY event_type)
),
peaks AS (
    SELECT event_type, max(abs_dev) AS max_dev FROM devs GROUP BY 1
)
SELECT d.event_type,
       CAST(min(d.n) AS BIGINT) AS n,
       min(d.k) AS cp_pos,
       CAST(min(d.k) * 1000 // min(d.n) AS BIGINT) AS cp_frac_milli,
       CASE WHEN min(d.n) * min(d.gross) > 0 THEN
           CAST(min(p.max_dev) * 1000000 // (min(d.n) * min(d.gross))
                AS BIGINT)
       END AS dev_ppm
FROM devs d JOIN peaks p USING (event_type)
WHERE d.abs_dev = p.max_dev
GROUP BY 1
"""


QUERIES["cusum_changepoint"] = Query(
    cusum_changepoint,
    CUSUM_CHANGEPOINT_SQL,
    "CUSUM changepoint per event_type: exact n*S_k - k*S_n deviation, "
    "earliest argmax, integer-normalized pull (zero IEEE ops)",
)

"""Reference workload 3: peak concurrent distinct keys per group over time.

Reference semantics (finding_peek_numbers/mapper.cpp:16,26-43,
reducer.cpp:16,25-49): each call record ``op number start end`` covers every
second in the inclusive interval [start, end] within a 0..86399 domain; per
(op, second) count the **distinct** numbers (overlapping intervals of the
same number dedup — reducer.cpp:31 re-inserts into a set); the answer is
per-op the max over seconds of that distinct count.

Driver-table binding: ``events`` stands in for the call log
(FIXTURES.md §3): op = event_type, number = user_id,
start = second-of-day(ts), end = min(start + floor(value), 86399).

Two formulations, deliberately kept semantically identical (their
equality is a differential test, SURVEY.md §7.4.1):

1. ``peak_concurrency_explode`` — the direct translation:
   explode(sequence(start, end)) → groupBy(op, sec).countDistinct →
   groupBy(op).max. Row count multiplies by mean interval length; fine
   when intervals are short, pathological for day-long intervals.

2. ``peak_concurrency_sweep`` — the scale formulation: merge overlapping
   intervals per (op, number) (sort + gap-merge via lag/cumsum windows),
   then sweep-line: +1 at start, -1 at end+1, running sum per op ordered by
   second, max of the running sum. Row count stays O(events), independent
   of interval length — this is the plan that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.sources.tables import load_table, spread_scan

DAY_SECONDS = 86_400  # domain bound, finding_peek_numbers/mapper.cpp:16


def _intervals(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """events → (op, number, start_sec, end_sec), inclusive bounds.
    spread_scan: the second-granular interval explode downstream is the
    CPU hot spot; a one-split local scan would serialize it. The sweep
    formulation passes ``spread=False``: its first operation is a hash
    shuffle on (op, number), which already spreads the rows — the
    round-robin exchange would be a pure extra pass (guide §2.4)."""
    ev = load_table(spark, sf_dir, "events")
    if spread:
        ev = spread_scan(ev, key="event_id")
    start = (
        F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
    ).alias("start_sec")
    df = ev.select(
        F.col("event_type").alias("op"),
        F.col("user_id").alias("number"),
        start,
        F.col("value"),
    )
    # greatest(..., start_sec): a negative value would otherwise invert the
    # interval, where Spark's sequence() generates a DESCENDING range while
    # DuckDB's generate_series returns empty and the sweep emits inverted
    # deltas — clamp so every formulation agrees on a 1-second interval.
    return df.select(
        "op",
        "number",
        "start_sec",
        F.least(
            F.greatest(
                F.col("start_sec") + F.floor("value").cast("int"),
                F.col("start_sec"),
            ),
            F.lit(DAY_SECONDS - 1),
        ).alias("end_sec"),
    )


def peak_concurrency_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct formulation: one row per covered second."""
    iv = _intervals(spark, sf_dir)
    per_sec = (
        iv.select(
            "op", "number", F.explode(F.sequence("start_sec", "end_sec")).alias("sec")
        )
        .groupBy("op", "sec")
        .agg(F.countDistinct("number").alias("cnt"))
    )
    return per_sec.groupBy("op").agg(F.max("cnt").alias("peak"))


def peak_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line formulation: O(events) rows end-to-end.

    Steps:
    1. Merge overlapping/adjacent intervals per (op, number) so one number
       never counts twice in a second (the reference's std::set dedup).
       Gap-merge: an interval starts a new island when its start exceeds
       the running max end of earlier intervals + 1; islands are numbered
       by a cumulative sum of those breaks.
    2. Emit (+1 at start) and (-1 at end+1) deltas.
    3. Per op, order by second and take the running sum; the peak is its max.
       Deltas at the same second are summed first so the running sum is
       well-defined at second granularity.
    """
    iv = _intervals(spark, sf_dir, spread=False)

    w_order = Window.partitionBy("op", "number").orderBy("start_sec", "end_sec")
    prev_max_end = F.max("end_sec").over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = iv.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("start_sec") > prev_max_end + 1), 1
        ).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_order))

    merged = islands.groupBy("op", "number", "island").agg(
        F.min("start_sec").alias("start_sec"), F.max("end_sec").alias("end_sec")
    )

    # Both deltas explode out of ONE pass over merged. The union-of-two-
    # projections form duplicated the whole upstream subtree (scan →
    # (op, number) exchange → 2 windows → merge aggregate) into each
    # union branch — the plan ran the island merge twice (guide §2.4,
    # remove duplicated work; 6 exchanges → 3,
    # ``git show ffa0b7b:plans/r15/peak_concurrency_sweep_before.txt``).
    deltas = merged.select(
        "op",
        F.explode(
            F.array(
                F.struct(
                    F.col("start_sec").alias("sec"), F.lit(1).alias("delta")
                ),
                F.struct(
                    (F.col("end_sec") + 1).alias("sec"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("d"),
    ).select("op", F.col("d.sec").alias("sec"), F.col("d.delta").alias("delta"))

    per_sec = deltas.groupBy("op", "sec").agg(F.sum("delta").alias("delta"))
    running = per_sec.withColumn(
        "cnt", F.sum("delta").over(Window.partitionBy("op").orderBy("sec"))
    )
    return running.groupBy("op").agg(F.max("cnt").cast("long").alias("peak"))


# One oracle serves both formulations (their equivalence is the point).
PEAK_CONCURRENCY_SQL = """
SELECT op, max(cnt) AS peak
FROM (
    SELECT op, sec, count(DISTINCT number) AS cnt
    FROM (
        SELECT event_type AS op,
               user_id AS number,
               unnest(generate_series(
                   start_sec,
                   least(greatest(start_sec + CAST(floor(value) AS INTEGER),
                                  start_sec), 86399)
               )) AS sec
        FROM (
            SELECT event_type, user_id, value,
                   (EXTRACT(hour FROM ts) * 3600
                    + EXTRACT(minute FROM ts) * 60
                    + EXTRACT(second FROM ts))::INTEGER AS start_sec
            FROM events
        )
    )
    GROUP BY op, sec
)
GROUP BY op
"""

"""Data-profiling and history-reconstruction operators.

Neither exists in the reference (its 4 workloads are token counts,
interval peaks, and a grouped HAVING — exampleCodes/*); both are staples
of a warehouse/training-data pipeline:

- ``table_profile``     — per-column quality metrics (row/null/distinct
  counts, min/max) for a whole table from ONE scan, the Deequ/Great-
  Expectations-style profiling report. The shape is stack-then-group:
  unpivot each row into (column, value) pairs so ONE aggregation tree
  profiles every column, instead of N per-column scans or a
  multi-countDistinct Expand plan.
- ``user_type_islands`` — gaps-and-islands: collapse each user's
  event stream into maximal runs of the same event_type with validity
  bounds — the SCD-type-2 history build (and the batch shape of
  "session-by-state-change"). The island id is the classic difference
  of two row_numbers over the SAME sort, so one exchange + one sort
  serves both.

Scale notes: ``table_profile``'s unpivot multiplies rows by the column
count, but the pairs aggregate partial→final with map-side combine, so
the shuffle carries at most |distinct values per column| rows — at
100 TB you'd profile column groups in one pass each rather than widen
the explode factor. ``user_type_islands`` shuffles events once on
``user_id``; the follow-up run-aggregate combines runs map-side because
rows of one run are contiguous within the partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table

# Profiled columns as TYPED (string_expr, numeric_expr) pairs per
# engine — a numeric column profiles through its DOUBLE value (min/max
# are numeric order, the production shape), a string/temporal column
# through an engine-identical canonical string (timestamps get an
# explicit second-precision format so neither engine appends fractional
# digits). Exactly one side of each pair is non-NULL, which is what
# lets one unpivoted aggregation tree carry both types without a
# sum-type column. (The r2–r6 form zero-padded everything into strings
# so lexicographic == numeric order; besides being a representational
# wart, lpad silently TRUNCATES once a key outgrows the pad width —
# advice r6 — corrupting min/max identically in both engines. The
# typed form has no width cliff: int keys are exact in a double
# through 2^53, far past any TPC-H scale, and doubles are compared
# natively.)
_NUM = "CAST({c} AS DOUBLE)"
_PROFILE_COLS: dict[str, dict[str, str | None]] = {
    "o_orderkey": {"spark_num": _NUM, "duck_num": _NUM},
    "o_custkey": {"spark_num": _NUM, "duck_num": _NUM},
    "o_orderstatus": {"spark_str": "{c}", "duck_str": "{c}"},
    "o_orderpriority": {"spark_str": "{c}", "duck_str": "{c}"},
    "o_orderdate": {
        "spark_str": "date_format({c}, 'yyyy-MM-dd HH:mm:ss')",
        "duck_str": "strftime({c}, '%Y-%m-%d %H:%M:%S')",
    },
    "o_totalprice": {"spark_num": _NUM, "duck_num": _NUM},
}


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(column_name, n_rows, n_nulls, n_distinct, min_numeric,
    max_numeric, min_string, max_string): one-scan TYPED profiling
    report over the orders table — numeric columns fill the numeric
    min/max (DOUBLE, NULL string side), string/temporal columns the
    string min/max (canonical form, NULL numeric side).

    The unpivot stacks each row into (column, value_str, value_num)
    pairs so ONE aggregation tree profiles every column; the distinct
    count is the two-level rewrite — groupBy (column, values) then
    (column) — so the plan is two plain hash aggregates, not the
    Expand plan Spark emits for countDistinct mixed with other
    aggregates. A cell is null iff both typed sides are null (each
    source column populates exactly one side).
    """
    orders = load_table(spark, sf_dir, "orders")
    pairs = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("column_name"),
                        F.expr(
                            spec.get("spark_str", "CAST(NULL AS STRING)").format(c=name)
                        ).alias("value_str"),
                        F.expr(
                            spec.get("spark_num", "CAST(NULL AS DOUBLE)").format(c=name)
                        ).alias("value_num"),
                    )
                    for name, spec in _PROFILE_COLS.items()
                ]
            )
        ).alias("p")
    ).select("p.column_name", "p.value_str", "p.value_num")
    per_value = pairs.groupBy("column_name", "value_str", "value_num").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    is_null = F.col("value_str").isNull() & F.col("value_num").isNull()
    return per_value.groupBy("column_name").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum(F.when(is_null, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_nulls"),
        F.count(F.when(~is_null, 1)).cast("long").alias("n_distinct"),
        F.min("value_num").alias("min_numeric"),
        F.max("value_num").alias("max_numeric"),
        F.min("value_str").alias("min_string"),
        F.max("value_str").alias("max_string"),
    )


def _table_profile_sql() -> str:
    arms = "\nUNION ALL\n".join(
        "SELECT '{n}' AS column_name, {s} AS value_str, {v} AS value_num"
        " FROM orders".format(
            n=name,
            s=spec.get("duck_str", "CAST(NULL AS VARCHAR)").format(c=name),
            v=spec.get("duck_num", "CAST(NULL AS DOUBLE)").format(c=name),
        )
        for name, spec in _PROFILE_COLS.items()
    )
    return f"""
WITH pairs AS (
{arms}
),
per_value AS (
    SELECT column_name, value_str, value_num, count(*) AS cnt
    FROM pairs GROUP BY 1, 2, 3
)
SELECT column_name,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN value_str IS NULL AND value_num IS NULL
                     THEN cnt ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(CASE WHEN value_str IS NOT NULL OR value_num IS NOT NULL
                       THEN 1 END) AS BIGINT) AS n_distinct,
       min(value_num) AS min_numeric,
       max(value_num) AS max_numeric,
       min(value_str) AS min_string,
       max(value_str) AS max_string
FROM per_value
GROUP BY column_name
"""


def user_type_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_type, valid_from, valid_to, n_events): maximal
    runs of consecutive same-type events per user — the SCD2 history
    build via gaps-and-islands.

    island = row_number over the user's full stream minus row_number
    within (user, type), ordered by (ts, event_id — the unique id makes
    equal-timestamp order deterministic). hash(user_id) satisfies BOTH
    windows' clustering (a subset of (user_id, event_type)), so the
    plan is ONE exchange with two in-partition sorts — no second
    shuffle. Runs are contiguous within a partition, so the closing
    aggregate combines map-side before its (tiny) exchange.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    order = [F.col("ts"), F.col("event_id")]
    w_all = Window.partitionBy("user_id").orderBy(*order)
    w_type = Window.partitionBy("user_id", "event_type").orderBy(*order)
    runs = ev.select(
        "user_id",
        "event_type",
        "ts",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias(
            "island"
        ),
    )
    return (
        runs.groupBy("user_id", "event_type", "island")
        .agg(
            F.min("ts").alias("valid_from"),
            F.max("ts").alias("valid_to"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .drop("island")
    )


USER_TYPE_ISLANDS_SQL = """
WITH runs AS (
    SELECT user_id, event_type, ts,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS island
    FROM events
)
SELECT user_id, event_type,
       min(ts) AS valid_from,
       max(ts) AS valid_to,
       CAST(count(*) AS BIGINT) AS n_events
FROM runs
GROUP BY user_id, event_type, island
"""


# PSI drift monitor: fixed deterministic bin domain + Laplace smoothing
PSI_SPLIT_TS = "2024-01-16"  # baseline = first half of the event range
PSI_BIN_WIDTH = 25
PSI_N_BINS = 20  # values 0..500 → buckets 0..19 (capped)
PSI_ALERT = 0.2  # the conventional "significant shift" threshold


def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: Population Stability Index of the value
    distribution, baseline (first half of the time range) vs current
    (second half) — the standard production drift monitor for feature
    and label distributions between two snapshots.

    PSI = Σ_bins (p_b − q_b)·ln(p_b/q_b) over a FIXED bin domain
    (20 × width-25 buckets, cap at the last bin) with Laplace smoothing
    (c+1)/(n+B), so empty bins are well-defined and the statistic is a
    deterministic function of integer counts — both engines compute the
    same rationals and differ only in ln() ulps, far below the 6-decimal
    rounding. Scale shape: one partial→final aggregate on the
    (type, period, bucket) key — at most |types|·2·B groups regardless
    of corpus size; the PSI fold then runs over that tiny table joined
    against the generated full bin domain (empty bins must contribute —
    a bucket present only in the baseline is exactly what drift means).
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.floor(F.col("value") / PSI_BIN_WIDTH), F.lit(PSI_N_BINS - 1)
    ).cast("long")
    period = F.when(
        F.col("ts") < F.lit(PSI_SPLIT_TS).cast("timestamp_ntz"), "base"
    ).otherwise("curr")
    counts = (
        ev.select(
            "event_type", period.alias("period"), bucket.alias("bucket")
        )
        .groupBy("event_type", "period", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # r15 optimization-round note: deriving this domain from `counts`
    # (to share its exchange) was tried and measured a NO-OP — Catalyst
    # prunes the aggregate back out of the domain branch
    # (RemoveRedundantAggregates), leaving the same 1-column pruned
    # scan either way, 11 exchanges before and after
    # (``git show ffa0b7b:plans/r15/value_drift_psi_before.txt``,
    # ``git show ffa0b7b:plans/r15/value_drift_psi_after.txt``)
    domain = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.expr(f"sequence(0, {PSI_N_BINS - 1})")).alias(
                "bucket"
            ),
        )
    )
    base = counts.filter(F.col("period") == "base").select(
        "event_type", "bucket", F.col("c").alias("cb")
    )
    curr = counts.filter(F.col("period") == "curr").select(
        "event_type", "bucket", F.col("c").alias("cc")
    )
    filled = (
        domain.join(base, ["event_type", "bucket"], "left")
        .join(curr, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce("cb", F.lit(0)).alias("cb"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        )
    )
    totals = filled.groupBy("event_type").agg(
        F.sum("cb").alias("nb"), F.sum("cc").alias("nc")
    )
    p = (F.col("cb") + 1) / (F.col("nb") + PSI_N_BINS)
    q = (F.col("cc") + 1) / (F.col("nc") + PSI_N_BINS)
    per_bin = filled.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "nb",
        "nc",
        ((p - q) * F.log(p / q)).alias("term"),
    )
    return per_bin.groupBy("event_type").agg(
        F.max("nb").cast("long").alias("n_base"),
        F.max("nc").cast("long").alias("n_curr"),
        F.round(F.sum("term"), 6).alias("psi"),
        (F.round(F.sum("term"), 6) > PSI_ALERT).alias("drifted"),
    )


VALUE_DRIFT_PSI_SQL = f"""
WITH counts AS (
    SELECT event_type,
           CASE WHEN ts < TIMESTAMP '{PSI_SPLIT_TS}' THEN 'base'
                ELSE 'curr' END AS period,
           least(CAST(floor(value / {PSI_BIN_WIDTH}) AS BIGINT),
                 {PSI_N_BINS - 1}) AS bucket,
           count(*) AS c
    FROM events
    GROUP BY 1, 2, 3
),
domain AS (
    SELECT event_type, unnest(range(0, {PSI_N_BINS})) AS bucket
    FROM (SELECT DISTINCT event_type FROM events)
),
filled AS (
    SELECT d.event_type, d.bucket,
           coalesce(b.c, 0) AS cb, coalesce(c.c, 0) AS cc
    FROM domain d
    LEFT JOIN (SELECT * FROM counts WHERE period = 'base') b
           ON b.event_type = d.event_type AND b.bucket = d.bucket
    LEFT JOIN (SELECT * FROM counts WHERE period = 'curr') c
           ON c.event_type = d.event_type AND c.bucket = d.bucket
),
tot AS (
    SELECT event_type, SUM(cb) AS nb, SUM(cc) AS nc
    FROM filled GROUP BY event_type
),
terms AS (
    SELECT f.event_type, t.nb, t.nc,
           ((f.cb + 1) / CAST(t.nb + {PSI_N_BINS} AS DOUBLE)
            - (f.cc + 1) / CAST(t.nc + {PSI_N_BINS} AS DOUBLE))
           * ln(((f.cb + 1) / CAST(t.nb + {PSI_N_BINS} AS DOUBLE))
                / ((f.cc + 1) / CAST(t.nc + {PSI_N_BINS} AS DOUBLE)))
               AS term
    FROM filled f JOIN tot t USING (event_type)
)
SELECT event_type,
       CAST(max(nb) AS BIGINT) AS n_base,
       CAST(max(nc) AS BIGINT) AS n_curr,
       ROUND(SUM(term), 6) AS psi,
       ROUND(SUM(term), 6) > {PSI_ALERT} AS drifted
FROM terms
GROUP BY event_type
"""


QUERIES: dict[str, Query] = {
    "value_drift_psi": Query(
        value_drift_psi,
        VALUE_DRIFT_PSI_SQL,
        "PSI drift monitor: baseline-vs-current value distribution per "
        "event_type over a fixed smoothed bin domain",
    ),
    "table_profile": Query(
        table_profile,
        _table_profile_sql(),
        "one-scan typed per-column profiling report (stack-then-group)",
    ),
    "user_type_islands": Query(
        user_type_islands,
        USER_TYPE_ISLANDS_SQL,
        "gaps-and-islands SCD2 run collapse over event streams",
    ),
}

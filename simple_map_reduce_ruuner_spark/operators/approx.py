"""Approximate and exact-distinct aggregates.

The reference computes exact distinct counts by materializing sets
(finding_peek_numbers/reducer.cpp:16) — fine at 86k keys, fatal at 100 TB.
The scale path is HyperLogLog (``approx_count_distinct``), which shuffles
fixed-size sketches instead of sets.

- exact_distinct_users  — exact countDistinct (oracle-checked anchor).
- approx_distinct_users — HLL twin. No DuckDB oracle: sketch internals
  differ across engines by design; tests assert relative error < 5%
  against the exact anchor instead (the driver records rows-only).
- value_percentiles     — exact interpolated percentiles (both engines
  implement the same type-7 linear interpolation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table


def exact_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


EXACT_DISTINCT_USERS_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch aggregation — constant memory per group at any scale."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx")
    )


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return ev.groupBy("event_type").agg(
        F.round(pct.getItem(0), 6).alias("p50"),
        F.round(pct.getItem(1), 6).alias("p90"),
        F.round(pct.getItem(2), 6).alias("p99"),
    )


VALUE_PERCENTILES_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna sketch percentiles — the 100 TB path.

    ``value_percentiles`` (exact ``F.percentile``) buffers every value per
    group in executor memory; this twin shuffles bounded GK sketches
    instead (state is O(1/accuracy), not O(rows)). No cross-engine oracle:
    DuckDB's approx_quantile is a t-digest with different error behavior,
    so tests assert relative error vs the exact anchor (<1% at
    accuracy=10000) and the driver records a rows-only check — same
    anchor+sketch pattern as exact/approx_distinct_users.
    """
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile_approx(
        "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(10000)
    )
    return ev.groupBy("event_type").agg(
        F.round(pct.getItem(0), 6).alias("p50"),
        F.round(pct.getItem(1), 6).alias("p90"),
        F.round(pct.getItem(2), 6).alias("p99"),
    )


def approx_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, hash-checkable bound report for the HLL sketch.

    The sketch value itself is engine-specific (no cross-engine oracle),
    but the CLAIM "Spark's HLL at rsd=0.02 lands within 5% of the exact
    count on this data" is deterministic: fixed input + fixed sketch
    implementation => fixed booleans. The oracle computes the exact side
    and asserts the bound holds (TRUE per group); a sketch drifting out
    of bound flips the boolean and fails the hash. Measured headroom:
    max relative error 0.008 across sf0.01/sf0.1/10x (APPROX_BOUNDS.json)
    vs the 0.05 bound.

    Reference parity: the reference materializes exact distinct sets
    (finding_peek_numbers/reducer.cpp:16); this reports how close the
    O(1)-memory scale path gets to that exact semantics.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("appx"),
    )
    within = F.abs(F.col("appx") - F.col("n_users_exact")) <= (
        0.05 * F.col("n_users_exact")
    )
    return agg.select(
        "event_type", "n_users_exact", within.alias("within_bound")
    )


APPROX_DISTINCT_BOUNDS_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users_exact,
       TRUE AS within_bound
FROM events GROUP BY event_type
"""


GK_ACCURACY = 10000
QUANTILE_POINTS = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]


def approx_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rank-space bound report for the GK percentile sketch.

    GK guarantees RANK error <= 1/accuracy, not value error, so the bound
    test is in rank space (mirrors tests/test_approx_and_stubs.py and
    APPROX_BOUNDS.json): the sketch's answer v for quantile q must satisfy
    cdf_left(v) - eps <= q <= cdf_right(v) + eps with
    eps = 1/accuracy + 2/n (the 2/n slack absorbs discrete-cdf edges).
    The 15-row sketch side is broadcast; the only shuffle is the per-group
    count aggregation — one pass over events at any scale.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    pct = F.percentile_approx(
        "value",
        F.array(*[F.lit(q) for _, q in QUANTILE_POINTS]),
        F.lit(GK_ACCURACY),
    )
    sketch = ev.groupBy("event_type").agg(pct.alias("vs"))
    points = sketch.select(
        "event_type",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(l) for l, _ in QUANTILE_POINTS]).alias("q"),
                F.array(*[F.lit(q) for _, q in QUANTILE_POINTS]).alias("qv"),
                F.col("vs").alias("v"),
            )
        ).alias("z"),
    ).select("event_type", "z.q", "z.qv", "z.v")
    agg = (
        ev.join(F.broadcast(points), "event_type")
        .groupBy("event_type", "q", "qv")
        .agg(
            F.count("value").alias("n_events"),
            F.sum((F.col("value") < F.col("v")).cast("long")).alias("lt"),
            F.sum((F.col("value") <= F.col("v")).cast("long")).alias("le"),
        )
    )
    n = F.col("n_events")
    eps = 1.0 / GK_ACCURACY + 2.0 / n
    within = (F.col("qv") >= F.col("lt") / n - eps) & (
        F.col("qv") <= F.col("le") / n + eps
    )
    return agg.select(
        "event_type", "q", "n_events", within.alias("within_bound")
    )


APPROX_PERCENTILE_BOUNDS_SQL = """
SELECT event_type, q, n_events, TRUE AS within_bound
FROM (SELECT event_type, count(value) AS n_events FROM events GROUP BY event_type)
CROSS JOIN (VALUES ('p50'), ('p90'), ('p99')) t(q)
"""


# Rows-only sketch queries are registered with oracle=None (the driver
# records a weaker rows-only check for them); their error bounds vs the
# exact anchors are asserted on every test run by
# tests/test_approx_and_stubs.py (APPROX_BOUNDS.json keeps the last
# measured errors at sf0.01 and sf0.1).
QUERIES: dict[str, Query] = {
    "exact_distinct_users": Query(
        exact_distinct_users, EXACT_DISTINCT_USERS_SQL, "exact distinct counts"
    ),
    "value_percentiles": Query(
        value_percentiles, VALUE_PERCENTILES_SQL, "exact interpolated percentiles"
    ),
    "approx_distinct_users": Query(
        approx_distinct_users,
        None,  # sketch internals are engine-specific; rows-only check
        "HyperLogLog distinct counts (scale path)",
    ),
    "approx_percentiles": Query(
        approx_percentiles,
        None,  # GK sketch vs t-digest: engine-specific; rows-only check
        "Greenwald-Khanna percentile sketch (scale path)",
    ),
    "approx_distinct_bounds": Query(
        approx_distinct_bounds,
        APPROX_DISTINCT_BOUNDS_SQL,
        "HLL sketch error-bound report (hash-checkable twin of the rows-only sketch)",
    ),
    "approx_percentile_bounds": Query(
        approx_percentile_bounds,
        APPROX_PERCENTILE_BOUNDS_SQL,
        "GK sketch rank-error-bound report (hash-checkable twin of the rows-only sketch)",
    ),
}


# --------------------------------------------------------------------------
# Deterministic sketch structures with EXACT oracles: count-min + bloom.
# Unlike HLL/GK (engine-internal sketches, rows-only), these are built
# from the repo's own portable hash family, so the ORACLE can replay the
# sketch bit-for-bit — the sketch itself is the hash-checked output.
# --------------------------------------------------------------------------

CMS_DEPTH = 4  # hash rows (minhash_perm 0..3)
CMS_WIDTH = 256  # counters per row
BLOOM_BITS = 4096
BLOOM_HASHES = 3


def countmin_sketch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the document
    token stream, with its overestimate property CHECKED against exact
    counts for the heavy hitters: one row per heavy token with the
    exact count, the CMS estimate (min over CMS_DEPTH rows of the
    counter each row hashes the token into), and the exact overshoot.

    The sketch is deterministic — counters are sums over the portable
    minhash_perm hash family — so DuckDB replays it exactly: this is
    the sketch-family pattern where the ORACLE can hash-check the
    sketch itself (HLL/GK get bounded-error twins instead). Scale
    shape: the counter table is a (row, col) aggregate bounded by
    CMS_DEPTH x CMS_WIDTH regardless of corpus size; estimates join
    the heavy-hitter tokens (broadcast-small) against it.
    """
    from simple_map_reduce_ruuner_spark.functions.hashing import (
        hash60,
        minhash_perm,
    )
    from simple_map_reduce_ruuner_spark.functions.text import explode_tokens
    from simple_map_reduce_ruuner_spark.operators.mixing import HH_K
    from simple_map_reduce_ruuner_spark.sources.tables import spread_scan

    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    toks = explode_tokens(docs).select(
        "token", hash60(F.col("token")).alias("h")
    )
    # ONE corpus tokenization: cells/total/heavy all derive from the
    # (token, exact) aggregate, whose shuffle Spark reuses across the
    # three consumers (ReusedExchange) — the first form re-exploded the
    # corpus three times (review-found). Counter cells weight each
    # token's (row, col) pair by its exact count: identical sums.
    counts = toks.groupBy("token", "h").agg(F.count(F.lit(1)).alias("exact"))
    cells = (
        counts.select(
            "exact",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("row"),
                            (minhash_perm(F.col("h"), r) % CMS_WIDTH).alias(
                                "col"
                            ),
                        )
                        for r in range(CMS_DEPTH)
                    ]
                )
            ).alias("rc"),
        )
        .groupBy(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .agg(F.sum("exact").alias("cnt"))
    )
    total = counts.select(F.sum("exact").alias("total"))
    heavy = counts.join(F.broadcast(total)).filter(
        F.col("exact") * HH_K > F.col("total")
    )
    probes = heavy.select(
        "token",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        (minhash_perm(F.col("h"), r) % CMS_WIDTH).alias("col"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("rc"),
    ).select("token", "exact", F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
    est = (
        probes.join(cells, ["row", "col"])
        .groupBy("token", "exact")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "token",
        F.col("exact").cast("long").alias("exact"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("exact"))
        .cast("long")
        .alias("overshoot"),
    )


def _countmin_sql() -> str:
    from simple_map_reduce_ruuner_spark.functions.hashing import (
        hash60_sql,
        minhash_perm_sql,
    )
    from simple_map_reduce_ruuner_spark.functions.text import TOKS_SQL
    from simple_map_reduce_ruuner_spark.operators.mixing import HH_K

    h = hash60_sql("token")
    rc_rows = " UNION ALL ".join(
        f"SELECT token, {r} AS row, ({minhash_perm_sql(h, r)}) % {CMS_WIDTH} AS col FROM toks"
        for r in range(CMS_DEPTH)
    )
    return f"""
WITH toks AS (
    SELECT unnest({TOKS_SQL}) AS token FROM documents
),
rc AS ({rc_rows}),
cells AS (
    SELECT row, col, count(*) AS cnt FROM rc GROUP BY 1, 2
),
counts AS (
    SELECT token, count(*) AS exact FROM toks GROUP BY token
),
total AS (SELECT count(*) AS total FROM toks),
heavy AS (
    SELECT token, exact FROM counts, total WHERE exact * {HH_K} > total
),
probes AS (
    SELECT h.token, h.exact, {0} AS row,
           ({minhash_perm_sql(hash60_sql("h.token"), 0)}) % {CMS_WIDTH} AS col
    FROM heavy h
    {"".join(f" UNION ALL SELECT h.token, h.exact, {r}, ({minhash_perm_sql(hash60_sql('h.token'), r)}) % {CMS_WIDTH} FROM heavy h" for r in range(1, CMS_DEPTH))}
)
SELECT p.token,
       CAST(p.exact AS BIGINT) AS exact,
       CAST(min(c.cnt) AS BIGINT) AS cms_estimate,
       CAST(min(c.cnt) - p.exact AS BIGINT) AS overshoot
FROM probes p JOIN cells c ON c.row = p.row AND c.col = p.col
GROUP BY p.token, p.exact
"""


COUNTMIN_SKETCH_TOKENS_SQL = _countmin_sql()


def bloom_index_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bloom-filter sizing report: distinct token hashes
    (hash-distinct, not string-distinct — see n_token_hashes), bits set
    in a BLOOM_BITS/BLOOM_HASHES filter built from the portable hash
    family, fill ratio and predicted false-positive rate in ppm —
    the numbers a 100 TB deployment uses to size per-partition bloom
    indexes for scan pruning (and the deterministic twin of the AQE
    runtime bloom join, which cut probe-side shuffle records 129× at
    20× sf0.1; ``git show ffa0b7b:BLOOM_FILTER_r13.json``).

    Exact-oracle sketch, same pattern as the count-min: bits_set is a
    COUNT DISTINCT over (hash_i(token) % BLOOM_BITS), fully replayable;
    fpr is the standard (bits_set/m)^k computed from exact integers
    with one rounded double per row.
    """
    from simple_map_reduce_ruuner_spark.functions.hashing import (
        hash60,
        minhash_perm,
    )
    from simple_map_reduce_ruuner_spark.functions.text import explode_tokens
    from simple_map_reduce_ruuner_spark.sources.tables import spread_scan

    import functools
    import operator

    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    # ONE corpus tokenization: both consumers derive from the distinct
    # (source, h) aggregate, whose shuffle Spark reuses
    # (ReusedExchange) — duplicate tokens can't add bits anyway
    uniq = (
        explode_tokens(docs, keep=("source",))
        .select("source", hash60(F.col("token")).alias("h"))
        .distinct()
    )
    bits = uniq.select(
        "source",
        F.explode(
            F.array(
                *[
                    (minhash_perm(F.col("h"), r) % BLOOM_BITS)
                    for r in range(BLOOM_HASHES)
                ]
            )
        ).alias("bit"),
    )
    per_source = bits.groupBy("source").agg(
        F.countDistinct("bit").alias("bits_set")
    )
    # "token hashes", not tokens: the count is distinct over the 60-bit
    # portable hash, so a (vanishingly rare) hash collision undercounts
    # by one — the same semantics the filter itself sees (the old
    # n_tokens name overstated what is measured)
    distinct_tokens = uniq.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_token_hashes")
    )
    fill = F.col("bits_set").cast("double") / F.lit(float(BLOOM_BITS))
    # fill^k via explicit left-assoc multiplies DERIVED FROM the
    # constant, NOT pow(): Java Math.pow and C libm may differ in the
    # last ulp, and a hardcoded x*x*x would silently desync from a
    # future BLOOM_HASHES edit (review-found)
    fpr = functools.reduce(operator.mul, [fill] * BLOOM_HASHES)
    return (
        distinct_tokens.join(per_source, "source")
        .select(
            "source",
            F.col("n_token_hashes").cast("long").alias("n_token_hashes"),
            F.col("bits_set").cast("long").alias("bits_set"),
            F.round(fill * 1e6).cast("long").alias("fill_ppm"),
            F.round(fpr * 1e6).cast("long").alias("fpr_ppm"),
        )
    )


def _bloom_sql() -> str:
    from simple_map_reduce_ruuner_spark.functions.hashing import (
        hash60_sql,
        minhash_perm_sql,
    )
    from simple_map_reduce_ruuner_spark.functions.text import TOKS_SQL

    h = hash60_sql("token")
    bit_rows = " UNION ALL ".join(
        f"SELECT source, ({minhash_perm_sql(h, r)}) % {BLOOM_BITS} AS bit FROM toks"
        for r in range(BLOOM_HASHES)
    )
    return f"""
WITH toks AS (
    SELECT source, unnest({TOKS_SQL}) AS token FROM documents
),
bits AS ({bit_rows}),
per_source AS (
    SELECT source, count(DISTINCT bit) AS bits_set FROM bits GROUP BY source
),
dt AS (
    SELECT source, count(DISTINCT {h}) AS n_token_hashes
    FROM toks GROUP BY source
)
SELECT d.source,
       CAST(d.n_token_hashes AS BIGINT) AS n_token_hashes,
       CAST(p.bits_set AS BIGINT) AS bits_set,
       CAST(ROUND(CAST(p.bits_set AS DOUBLE) / {float(BLOOM_BITS)} * 1e6)
            AS BIGINT) AS fill_ppm,
       CAST(ROUND({" * ".join([f"(CAST(p.bits_set AS DOUBLE) / {float(BLOOM_BITS)})"] * BLOOM_HASHES)}
                  * 1e6) AS BIGINT) AS fpr_ppm
FROM dt d JOIN per_source p USING (source)
"""


BLOOM_INDEX_PLAN_SQL = _bloom_sql()

QUERIES["countmin_sketch_tokens"] = Query(
    countmin_sketch_tokens,
    COUNTMIN_SKETCH_TOKENS_SQL,
    "deterministic count-min sketch over tokens, overestimate checked "
    "exactly for heavy hitters (oracle replays the sketch)",
)
QUERIES["bloom_index_plan"] = Query(
    bloom_index_plan,
    BLOOM_INDEX_PLAN_SQL,
    "per-source bloom sizing: bits set + exact-integer fill/FPR ppm "
    "from the portable hash family",
)

"""Spark 4 SQL-surface operators: the VARIANT semi-structured type and
recursive CTEs.

Neither exists in the reference (its only "semi-structured" handling is
user-code string splitting — exampleCodes/*/mapper.*), and both are
recent additions to the public Spark SQL surface that a 100 TB pipeline
wants:

- ``props_variant_bins`` — parses the ``events.props`` JSON column into
  a VARIANT once and histograms ``$.k``. VARIANT is the right
  semi-structured representation at scale: parse once at ingest, then
  typed ``variant_get`` access without re-parsing strings per
  expression (the ``get_json_object`` twin ``props_json_stats`` in
  relational4.py re-parses per call site).
- ``part_hierarchy_rollup`` — ``WITH RECURSIVE`` hierarchy traversal:
  every part walks its ancestor chain in the decimal-digit tree
  (parent = key div 10, a 5-7 level hierarchy over real keys) to its
  single-digit root. Spark 4.1 recursion supports UNION ALL only
  (UNION-distinct fixpoints — e.g. transitive closure over the CYCLIC
  near-dup graph — raise UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, which
  is why ``dedup.neardup_clusters`` keeps its iterative
  min-label-propagation loop as the closure path). Tree walks are the
  recursion shape UNION ALL handles exactly: unique paths, no
  re-visits, depth bounded by the hierarchy. The SQL string is
  dialect-shared — the SAME text runs on Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table, session_cache

K_BIN_WIDTH = 10


def props_variant_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, k_bin, n_events, min_k, max_k): histogram of the
    variant-extracted ``$.k`` field in K_BIN_WIDTH-wide bins.

    ``parse_json`` produces a VARIANT value; ``variant_get`` reads a
    typed path out of the binary-encoded variant without string
    re-parsing. Missing/unparseable keys land in a NULL bin, preserved
    (count them rather than silently dropping — curation needs the
    missing-rate). One partial→final hash aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy(
            "event_type",
            F.when(
                F.col("k").isNotNull(), F.col("k") - (F.col("k") % K_BIN_WIDTH)
            ).alias("k_bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


PROPS_VARIANT_BINS_SQL = f"""
WITH ex AS (
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
)
SELECT event_type,
       CASE WHEN k IS NOT NULL THEN k - (k % {K_BIN_WIDTH}) END AS k_bin,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM ex
GROUP BY 1, 2
"""


# Shared dialect-portable recursion: anchor every part at itself, follow
# parent = floor(node/10) until the single-digit root; one row per
# (part, ancestor). Depth ≤ digits(key) — terminates without UNION
# distinct; floor()/CAST behave identically on Spark and DuckDB.
PART_HIERARCHY_ROLLUP_SQL = """
WITH RECURSIVE walk(p_partkey, node, depth) AS (
    SELECT p_partkey, p_partkey, 0 FROM part
    UNION ALL
    SELECT w.p_partkey, CAST(floor(w.node / 10) AS BIGINT), w.depth + 1
    FROM walk w
    WHERE w.node >= 10
)
SELECT p_partkey,
       CAST(min(node) AS BIGINT) AS root,
       CAST(max(depth) AS BIGINT) AS depth
FROM walk
GROUP BY p_partkey
"""


def part_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p_partkey, root, depth): each part's single-digit root ancestor
    and chain length in the decimal-digit hierarchy (parent = key div
    10) — the BOM/org-chart traversal shape as one recursive query.

    min(node) over the walk is the last (smallest, single-digit) node on
    the strictly-decreasing ancestor chain; max(depth) is its length.
    Runs the SAME SQL text on Spark (view registered here) and DuckDB
    (driver-registered ``part`` view). UNION ALL recursion is exact on
    trees: every (part, ancestor) path is unique, so no fixpoint dedup
    is needed and the recursion depth is digits(maxkey) ≤ 19 for any
    int64 key. The recursion ROW budget, however, is |part| × depth —
    Spark 4 caps it at 10⁶ rows by default, which the 10× scale sweep
    tripped (RECURSION_ROW_LIMIT_EXCEEDED at 200 k parts × 10 digits),
    so the cap is sized from the parquet footer before running.
    """
    _size_recursion_row_limit(spark, sf_dir)
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(PART_HIERARCHY_ROLLUP_SQL)


# (baseline, value-we-last-set) per Spark application id. The bound
# below is computed against the BASELINE (the value that was configured
# before our last set), not the live conf value: max(current, …) would
# ratchet monotonically across calls/sf_dirs and permanently weaken the
# runaway-recursion guard for every other recursive query in the
# session (review-found). If the live value differs from what we last
# set, the user changed it — that becomes the new baseline, so an
# externally raised limit is still never lowered.
_RECURSION_LIMIT_STATE: dict[str, tuple[int, int]] = {}


def _size_recursion_row_limit(spark: SparkSession, sf_dir: str) -> None:
    """Set ``spark.sql.cteRecursionRowLimit`` to the digit-walk's true
    upper bound for THIS input, |part| × 20 (19 int64 digits + the
    anchor row), read from parquet FOOTER metadata — zero Spark jobs,
    same mechanism as the dedup anchor guards. The default 10⁶ cap is a
    runaway-recursion guard, and a tree walk bounded a priori deserves
    a bound, not the default: at 10× sf0.1 the walk legitimately
    produces ~2×10⁶ rows (200k parts tripped the 10⁶ default,
    ``git show 81f98e6:SCALE_CURVE_r08.json``). Never lowers
    a USER-configured value; our own earlier raises do not ratchet (a
    later small-sf call sizes the cap back down). Set-then-restore is
    not an option because the conf is read when the returned DataFrame
    executes, after this call returns."""
    import os as _os

    from simple_map_reduce_ruuner_spark.operators.dedup import (
        _parquet_row_count,
    )

    n_parts = _parquet_row_count(_os.path.join(sf_dir, "part.parquet"))
    key = "spark.sql.cteRecursionRowLimit"
    app = spark.sparkContext.applicationId
    current = int(spark.conf.get(key, "1000000"))
    state = _RECURSION_LIMIT_STATE.get(app)
    baseline = state[0] if state and current == state[1] else current
    value = max(baseline, n_parts * 20)
    spark.conf.set(key, str(value))
    _RECURSION_LIMIT_STATE[app] = (baseline, value)


# --------------------------------------------------------------------------
# Spark 4 SQL scripting (BEGIN ... END, DECLARE, WHILE): control flow
# executed inside the SQL layer, each iteration a full distributed
# query. The reference's only "control flow" is the master's Java loop
# over chunks (Master.java:212-224) — scripting is the declarative
# replacement for that kind of driver-side orchestration.
# --------------------------------------------------------------------------

# Threshold search start (a power of two) and the target population.
SCRIPT_T0_EXP = 12  # start at 2^12 = 4096
SCRIPT_MAX_RICH = 100


def script_rich_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 row (threshold, n_rich): the smallest power-of-two spend
    threshold (starting at 2^SCRIPT_T0_EXP) that at most
    SCRIPT_MAX_RICH customers exceed — found by an iterative doubling
    loop written in Spark 4 SQL scripting. Every WHILE probe is a full
    distributed aggregate; the script is the declarative form of the
    driver-side orchestration loops the reference hand-rolls in Java.

    The oracle has no scripting — it states the loop's FIXPOINT in
    closed form instead (the minimal qualifying power over a generated
    series), which doubles as an independent check that the iteration
    terminates at the right bound. Exactness: customer totals sum in
    DECIMAL (dsum discipline) and compare against integer powers of
    two — no rounding anywhere.

    The per-customer totals aggregate ONCE (store entry
    "script_totals", a lazy checkpoint the script's first probe
    writes); each WHILE probe then scans |customer| materialized
    rows instead of re-aggregating the fact table — the loop cost is
    O(log range × |customer|), fact-scan-free (a first cut re-ran the
    orders aggregate per probe: ~0.5 s × probes at sf0.1).

    Seeded start (r15 optimization round): the loop's answer is the
    smallest power-of-two t ≥ max(2^T0, s) where s is the
    ({SCRIPT_MAX_RICH}+1)-th largest total (count(total > t) ≤ K ⇔
    t ≥ s, counting strict exceedances). One top-(K+1) SELECT
    computes s, and the start value is the largest power of two ≤ s
    (exactly, via bit length: ``shiftleft(1, length(bin(s)) - 1)`` —
    no float log2, so power-of-two boundaries cannot round wrong),
    floored at 2^T0. That start is provably ≤ the fixpoint and in the
    same doubling sequence, so the WHILE loop — still the declared
    surface, and still the correctness gate on the seed — exits after
    1–2 probes instead of the ~12 it took at sf0.1 (measured
    2.39 → 0.83 s; result pair identical; oracle unchanged — its
    closed form independently pins the same fixpoint).
    """
    totals = session_cache(
        spark,
        sf_dir,
        "script_totals",
        lambda: load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,6)")).alias("total")),
    )
    totals.createOrReplaceTempView("smrr_script_totals")
    return spark.sql(f"""
    BEGIN
      DECLARE s BIGINT DEFAULT 0;
      DECLARE t BIGINT DEFAULT {2 ** SCRIPT_T0_EXP};
      DECLARE n BIGINT DEFAULT 0;
      SET s = (SELECT coalesce(CAST(floor(max(total)) AS BIGINT), 0)
               FROM (SELECT total FROM smrr_script_totals
                     ORDER BY total DESC LIMIT 1 OFFSET {SCRIPT_MAX_RICH}));
      SET t = greatest({2 ** SCRIPT_T0_EXP},
                       CASE WHEN s > 0
                            THEN shiftleft(1L, length(bin(s)) - 1)
                            ELSE 1L END);
      SET n = (SELECT count(*) FROM smrr_script_totals WHERE total > t);
      WHILE n > {SCRIPT_MAX_RICH} DO
        SET t = t * 2;
        SET n = (SELECT count(*) FROM smrr_script_totals WHERE total > t);
      END WHILE;
      SELECT t AS threshold, n AS n_rich;
    END
    """)


SCRIPT_RICH_THRESHOLD_SQL = f"""
WITH totals AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS total
    FROM orders GROUP BY o_custkey
), powers AS (
    SELECT CAST(power(2, k) AS BIGINT) AS t
    FROM generate_series({SCRIPT_T0_EXP}, 50) s(k)
), counted AS (
    SELECT t, (SELECT count(*) FROM totals WHERE total > t) AS n_rich
    FROM powers
)
SELECT CAST(t AS BIGINT) AS threshold, CAST(n_rich AS BIGINT) AS n_rich
FROM counted
WHERE n_rich <= {SCRIPT_MAX_RICH}
ORDER BY t
LIMIT 1
"""


PART_TREE_REVENUE_SQL = """
WITH RECURSIVE rev AS (
    SELECT l_partkey AS node0,
           SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS r
    FROM lineitem GROUP BY 1
), walk(node, r) AS (
    SELECT node0, r FROM rev
    UNION ALL
    SELECT CAST(floor(w.node / 10) AS BIGINT), w.r
    FROM walk w
    WHERE w.node >= 10
)
SELECT CAST(node AS BIGINT) AS node,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(ROUND(SUM(r), 2) AS DOUBLE) AS subtree_revenue
FROM walk
GROUP BY node
"""


def part_tree_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, n_parts, subtree_revenue): revenue accumulated up the
    decimal-digit part hierarchy — every node's total over its whole
    subtree, the hierarchical-aggregation (BOM cost rollup) shape that
    ``part_hierarchy_rollup`` only walks structurally.

    One recursive query, SAME SQL text on both engines: leaf revenues
    aggregate once from the fact (exact DECIMAL sums), then each
    (leaf, revenue) row climbs its ancestor chain via UNION ALL
    recursion (unique paths on a tree — no fixpoint dedup needed,
    depth = digits(maxkey) ≈ 6) and the final GROUP BY folds each
    node's subtree. Money follows the engine-wide round-the-decimal-
    then-cast discipline. Scale: the recursion multiplies the |part|-
    bounded aggregate by tree depth, never the fact table — but that
    product still outgrows Spark 4's default 10⁶ recursion-row cap
    (see :func:`_size_recursion_row_limit`), so the cap is sized from
    the part footer here too (distinct l_partkey ≤ |part|).
    """
    _size_recursion_row_limit(spark, sf_dir)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(PART_TREE_REVENUE_SQL)


QUERIES: dict[str, Query] = {
    "part_tree_revenue": Query(
        part_tree_revenue,
        PART_TREE_REVENUE_SQL,
        "hierarchical revenue rollup via recursive CTE (dialect-shared SQL)",
    ),
    "script_rich_threshold": Query(
        script_rich_threshold,
        SCRIPT_RICH_THRESHOLD_SQL,
        "SQL-scripting WHILE loop: iterative threshold search, closed-form oracle",
    ),
    "props_variant_bins": Query(
        props_variant_bins,
        PROPS_VARIANT_BINS_SQL,
        "VARIANT semi-structured access: parse once, typed variant_get",
    ),
    "part_hierarchy_rollup": Query(
        part_hierarchy_rollup,
        PART_HIERARCHY_ROLLUP_SQL,
        "WITH RECURSIVE hierarchy walk (dialect-shared SQL text)",
    ),
}

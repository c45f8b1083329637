"""Rank statistics over customer spend: Spearman rank correlation and
the Gini concentration coefficient — the order-statistics complement to
``relational4.stats_moments`` (which covers the moment family:
stddev/covar/Pearson from exact decimal power sums). The reference has
no statistics surface at all; these are the one-pass distributional
reports an analytics deployment runs on every snapshot.

Exactness design (same discipline as stats_moments): every sum is an
exact integer — money flows as BIGINT cents, ranks are row_numbers with
a total tie-break order (value, then customer key) — and each statistic
performs exactly ONE floating-point division at the very end
(Spearman: IEEE double of exact operands; Gini: truncating DECIMAL
division emitted in parts-per-million), so both engines agree
bit-for-bit. All derived products (6Σd², n(n²−1), 2Σi·x, nΣx) widen to
DECIMAL(38,0) BEFORE arithmetic — n(n²−1) alone overflows int64 at
n ≈ 2.1e6 customers, and the DuckDB oracle's HUGEINT sums would keep
going where a late-cast Spark side crashed (review-found). Degenerate
inputs yield NULL, not errors or NaN: a single customer nullifies
Spearman's denominator (DuckDB's double division by zero is NULL, so
Spark nullifs to match) and zero total spend nullifies Gini's.

Scale shape: both queries aggregate the fact table ONCE on the customer
key, then rank the POST-AGGREGATE (|customer| rows). The ranking window
has a global ORDER BY — a deliberate single-partition step over the
dimension-sized result, fine to ~10⁷ rows; for a customer dimension
beyond that, replace it with the range-partitioned rank used by
``timeseries.session_overlap_counts`` (per-bucket row_number + broadcast
prefix offsets), which computes the identical rank in O(rows/bucket)
partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table

PPM = 1_000_000


def _customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_custkey, spend_cents, n_orders): exact integer spend totals."""
    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    return orders.groupBy("o_custkey").agg(
        F.sum(cents).alias("spend_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def spearman_spend_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 row (n_customers, sum_d2, spearman_rho): Spearman rank
    correlation between how much a customer spends and how often they
    order. ρ = 1 − 6Σd²/(n(n²−1)) with d the rank difference; both
    rankings are row_numbers with (value desc, custkey) total orders,
    so there are no fractional tie ranks and every intermediate is an
    exact int64 — the single division is IEEE-identical across engines.
    The exact (n, Σd²) pair is emitted alongside ρ for auditability.

    KNOWN BIAS (documented, accepted): textbook Spearman assigns tied
    values their AVERAGE (fractional) rank; this variant breaks ties by
    the SAME o_custkey order on both rankings, so tied blocks contribute
    d=0 where average-rank Spearman would too — but the tie-broken ranks
    also align non-tied neighbors more often than random, which inflates
    ρ toward +1 when n_orders is heavily tied (small discrete counts).
    The deterministic tie-break is what makes the statistic exactly
    reproducible across engines; treat ρ as the "identically tie-broken"
    variant, not textbook Spearman — that form is implemented alongside
    as :func:`spearman_avg_rank` (average fractional tie ranks via
    2×-scaled integer ranks), and this variant is kept because the
    oracle-parity contract pins its definition.
    """
    return spearman_of(_customer_spend(spark, sf_dir))


def spearman_of(per_cust: DataFrame) -> DataFrame:
    """Core of :func:`spearman_spend_orders` over a (o_custkey,
    spend_cents, n_orders) frame (property-tested on generated tables)."""
    rs = F.row_number().over(
        Window.orderBy(F.col("spend_cents").desc(), "o_custkey")
    )
    ro = F.row_number().over(
        Window.orderBy(F.col("n_orders").desc(), "o_custkey")
    )
    ranked = per_cust.select(
        (rs.cast("long") - ro.cast("long")).alias("d")
    )
    # numerator and denominator widen to DECIMAL(38,0) BEFORE any
    # arithmetic: n(n²−1) overflows int64 at n ≈ 2.1e6 customers and 6Σd²
    # soon after, and the n=1 denominator of 0 must yield NULL (nullif),
    # matching DuckDB's NULL-on-zero double division rather than NaN.
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("d") * F.col("d")).alias("sum_d2"),
    ).select(
        "n_customers",
        "sum_d2",
        F.expr(
            "1.0D - CAST(CAST(sum_d2 AS DECIMAL(38,0)) * 6 AS DOUBLE)"
            " / CAST(nullif(CAST(n_customers AS DECIMAL(38,0))"
            "   * n_customers * n_customers"
            "   - n_customers, 0) AS DOUBLE)"
        ).alias("spearman_rho"),
    )


SPEARMAN_SPEND_ORDERS_SQL = """
WITH per_cust AS (
    SELECT o_custkey,
           sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
               AS spend_cents,
           count(*) AS n_orders
    FROM orders GROUP BY o_custkey
), ranked AS (
    SELECT CAST(row_number() OVER (ORDER BY spend_cents DESC, o_custkey)
                AS BIGINT)
         - CAST(row_number() OVER (ORDER BY n_orders DESC, o_custkey)
                AS BIGINT) AS d
    FROM per_cust
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(d * d) AS BIGINT) AS sum_d2,
       1.0 - CAST(CAST(sum(d * d) AS HUGEINT) * 6 AS DOUBLE)
           / CAST(nullif(CAST(count(*) AS HUGEINT) * count(*) * count(*)
                         - count(*), 0) AS DOUBLE)
           AS spearman_rho
FROM ranked
"""


def spearman_avg_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 row (n_customers, cov_term, varx_term, vary_term, spearman_rho):
    TEXTBOOK Spearman rank correlation between customer spend and order
    count — tied values receive their AVERAGE (fractional) rank, and ρ
    is the Pearson correlation of the two rank variables (the definition
    that stays exact under ties; it reduces to 1 − 6Σd²/(n(n²−1)) only
    when both rankings are tie-free). Complements
    :func:`spearman_spend_orders`, whose deterministic row_number
    tie-break inflates ρ on heavily-tied inputs (documented bias there).

    Exactness (the stats_moments discipline): the average rank
    r + (c−1)/2 of a tied block (min rank r, c ties) is held as the
    INTEGER 2r + c − 1 — 2×-scaled, so no fractional rank ever exists —
    and Pearson is scale-invariant, so the scaling cancels. All power
    sums run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): nΣx² and
    (Σx)² reach ~4e28 at n = 10⁷ customers, far past int64. The single
    floating step is the final num/sqrt(vx·vy), written IDENTICALLY in
    both engines (one double multiply under one sqrt, then one divide —
    sqrt(vx)*sqrt(vy) would round differently). Degenerate inputs
    (n ≤ 1, or a constant column ⇒ zero variance) yield NULL via
    nullif, matching both engines. The exact terms are emitted as
    deterministic DOUBLE casts for auditability.

    Scale shape: identical to :func:`spearman_of` — one fact-table
    aggregate, then globally-ordered windows over the POST-aggregate
    (|customer| rows); the tie-count windows (PARTITION BY value) ride
    additional dimension-sized exchanges. See the module docstring for
    the range-partitioned rank replacement beyond ~10⁷ rows.
    """
    return spearman_avg_rank_of(_customer_spend(spark, sf_dir))


def spearman_avg_rank_of(per_cust: DataFrame) -> DataFrame:
    """Core of :func:`spearman_avg_rank` over a (o_custkey, spend_cents,
    n_orders) frame (property-tested against scipy-free references on
    generated tables, including all-tied and n=1 degenerates)."""

    def two_x_avg_rank(value: str):
        # 2·(avg tied rank) = 2·rank + ties − 1, an exact integer.
        return (
            F.rank().over(Window.orderBy(F.col(value))).cast("long") * 2
            + F.count(F.lit(1))
            .over(Window.partitionBy(F.col(value)))
            .cast("long")
            - 1
        )

    ranked = per_cust.select(
        two_x_avg_rank("spend_cents").alias("x2"),
        two_x_avg_rank("n_orders").alias("y2"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d("x2")).alias("sx"),
        F.sum(d("y2")).alias("sy"),
        F.sum(d("x2") * F.col("x2")).alias("sxx"),
        F.sum(d("y2") * F.col("y2")).alias("syy"),
        F.sum(d("x2") * F.col("y2")).alias("sxy"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_customers"),
        F.expr("CAST(n * sxy - sx * sy AS DOUBLE)").alias("cov_term"),
        F.expr("CAST(n * sxx - sx * sx AS DOUBLE)").alias("varx_term"),
        F.expr("CAST(n * syy - sy * sy AS DOUBLE)").alias("vary_term"),
        F.expr(
            "CAST(n * sxy - sx * sy AS DOUBLE)"
            " / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
            "               * CAST(n * syy - sy * sy AS DOUBLE)), 0.0D)"
        ).alias("spearman_rho"),
    )


SPEARMAN_AVG_RANK_SQL = """
WITH per_cust AS (
    SELECT o_custkey,
           sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
               AS spend_cents,
           count(*) AS n_orders
    FROM orders GROUP BY o_custkey
), ranked AS (
    SELECT CAST(2 * rank() OVER (ORDER BY spend_cents)
                + count(*) OVER (PARTITION BY spend_cents) - 1
                AS BIGINT) AS x2,
           CAST(2 * rank() OVER (ORDER BY n_orders)
                + count(*) OVER (PARTITION BY n_orders) - 1
                AS BIGINT) AS y2
    FROM per_cust
), sums AS (
    SELECT CAST(count(*) AS HUGEINT) AS n,
           CAST(sum(x2) AS HUGEINT) AS sx,
           CAST(sum(y2) AS HUGEINT) AS sy,
           CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS sxx,
           CAST(sum(CAST(y2 AS HUGEINT) * y2) AS HUGEINT) AS syy,
           CAST(sum(CAST(x2 AS HUGEINT) * y2) AS HUGEINT) AS sxy
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(n * sxy - sx * sy AS DOUBLE) AS cov_term,
       CAST(n * sxx - sx * sx AS DOUBLE) AS varx_term,
       CAST(n * syy - sy * sy AS DOUBLE) AS vary_term,
       CAST(n * sxy - sx * sy AS DOUBLE)
           / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE)), 0.0)
           AS spearman_rho
FROM sums
"""


def gini_spend_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 row (n_customers, total_cents, gini_ppm): Gini coefficient of
    customer spend concentration, in exact parts-per-million.
    G = (2Σi·xᵢ − (n+1)Σx) / (nΣx) over spend sorted ascending (ties
    by customer key); the numerator ×10⁶ runs in DECIMAL(38,0) (it
    overflows int64 once Σi·x passes ~9e18) and the single truncating
    division (Spark ``div`` ≡ DuckDB ``//``) lands back in BIGINT.
    """
    return gini_of(_customer_spend(spark, sf_dir))


def gini_of(per_cust: DataFrame) -> DataFrame:
    """Core of :func:`gini_spend_ppm` over a (o_custkey, spend_cents)
    frame. Concentration is undefined over zero total spend — the
    divisor is NULLed rather than crashing (hypothesis-found ANSI
    DIVIDE_BY_ZERO on an all-zero-spend snapshot), so such inputs
    report gini_ppm = NULL."""
    i = F.row_number().over(
        Window.orderBy(F.col("spend_cents").asc(), "o_custkey")
    )
    # rank-weighted products and their sums widen to DECIMAL(38,0)
    # BEFORE arithmetic — i·x already clears int64 around 3e5
    # sf0.1-sized customers, and 2·Σi·x / n·Σx soon after; the DuckDB
    # oracle computes in HUGEINT throughout (sum(BIGINT) is HUGEINT
    # there), so int64 anywhere on the Spark side would crash where the
    # oracle succeeds (review-found).
    terms = per_cust.select(
        F.col("spend_cents").cast("decimal(38,0)").alias("sc"),
        (i.cast("long") * F.col("spend_cents").cast("decimal(38,0)")).alias(
            "ix"
        ),
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sc").alias("sx"),
        F.sum("ix").alias("six"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.col("sx").cast("long").alias("total_cents"),
        F.expr(
            f"CAST((six * 2 - sx * (n + 1)) * {PPM}"
            " div nullif(CAST(n AS DECIMAL(38,0)) * sx, 0) AS BIGINT)"
        ).alias("gini_ppm"),
    )


GINI_SPEND_PPM_SQL = f"""
WITH per_cust AS (
    SELECT o_custkey,
           sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
               AS spend_cents
    FROM orders GROUP BY o_custkey
), terms AS (
    SELECT spend_cents,
           CAST(row_number() OVER (ORDER BY spend_cents, o_custkey)
                AS BIGINT) * CAST(spend_cents AS HUGEINT) AS ix
    FROM per_cust
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(spend_cents) AS BIGINT) AS total_cents,
       CAST(CAST(2 * sum(ix) - (count(*) + 1) * sum(spend_cents)
                 AS HUGEINT) * {PPM}
            // nullif(count(*) * sum(spend_cents), 0) AS BIGINT) AS gini_ppm
FROM terms
"""


def chisq_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence + Cramér's V over the
    (source × lang) document contingency table — the categorical
    association report (are sources language-skewed?) that complements
    the numeric families (moments, ranks, PSI drift).

    Exactness: observed counts are exact integers; expected counts
    ne = row_total·col_total/N and the (o−ne)²/ne terms are the only
    floats, summed over the generated FULL source×lang domain (zero
    cells contribute their expected mass — omitting them understates
    the statistic). Both engines fold the same ≤ r·c rationals; the
    6-decimal rounding sits far above summation-order ulps. Scale
    shape: ONE partial/final aggregate on the (source, lang) key —
    the contingency table is key-domain bounded, every later step runs
    on ≤ r·c rows with broadcast totals.
    """
    docs = load_table(spark, sf_dir, "documents")
    cell = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("o"))
    rows = cell.groupBy("source").agg(F.sum("o").alias("rs"))
    cols = cell.groupBy("lang").agg(F.sum("o").alias("cs"))
    domain = rows.crossJoin(cols)  # r×c grid with both margins attached
    filled = domain.join(cell, ["source", "lang"], "left").select(
        "source",
        "rs",
        "cs",
        F.coalesce("o", F.lit(0)).alias("o"),
    )
    tot = cell.agg(
        F.sum("o").alias("n"),
        F.count_distinct("source").alias("r"),
        F.count_distinct("lang").alias("c"),
    )
    ne = F.col("rs") * F.col("cs") / F.col("n")
    terms = filled.join(F.broadcast(tot)).select(
        "n",
        "r",
        "c",
        ((F.col("o") - ne) * (F.col("o") - ne) / ne).alias("term"),
    )
    agg = terms.groupBy("n", "r", "c").agg(F.sum("term").alias("chi2"))
    dof = (F.col("r") - 1) * (F.col("c") - 1)
    v = F.sqrt(
        F.col("chi2") / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
    )
    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("r").cast("long").alias("n_sources"),
        F.col("c").cast("long").alias("n_langs"),
        dof.cast("long").alias("dof"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.round(v, 6).alias("cramers_v"),
    )


CHISQ_SOURCE_LANG_SQL = """
WITH cell AS (
    SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2
),
rows_t AS (SELECT source, SUM(o) AS rs FROM cell GROUP BY source),
cols_t AS (SELECT lang, SUM(o) AS cs FROM cell GROUP BY lang),
tot AS (
    SELECT SUM(o) AS n, count(DISTINCT source) AS r,
           count(DISTINCT lang) AS c
    FROM cell
),
filled AS (
    SELECT r_.source, c_.lang, r_.rs, c_.cs, coalesce(cell.o, 0) AS o
    FROM rows_t r_
    CROSS JOIN cols_t c_
    LEFT JOIN cell ON cell.source = r_.source AND cell.lang = c_.lang
),
agg AS (
    SELECT t.n, t.r, t.c,
           SUM((f.o - f.rs * f.cs / CAST(t.n AS DOUBLE))
               * (f.o - f.rs * f.cs / CAST(t.n AS DOUBLE))
               / (f.rs * f.cs / CAST(t.n AS DOUBLE))) AS chi2
    FROM filled f, tot t
    GROUP BY t.n, t.r, t.c
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(r AS BIGINT) AS n_sources,
       CAST(c AS BIGINT) AS n_langs,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       ROUND(chi2, 6) AS chi2,
       ROUND(sqrt(chi2 / (n * least(r - 1, c - 1))), 6) AS cramers_v
FROM agg
"""


MWU_SPLIT_TS = "2024-01-16"  # same snapshot split as value_drift_psi


def mannwhitney_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U per event_type: did the value distribution SHIFT
    between the baseline (first half of the time range) and current
    (second half) snapshots? The nonparametric twin of value_drift_psi
    — U is rank-based, so it detects location shift without binning.

    Exactness (house integer discipline): average tie ranks are carried
    2×-scaled — a tie group occupying ranks s+1..s+c has
    2·avg = 2s + c + 1, an integer — so 2R₁ and u2 = 2U₁ =
    2R₁ − n₁(n₁+1) are EXACT integers; the only float is the
    rank-biserial effect size r = 1 − 2U₁/(n₁n₂) (one IEEE division,
    rounded). Products widen to DECIMAL(38,0) before arithmetic —
    n₁(n₁+1) alone wraps int64 at ~3e9 rows per type.

    Scale shape: events aggregate ONCE to the (event_type, value,
    period) contingency — value is 2-decimal bounded, so the aggregate
    is key-domain bounded — and the rank cumsum windows run over that
    small table, never the corpus.
    """
    return mannwhitney_of(load_table(spark, sf_dir, "events"))


def mannwhitney_of(ev: DataFrame) -> DataFrame:
    """Kernel of :func:`mannwhitney_value_shift` over any frame with
    (event_type, ts, value) — factored for degenerate-input tests."""
    period_is_base = F.col("ts") < F.lit(MWU_SPLIT_TS).cast("timestamp_ntz")
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    cell = (
        ev.select(
            "event_type",
            cents.alias("v"),
            period_is_base.cast("int").alias("is_base"),
        )
        .groupBy("event_type", "v")
        .agg(
            F.sum("is_base").alias("nb"),
            F.sum(1 - F.col("is_base")).alias("nc"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = cell.select(
        "event_type",
        "nb",
        "nc",
        F.coalesce(F.sum(F.col("nb") + F.col("nc")).over(w), F.lit(0)).alias(
            "s"
        ),
    )
    # 2·avg rank of the tie group = 2s + (nb+nc) + 1
    two_avg = 2 * F.col("s") + F.col("nb") + F.col("nc") + 1
    agg = ranked.groupBy("event_type").agg(
        F.sum("nb").cast("long").alias("n_base"),
        F.sum("nc").cast("long").alias("n_curr"),
        F.sum(
            F.col("nb").cast("decimal(38,0)") * two_avg.cast("decimal(38,0)")
        ).alias("two_r1"),
    )
    u2 = F.col("two_r1") - F.col("n_base").cast("decimal(38,0)") * (
        F.col("n_base") + 1
    ).cast("decimal(38,0)")
    return agg.select(
        "event_type",
        "n_base",
        "n_curr",
        u2.cast("long").alias("u2"),
        # Degenerate split (all events on one side): Spark's non-ANSI
        # x/0 yields NULL but DuckDB yields Infinity — pin NULL in both.
        F.when(
            (F.col("n_base") > 0) & (F.col("n_curr") > 0),
            F.round(
                1
                - u2.cast("double")
                / (F.col("n_base").cast("double") * F.col("n_curr")),
                6,
            ),
        ).alias("rank_biserial"),
    )


MANNWHITNEY_VALUE_SHIFT_SQL = f"""
WITH cell AS (
    SELECT event_type,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
           SUM(CASE WHEN ts < TIMESTAMP '{MWU_SPLIT_TS}'
                    THEN 1 ELSE 0 END) AS nb,
           SUM(CASE WHEN ts < TIMESTAMP '{MWU_SPLIT_TS}'
                    THEN 0 ELSE 1 END) AS nc
    FROM events
    GROUP BY 1, 2
),
ranked AS (
    SELECT event_type, nb, nc,
           coalesce(SUM(nb + nc) OVER (
               PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
    FROM cell
),
agg AS (
    SELECT event_type,
           CAST(SUM(nb) AS BIGINT) AS n_base,
           CAST(SUM(nc) AS BIGINT) AS n_curr,
           SUM(CAST(nb AS HUGEINT)
               * CAST(2 * s + nb + nc + 1 AS HUGEINT)) AS two_r1
    FROM ranked
    GROUP BY event_type
)
SELECT event_type, n_base, n_curr,
       CAST(two_r1 - CAST(n_base AS HUGEINT)
                     * CAST(n_base + 1 AS HUGEINT) AS BIGINT) AS u2,
       CASE WHEN n_base > 0 AND n_curr > 0 THEN
           ROUND(1 - CAST(two_r1 - CAST(n_base AS HUGEINT)
                                  * CAST(n_base + 1 AS HUGEINT) AS DOUBLE)
                     / (CAST(n_base AS DOUBLE) * n_curr), 6)
       END AS rank_biserial
FROM agg
"""


QUERIES: dict[str, Query] = {
    "mannwhitney_value_shift": Query(
        mannwhitney_value_shift,
        MANNWHITNEY_VALUE_SHIFT_SQL,
        "Mann–Whitney U snapshot shift test: 2x-scaled tie ranks keep "
        "U exact-integer; one IEEE division for the effect size",
    ),
    "chisq_source_lang": Query(
        chisq_source_lang,
        CHISQ_SOURCE_LANG_SQL,
        "chi-square independence + Cramér's V over the source×lang "
        "contingency table (zero cells included)",
    ),
    "spearman_spend_orders": Query(
        spearman_spend_orders,
        SPEARMAN_SPEND_ORDERS_SQL,
        "Spearman rank correlation, exact int ranks, one IEEE division",
    ),
    "gini_spend_ppm": Query(
        gini_spend_ppm,
        GINI_SPEND_PPM_SQL,
        "Gini spend concentration in exact parts-per-million",
    ),
    "spearman_avg_rank": Query(
        spearman_avg_rank,
        SPEARMAN_AVG_RANK_SQL,
        "textbook Spearman: average tie ranks (2×-scaled ints), "
        "Pearson-of-ranks form",
    ),
}


def part_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(abc_class, n_parts, class_revenue): ABC / Pareto inventory
    classification — parts ranked by revenue, class A = the prefix
    carrying ≤80% of total revenue, B = to 95%, C = the tail. The
    cumulative-share bucketing pattern (80/20 analyses, storage
    tiering) the percent-of-total reports don't cover.

    Exactness: revenues are exact DECIMAL sums; the running total rides
    a fully-ordered window (revenue desc, partkey — deterministic
    sequence, so the cumulative sum is engine-identical), and the class
    boundaries compare by integer cross-multiplication
    (cum×100 ≤ total×80), never a float share. Like the other rank
    statistics, the window orders the POST-aggregate (|part| rows).
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("rev_cents"))
    w = (
        Window.orderBy(F.col("rev_cents").desc(), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    classified = per_part.select(
        "rev_cents",
        F.sum("rev_cents").over(w).alias("cum_cents"),
        F.sum("rev_cents").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total_cents"),
    ).select(
        "rev_cents",
        F.when(F.col("cum_cents") * 100 <= F.col("total_cents") * 80, "A")
        .when(F.col("cum_cents") * 100 <= F.col("total_cents") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classified.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        (F.sum("rev_cents").cast("double") / 100.0).alias("class_revenue"),
    )


PART_ABC_CLASSES_SQL = """
WITH per_part AS (
    SELECT l_partkey,
           sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
               AS rev_cents
    FROM lineitem GROUP BY l_partkey
), classified AS (
    SELECT rev_cents,
           CASE
             WHEN sum(rev_cents) OVER w * 100 <= sum(rev_cents) OVER () * 80
               THEN 'A'
             WHEN sum(rev_cents) OVER w * 100 <= sum(rev_cents) OVER () * 95
               THEN 'B'
             ELSE 'C'
           END AS abc_class
    FROM per_part
    WINDOW w AS (ORDER BY rev_cents DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev_cents) AS DOUBLE) / 100.0 AS class_revenue
FROM classified
GROUP BY abc_class
"""


QUERIES["part_abc_classes"] = Query(
    part_abc_classes,
    PART_ABC_CLASSES_SQL,
    "ABC/Pareto classification via exact cumulative-share bucketing",
)


OLS_ORIGIN_TS = "2024-01-01"  # x origin: seconds since this instant


def ols_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type ordinary-least-squares trend of value over time —
    the regression member of the statistics family (moments → ranks →
    PSI → chi-square → Mann-Whitney → OLS).

    House integer discipline: x = whole seconds since OLS_ORIGIN_TS,
    y = value cents, so every sufficient statistic (n, Σx, Σy, Σxy,
    Σx²) is an exact integer accumulated in DECIMAL(38,0) — n·Σx²
    alone is ~4e20 at fleet row counts, past int64. The only floats
    are the two final divisions, computed from exact integer
    numerators/denominators in the same expression shape in both
    engines and rounded:

        slope     = 3600 · (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)   [cents/hour]
        intercept = ȳ − (num/den)·x̄                         [cents at origin]

    The intercept deliberately runs in doubles over the exact parts
    (sy/n − (num/den)·(sx/n), five IEEE ops in the same order both
    engines): the all-integer form Σy·den − num·Σx scales ~n³x²ȳ and
    overflows DECIMAL(38,0)/HUGEINT around 2e6 rows per type — Spark
    would silently NULL while DuckDB raises, breaking parity exactly
    at fleet scale (review-found). Degenerate guard: den = 0 (all
    events of a type at one timestamp)
    → NULL in both engines. One partial→final aggregate bounded by
    |event_type|; no window, no shuffle beyond the agg exchange.
    """
    ev = load_table(spark, sf_dir, "events")
    # x must be the SAME exact integer in both engines: event ts carry
    # microseconds, and DuckDB's epoch() is a fractional DOUBLE — so
    # both sides take exact integer MICROseconds from the origin
    # (timestampdiff on the naive timestamp, not unix_timestamp — see
    # rolling_hour_value) and truncate-divide to whole seconds. Spark
    # DIV and DuckDB // BOTH truncate toward zero (DuckDB -7 // 2 =
    # -3, measured — it is NOT Python floor division), so the parity
    # holds even for timestamps before the origin (it does not rely on
    # a positive domain).
    us = F.timestamp_diff(
        "MICROSECOND", F.lit(OLS_ORIGIN_TS).cast("timestamp_ntz"), F.col("ts")
    )
    y = (F.col("value").cast("decimal(12,2)") * 100).cast("long").cast(
        "decimal(38,0)"
    )
    agg = (
        ev.select("event_type", us.alias("us"), y.alias("y"))
        .select(
            "event_type",
            F.expr("us DIV 1000000").cast("decimal(38,0)").alias("x"),
            "y",
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.round(
        F.lit(3600.0) * num.cast("double") / den.cast("double"), 6
    )
    nd = F.col("n").cast("double")
    intercept = F.round(
        F.col("sy").cast("double") / nd
        - (num.cast("double") / den.cast("double"))
        * (F.col("sx").cast("double") / nd),
        6,
    )
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.when(den != 0, slope).alias("slope_cents_per_hour"),
        F.when(den != 0, intercept).alias("intercept_cents"),
    )


OLS_VALUE_TREND_SQL = f"""
WITH pts AS (
    SELECT event_type,
           CAST((epoch_us(ts) - epoch_us(TIMESTAMP '{OLS_ORIGIN_TS}'))
                // 1000000 AS HUGEINT) AS x,
           CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                AS HUGEINT) AS y
    FROM events
),
agg AS (
    SELECT event_type,
           CAST(count(*) AS HUGEINT) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx
    FROM pts GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       CASE WHEN n * sxx - sx * sx <> 0 THEN
           ROUND(3600.0 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6)
       END AS slope_cents_per_hour,
       CASE WHEN n * sxx - sx * sx <> 0 THEN
           ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE))
                   * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
       END AS intercept_cents
FROM agg
"""


QUERIES["ols_value_trend"] = Query(
    ols_value_trend,
    OLS_VALUE_TREND_SQL,
    "per-type OLS value trend: exact DECIMAL sufficient statistics, "
    "two IEEE divisions",
)


def welch_t_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic per event_type between the
    same baseline/current snapshot split as :func:`mannwhitney_value_shift`
    — the PARAMETRIC shift test beside the nonparametric U (a location
    shift flags in both; a pure shape change flags only in U).

    Exactness: per-period sums of cents and squared cents accumulate in
    DECIMAL(38,0) (Σy² reaches ~1e17 per million rows and n·Σy² far
    past int64). The floats are the final mean/variance/t/df
    expressions, written in the SAME operation order in both engines
    (sample variance via the computational formula
    (n·Σy² − (Σy)²) / (n·(n−1)) on exact integer operands, one sqrt),
    rounded at emission. Degenerates: a period with n < 2, or both
    sample variances zero, yields NULL t/df in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    period_is_base = F.col("ts") < F.lit(MWU_SPLIT_TS).cast("timestamp_ntz")
    y = (F.col("value").cast("decimal(12,2)") * 100).cast("long").cast(
        "decimal(38,0)"
    )
    base = F.when(period_is_base, F.lit(1)).otherwise(F.lit(0))
    agg = (
        ev.select("event_type", y.alias("y"), base.alias("b"))
        .groupBy("event_type")
        .agg(
            F.sum("b").cast("decimal(38,0)").alias("n1"),
            F.sum(1 - F.col("b")).cast("decimal(38,0)").alias("n2"),
            F.sum(F.col("y") * F.col("b")).alias("s1"),
            F.sum(F.col("y") * (1 - F.col("b"))).alias("s2"),
            F.sum(F.col("y") * F.col("y") * F.col("b")).alias("q1"),
            F.sum(F.col("y") * F.col("y") * (1 - F.col("b"))).alias("q2"),
        )
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / n1d
    m2 = F.col("s2").cast("double") / n2d
    v1 = (F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1")).cast(
        "double"
    ) / (F.col("n1") * (F.col("n1") - 1)).cast("double")
    v2 = (F.col("n2") * F.col("q2") - F.col("s2") * F.col("s2")).cast(
        "double"
    ) / (F.col("n2") * (F.col("n2") - 1)).cast("double")
    se1 = v1 / n1d
    se2 = v2 / n2d
    ok = (F.col("n1") >= 2) & (F.col("n2") >= 2)
    t = F.when(
        ok & ((se1 + se2) > 0),
        F.round((m1 - m2) / F.sqrt(se1 + se2), 6),
    )
    df = F.when(
        ok & (se1 > 0) & (se2 > 0),
        F.round(
            (se1 + se2) * (se1 + se2)
            / (se1 * se1 / (n1d - 1) + se2 * se2 / (n2d - 1)),
            6,
        ),
    )
    return agg.select(
        "event_type",
        F.col("n1").cast("long").alias("n_base"),
        F.col("n2").cast("long").alias("n_curr"),
        t.alias("t_stat"),
        df.alias("welch_df"),
    )


WELCH_T_VALUE_SHIFT_SQL = f"""
WITH pts AS (
    SELECT event_type,
           CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                AS HUGEINT) AS y,
           CASE WHEN ts < TIMESTAMP '{MWU_SPLIT_TS}' THEN 1 ELSE 0 END AS b
    FROM events
),
agg AS (
    SELECT event_type,
           CAST(SUM(b) AS HUGEINT) AS n1,
           CAST(SUM(1 - b) AS HUGEINT) AS n2,
           SUM(y * b) AS s1, SUM(y * (1 - b)) AS s2,
           SUM(y * y * b) AS q1, SUM(y * y * (1 - b)) AS q2
    FROM pts GROUP BY event_type
)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n_base,
       CAST(n2 AS BIGINT) AS n_curr,
       CASE WHEN n1 >= 2 AND n2 >= 2 AND
                 (CAST(n1 * q1 - s1 * s1 AS DOUBLE)
                  / CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE)
                  + CAST(n2 * q2 - s2 * s2 AS DOUBLE)
                  / CAST(n2 * (n2 - 1) AS DOUBLE) / CAST(n2 AS DOUBLE)) > 0
       THEN ROUND(
           (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           / sqrt(CAST(n1 * q1 - s1 * s1 AS DOUBLE)
                  / CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE)
                  + CAST(n2 * q2 - s2 * s2 AS DOUBLE)
                  / CAST(n2 * (n2 - 1) AS DOUBLE) / CAST(n2 AS DOUBLE)), 6)
       END AS t_stat,
       CASE WHEN n1 >= 2 AND n2 >= 2 AND
                 CAST(n1 * q1 - s1 * s1 AS DOUBLE)
                 / CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE) > 0
             AND CAST(n2 * q2 - s2 * s2 AS DOUBLE)
                 / CAST(n2 * (n2 - 1) AS DOUBLE) / CAST(n2 AS DOUBLE) > 0
       THEN ROUND(
           (CAST(n1 * q1 - s1 * s1 AS DOUBLE)
            / CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE)
            + CAST(n2 * q2 - s2 * s2 AS DOUBLE)
            / CAST(n2 * (n2 - 1) AS DOUBLE) / CAST(n2 AS DOUBLE))
           * (CAST(n1 * q1 - s1 * s1 AS DOUBLE)
              / CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE)
              + CAST(n2 * q2 - s2 * s2 AS DOUBLE)
              / CAST(n2 * (n2 - 1) AS DOUBLE) / CAST(n2 AS DOUBLE))
           / ((CAST(n1 * q1 - s1 * s1 AS DOUBLE)
               / CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE))
              * (CAST(n1 * q1 - s1 * s1 AS DOUBLE)
                 / CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE))
              / (CAST(n1 AS DOUBLE) - 1)
              + (CAST(n2 * q2 - s2 * s2 AS DOUBLE)
                 / CAST(n2 * (n2 - 1) AS DOUBLE) / CAST(n2 AS DOUBLE))
              * (CAST(n2 * q2 - s2 * s2 AS DOUBLE)
                 / CAST(n2 * (n2 - 1) AS DOUBLE) / CAST(n2 AS DOUBLE))
              / (CAST(n2 AS DOUBLE) - 1)), 6)
       END AS welch_df
FROM agg
"""


QUERIES["welch_t_value_shift"] = Query(
    welch_t_value_shift,
    WELCH_T_VALUE_SHIFT_SQL,
    "Welch unequal-variance t between snapshots: exact DECIMAL sums, "
    "same-order IEEE tail in both engines",
)


# Benford first-digit probabilities log10(1 + 1/d), embedded as IDENTICAL
# double literals in both engines (a decimal literal parses to the same
# IEEE double in Spark and DuckDB; computing log10 at runtime would
# trust two libm implementations to agree instead).
BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-numbers screen (Newcomb 1881 / Benford 1938; a staple
    data-quality monitor for financial facts). One row per leading
    digit 1-9: observed count, expected count (milli-units), and the
    chi-square contribution (obs − n·p)²/(n·p), rounded.

    Exactness: digits come from the STRING form of exact integer cents
    (no float log10 on the data path); expected/chi² are the only
    floats, computed from exact integer counts against embedded double
    literals in the same expression shape both engines. Digits with
    zero observations still emit (generated 1-9 domain). Scale: one
    digit-keyed aggregate (9 groups), total broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    # Benford applies to positive magnitudes; a zero/negative total
    # (refunds in a non-TPC-H dataset) would make the string's first
    # char '0'/'-' — Spark's lax int cast NULLs it while DuckDB's
    # strict CAST raises (review-found). Restrict BOTH the digit rows
    # and n to positive totals in both engines.
    pos = orders.select(cents.alias("cents")).where(F.col("cents") > 0)
    obs = (
        pos.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    total = pos.select(F.count(F.lit(1)).alias("n"))
    p = F.element_at(
        F.create_map(
            *[F.lit(x) for d, pd in BENFORD_P.items() for x in (d, pd)]
        ),
        F.col("digit"),
    )
    exp = F.col("n").cast("double") * p
    filled = (
        digits.join(obs, "digit", "left")
        .join(F.broadcast(total))
        .select(
            "digit",
            F.coalesce("obs", F.lit(0)).cast("long").alias("obs"),
            exp.alias("e"),
        )
    )
    chi = (F.col("obs").cast("double") - F.col("e")) * (
        F.col("obs").cast("double") - F.col("e")
    ) / F.col("e")
    return filled.select(
        F.col("digit").cast("long").alias("digit"),
        "obs",
        F.round(F.col("e") * 1000).cast("long").alias("expected_milli"),
        # empty input: n = 0 makes every expected count 0 — NULL in
        # both engines (ANSI Spark would otherwise raise on the /0)
        F.when(F.col("e") > 0, F.round(chi, 6)).alias("chi2_term"),
    )


def _benford_sql() -> str:
    cases = " ".join(f"WHEN {d} THEN {p!r}" for d, p in BENFORD_P.items())
    return f"""
WITH pos AS (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
    FROM orders
    WHERE CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) > 0
),
obs AS (
    SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit,
           count(*) AS obs
    FROM pos GROUP BY 1
),
total AS (SELECT count(*) AS n FROM pos),
digits AS (SELECT unnest(range(1, 10)) AS digit)
SELECT CAST(d.digit AS BIGINT) AS digit,
       CAST(coalesce(o.obs, 0) AS BIGINT) AS obs,
       CAST(ROUND(CAST(t.n AS DOUBLE)
                  * (CASE d.digit {cases} END) * 1000) AS BIGINT)
           AS expected_milli,
       CASE WHEN t.n > 0 THEN
           ROUND((CAST(coalesce(o.obs, 0) AS DOUBLE)
                  - CAST(t.n AS DOUBLE) * (CASE d.digit {cases} END))
                 * (CAST(coalesce(o.obs, 0) AS DOUBLE)
                    - CAST(t.n AS DOUBLE) * (CASE d.digit {cases} END))
                 / (CAST(t.n AS DOUBLE) * (CASE d.digit {cases} END)), 6)
       END AS chi2_term
FROM digits d LEFT JOIN obs o ON o.digit = d.digit, total t
"""


BENFORD_PRICE_DIGITS_SQL = _benford_sql()

QUERIES["benford_price_digits"] = Query(
    benford_price_digits,
    BENFORD_PRICE_DIGITS_SQL,
    "Benford first-digit audit of order totals: string-derived digits "
    "of exact cents, embedded-literal expectations, chi-square terms",
)


def ks_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_base, n_cur, ks_stat): two-sample
    Kolmogorov–Smirnov D per event_type across the same baseline/
    current snapshot split as the U and Welch tests — the
    DISTRIBUTION-SHAPE member of the shift family (a location shift
    flags in all three; a variance/shape change with equal medians
    flags here first). D = max over pooled distinct values of
    |F̂₁(x) − F̂₂(x)|, the standard ties-respecting two-sample form.

    Plan shape: one (event_type, cents) pre-aggregate bounds the
    window input to |type| × |distinct cents| rows regardless of event
    count; the running-count window and the final max are per-type.
    Exactness: counts are exact integers all the way; the ONLY floats
    are the two count/total divisions and their difference, written in
    the same operation order in both engines (the tfidf discipline),
    rounded at emission. Degenerate: a type with an empty side yields
    NULL (no distribution to compare).
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    y = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
    base = F.when(
        F.col("ts") < F.lit(MWU_SPLIT_TS).cast("timestamp_ntz"), F.lit(1)
    ).otherwise(F.lit(0))
    g = (
        ev.select("event_type", y.alias("cents"), base.alias("b"))
        .groupBy("event_type", "cents")
        .agg(
            F.sum("b").alias("c1"),
            F.sum(1 - F.col("b")).alias("c2"),
        )
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    run = g.select(
        "event_type",
        F.sum("c1").over(w_run).alias("r1"),
        F.sum("c2").over(w_run).alias("r2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    # the ECDF difference is guarded PER ROW, not just at emission: a
    # type with an empty side has n=0 on every row, and under Spark 4's
    # default ANSI mode an eager x/0 inside the aggregate ABORTS the
    # query where DuckDB returns NULL (review-found, reproduced live —
    # and the empty side is exactly the new-event-type drift case this
    # monitor exists for). try_divide yields NULL there in both modes.
    per_type = run.groupBy("event_type").agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(
            F.abs(
                F.try_divide(F.col("r1").cast("double"), F.col("n1"))
                - F.try_divide(F.col("r2").cast("double"), F.col("n2"))
            )
        ).alias("d"),
    )
    ok = (F.col("n1") > 0) & (F.col("n2") > 0)
    return per_type.select(
        "event_type",
        F.col("n1").cast("long").alias("n_base"),
        F.col("n2").cast("long").alias("n_cur"),
        F.when(ok, F.round(F.col("d"), 6)).otherwise(F.lit(None)).alias(
            "ks_stat"
        ),
    )


KS_VALUE_SHIFT_SQL = f"""
WITH g AS (
    SELECT event_type,
           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
           SUM(CASE WHEN ts < TIMESTAMP '{MWU_SPLIT_TS}'
                    THEN 1 ELSE 0 END) AS c1,
           SUM(CASE WHEN ts < TIMESTAMP '{MWU_SPLIT_TS}'
                    THEN 0 ELSE 1 END) AS c2
    FROM events
    GROUP BY 1, 2
),
run AS (
    SELECT event_type,
           SUM(c1) OVER (PARTITION BY event_type ORDER BY cents
                         ROWS UNBOUNDED PRECEDING) AS r1,
           SUM(c2) OVER (PARTITION BY event_type ORDER BY cents
                         ROWS UNBOUNDED PRECEDING) AS r2,
           SUM(c1) OVER (PARTITION BY event_type) AS n1,
           SUM(c2) OVER (PARTITION BY event_type) AS n2
    FROM g
)
SELECT event_type,
       CAST(MAX(n1) AS BIGINT) AS n_base,
       CAST(MAX(n2) AS BIGINT) AS n_cur,
       CASE WHEN MAX(n1) > 0 AND MAX(n2) > 0 THEN
           ROUND(MAX(abs(CAST(r1 AS DOUBLE) / n1
                         - CAST(r2 AS DOUBLE) / n2)), 6)
       END AS ks_stat
FROM run
GROUP BY event_type
"""

QUERIES["ks_value_shift"] = Query(
    ks_value_shift,
    KS_VALUE_SHIFT_SQL,
    "two-sample Kolmogorov-Smirnov D per event_type over the snapshot "
    "split: ties-respecting ECDF max-gap on exact integer counts",
)


def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation_name, n_suppliers, top_share_milli, hhi): Herfindahl–
    Hirschman concentration of supplier revenue within each nation —
    the market-concentration complement to :func:`gini_spend_ppm`
    (Gini measures inequality of the whole distribution; HHI weights
    the TOP of it, which is what procurement-risk review looks at).

    HHI = Σ shareᵢ² over suppliers, share = supplier revenue / nation
    revenue. Revenue sums are exact BIGINT cents aggregated once from
    lineitem (extendedprice×(1−discount) in exact DECIMAL before the
    cents cast); squares and totals widen to DECIMAL(38,0). The final
    number is Σsᵢ²/(Σs)² with BOTH operands cast to double before one
    multiply and one divide, same order both engines (the decimal
    square of a 1e16-cents national total would overflow 38 digits —
    the OLS lesson); top_share_milli stays exact integer. NULL HHI on
    zero national revenue.

    Scale shape: one lineitem aggregate keyed by suppkey (the big
    shuffle), a broadcast supplier→nation join, then a
    |nation|-bounded aggregate. No window, no driver state.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(12,2)") - F.col("l_discount").cast("decimal(12,2)"))
    ).cast("decimal(14,4)")
    per_sup = li.groupBy("l_suppkey").agg(
        F.floor(F.sum(cents) * 100).cast("long").alias("rev_cents")
    )
    joined = (
        per_sup.join(F.broadcast(sup), per_sup.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    d = F.col("rev_cents").cast("decimal(38,0)")
    agg = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(d).alias("tot"),
        F.sum(d * d).alias("sq"),
        F.max(d).alias("mx"),
    )
    ok = F.col("tot") > 0
    return agg.select(
        F.col("n_name").alias("nation_name"),
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        F.when(ok, F.expr("CAST(mx * 1000 div tot AS BIGINT)"))
        .otherwise(F.lit(None))
        .alias("top_share_milli"),
        F.when(
            ok,
            F.round(
                F.col("sq").cast("double")
                / (F.col("tot").cast("double") * F.col("tot").cast("double")),
                6,
            ),
        )
        .otherwise(F.lit(None))
        .alias("hhi"),
    )


NATION_SUPPLIER_HHI_SQL = """
WITH per_sup AS (
    SELECT l_suppkey,
           CAST(floor(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(12,2))
                        - CAST(l_discount AS DECIMAL(12,2)))
                     AS DECIMAL(14,4))) * 100) AS BIGINT) AS rev_cents
    FROM lineitem GROUP BY l_suppkey
),
agg AS (
    SELECT n.n_name,
           count(*) AS n_suppliers,
           sum(CAST(rev_cents AS HUGEINT)) AS tot,
           sum(CAST(rev_cents AS HUGEINT) * rev_cents) AS sq,
           max(CAST(rev_cents AS HUGEINT)) AS mx
    FROM per_sup p
    JOIN supplier s ON s.s_suppkey = p.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
)
SELECT n_name AS nation_name,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CASE WHEN tot > 0
            THEN CAST(mx * 1000 // tot AS BIGINT) END AS top_share_milli,
       CASE WHEN tot > 0
            THEN ROUND(CAST(sq AS DOUBLE)
                       / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6)
       END AS hhi
FROM agg
"""

QUERIES["nation_supplier_hhi"] = Query(
    nation_supplier_hhi,
    NATION_SUPPLIER_HHI_SQL,
    "Herfindahl supplier-revenue concentration per nation: exact cents "
    "sums, double-cast-before-multiply final ratio, exact top share",
)

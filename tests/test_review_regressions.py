"""Regressions for review-found edge bugs: ANSI integer overflows in
the exact-arithmetic statistics, NaN-vs-NULL divergence on degenerate
inputs, and byte-vs-character indexing in the image-oracle SQL.
"""

from __future__ import annotations

import datetime

import duckdb

from simple_map_reduce_ruuner_spark.operators.behavior import twa_of
from simple_map_reduce_ruuner_spark.operators.rankstats import (
    gini_of,
    spearman_of,
)


def test_twa_survives_large_value_times_long_gap(spark):
    """cents × µs must multiply in DECIMAL: $35,500 held for 30 days is
    ~8e18 µs-cents — past int64 — and crashed with ARITHMETIC_OVERFLOW
    before the widening (the DuckDB oracle's HUGEINT kept going)."""
    t0 = datetime.datetime(2024, 1, 1)
    t1 = t0 + datetime.timedelta(days=30)
    df = spark.createDataFrame(
        [(1, t0, 1, 35500.00), (1, t1, 2, 0.0)],
        "user_id long, ts timestamp_ntz, event_id long, value double",
    )
    got = twa_of(df).collect()
    assert got == [(1, 35500.00)] or (
        got[0].user_id == 1 and got[0].twa_value == 35500.0
    )


def test_spearman_single_customer_is_null_both_engines(spark):
    """n = 1 makes the denominator n(n²−1) zero: Spark must emit NULL
    (nullif), matching DuckDB's NULL-on-zero double division — the
    pre-fix NaN hash-mismatched the oracle."""
    df = spark.createDataFrame(
        [(1, 100, 1)], "o_custkey long, spend_cents long, n_orders long"
    )
    row = spearman_of(df).collect()[0]
    assert (row.n_customers, row.sum_d2) == (1, 0)
    assert row.spearman_rho is None
    duck = duckdb.sql(
        "SELECT 1.0 - CAST(0 AS DOUBLE) / CAST(nullif(0, 0) AS DOUBLE)"
    ).fetchone()[0]
    assert duck is None


def test_spearman_avg_rank_degenerates_are_null(spark):
    """Textbook Spearman is undefined at n = 1 and when either column is
    constant (zero rank variance): both engines must emit NULL, not NaN
    or a crash — the sqrt-product denominator is nullif'd."""
    from simple_map_reduce_ruuner_spark.operators.rankstats import (
        spearman_avg_rank_of,
    )

    one = spark.createDataFrame(
        [(1, 100, 1)], "o_custkey long, spend_cents long, n_orders long"
    )
    row = spearman_avg_rank_of(one).collect()[0]
    assert row.n_customers == 1 and row.spearman_rho is None

    const = spark.createDataFrame(
        [(1, 100, 1), (2, 100, 5), (3, 100, 2)],
        "o_custkey long, spend_cents long, n_orders long",
    )
    row = spearman_avg_rank_of(const).collect()[0]
    assert row.varx_term == 0.0  # spend is constant
    assert row.spearman_rho is None
    duck = duckdb.sql(
        "SELECT CAST(5 AS DOUBLE) / nullif(sqrt(0.0 * 7.0), 0.0)"
    ).fetchone()[0]
    assert duck is None


def test_table_profile_minmax_are_typed_numeric(spark, sf_dir):
    """The typed profile must report NUMERIC min/max for numeric
    columns — the retired lpad-string form both had a lexicographic
    wart (min='1000000' > max='999996' unpadded) and silently
    truncated keys wider than the pad (advice r6). Here min/max must
    equal the true numeric extremes, and exactly one typed side must
    be populated per column."""
    from simple_map_reduce_ruuner_spark.operators.profiling import (
        table_profile,
    )
    from simple_map_reduce_ruuner_spark.sources.tables import load_table

    rows = {r.column_name: r for r in table_profile(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    lo, hi = orders.selectExpr(
        "min(CAST(o_orderkey AS DOUBLE))", "max(CAST(o_orderkey AS DOUBLE))"
    ).first()
    ok = rows["o_orderkey"]
    assert (ok.min_numeric, ok.max_numeric) == (lo, hi)
    assert ok.min_string is None and ok.max_string is None
    st = rows["o_orderstatus"]
    assert st.min_numeric is None and st.max_numeric is None
    assert st.min_string <= st.max_string
    for r in rows.values():  # exactly one typed side per column
        assert (r.min_numeric is None) != (r.min_string is None)


def test_rank_stats_survive_int64_scale(spark):
    """All derived products widen to DECIMAL(38,0) before arithmetic:
    spends near int64/4 per customer overflowed 2·Σi·x and n·Σx before
    the fix. Verified against Python big-int arithmetic."""
    big = (1 << 60)  # spend_cents per customer (Σ stays within BIGINT
    # for the total_cents output; the rank-weighted products do not)
    custs = [(c, big + c, c + 1) for c in range(4)]
    df = spark.createDataFrame(
        custs, "o_custkey long, spend_cents long, n_orders long"
    )
    gg = gini_of(df).collect()[0]
    n = len(custs)
    sx = sum(s for _c, s, _n in custs)
    asc = sorted(custs, key=lambda r: (r[1], r[0]))
    six = sum((i + 1) * r[1] for i, r in enumerate(asc))
    num = (2 * six - (n + 1) * sx) * 1_000_000
    expected = abs(num) // (n * sx) * (1 if num >= 0 else -1)
    assert (gg.n_customers, gg.total_cents, gg.gini_ppm) == (n, sx, expected)
    rho = spearman_of(df).collect()[0]
    assert rho.spearman_rho is not None  # finite, no overflow


def test_image_oracles_index_bytes_not_characters(spark, tmp_path):
    """The image operators consume BYTES of the UTF-8 payload; the
    oracle SQL must too. A document starting with non-ASCII text
    ('é' → 0xC3 0xA9) exposed the old substr/ascii character indexing.
    decode_image_ppm additionally covers the empty-doc raster
    (zero-filled pixels, no cycling possible) and the full real-format
    round trip on multi-byte text."""
    from simple_map_reduce_ruuner_spark.operators.multimodal import (
        DECODE_IMAGE_PPM_SQL,
        decode_image_ppm,
    )

    rows = [
        (1, "é" * 40, "fr", "synth", 80),
        (2, "añö" + "x" * 61, "es", "synth", 64),
        (3, "plain ascii " * 6, "en", "synth", 72),
        (4, "", "en", "synth", 0),
        (5, "ab", "en", "synth", 2),  # raster much longer than source
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    got = sorted(map(tuple, decode_image_ppm(spark, sf_dir).collect()))
    want = sorted(map(tuple, con.execute(DECODE_IMAGE_PPM_SQL).fetchall()))
    assert got == want


def test_mannwhitney_one_sided_split_is_null_both_engines(spark):
    """An event_type with every event on ONE side of the snapshot split
    makes n_base*n_curr = 0: Spark's non-ANSI x/0 yields NULL while
    DuckDB yields Infinity — both sides must pin NULL (advice-found)."""
    from simple_map_reduce_ruuner_spark.operators.rankstats import (
        mannwhitney_of,
    )

    t_pre = datetime.datetime(2024, 1, 10)
    t_post = datetime.datetime(2024, 1, 20)
    df = spark.createDataFrame(
        [
            ("only_pre", t_pre, 1.0),
            ("only_pre", t_pre, 2.0),
            ("both", t_pre, 1.0),
            ("both", t_post, 2.0),
        ],
        "event_type string, ts timestamp_ntz, value double",
    )
    rows = {r.event_type: r for r in mannwhitney_of(df).collect()}
    assert rows["only_pre"].n_curr == 0
    assert rows["only_pre"].rank_biserial is None
    assert rows["both"].rank_biserial is not None
    duck = duckdb.sql(
        "SELECT CASE WHEN 2 > 0 AND 0 > 0 THEN"
        " ROUND(1 - CAST(4 AS DOUBLE) / (CAST(2 AS DOUBLE) * 0), 6) END"
    ).fetchone()[0]
    assert duck is None


def _stage_events(doctored, tmp_path):
    """Write a doctored events DataFrame as <tmp>/sf/events.parquet and
    return the sf-dir path (single part file, the driver table layout).
    Shared by every doctored-events regression test below."""
    import glob
    import shutil

    out = tmp_path / "events_dir"
    doctored.coalesce(1).write.parquet(str(out))
    part = glob.glob(f"{out}/part-*.parquet")[0]
    sfdir = tmp_path / "sf"
    sfdir.mkdir()
    shutil.move(part, str(sfdir / "events.parquet"))
    return str(sfdir)


def test_ks_value_shift_one_sided_type_is_null_not_ansi_crash(spark, tmp_path):
    """r15 review: an event_type with every event on ONE side of the
    snapshot split (a type first seen after the split date — the drift
    case the monitor exists for) must yield NULL in BOTH engines, not a
    Spark-ANSI DIVIDE_BY_ZERO abort."""
    import duckdb

    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.registry import all_queries
    from simple_map_reduce_ruuner_spark.sources.tables import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "events")
    doctored = src.withColumn(
        "ts",
        F.when(
            F.col("event_type") == "error",
            F.lit("2025-06-01 00:00:00").cast(src.schema["ts"].dataType),
        ).otherwise(F.col("ts")),
    )
    sfdir = _stage_events(doctored, tmp_path)

    q = all_queries()["ks_value_shift"]
    rows = {r["event_type"]: r for r in q.fn(spark, sfdir).collect()}
    assert rows["error"]["ks_stat"] is None
    assert rows["error"]["n_base"] == 0
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sfdir}/events.parquet')"
    )
    duck = {
        r[0]: r for r in con.execute(q.oracle).fetchall()
    }
    assert duck["error"][3] is None


def test_cusum_changepoint_allzero_type_is_null_both_engines(spark, tmp_path):
    """An event_type whose values are ALL zero has n*gross = 0: dev_ppm
    must be NULL in BOTH engines (not an ANSI divide-by-zero abort), and
    cp_pos must still localize deterministically to the earliest row
    (every |D_k| is 0, the argmax tie-break)."""
    import duckdb

    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.registry import all_queries
    from simple_map_reduce_ruuner_spark.sources.tables import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "events")
    doctored = src.withColumn(
        "value",
        F.when(F.col("event_type") == "error", F.lit(0.0)).otherwise(
            F.col("value")
        ),
    )
    sfdir = _stage_events(doctored, tmp_path)

    q = all_queries()["cusum_changepoint"]
    rows = {r["event_type"]: r for r in q.fn(spark, sfdir).collect()}
    assert rows["error"]["dev_ppm"] is None
    assert rows["error"]["cp_pos"] == 1
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sfdir}/events.parquet')"
    )
    duck = {r[0]: r for r in con.execute(q.oracle).fetchall()}
    assert duck["error"][4] is None
    assert duck["error"][2] == 1


def test_mad_outliers_zero_mad_flags_off_median_both_engines(spark, tmp_path):
    """MAD = 0 (more than half the group AT the median) is the rule's
    documented limiting case: every off-median value flags, in BOTH
    engines, and the medians stay integer-exact."""
    import duckdb

    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.registry import all_queries
    from simple_map_reduce_ruuner_spark.sources.tables import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "events")
    # 3 of every 4 'error' rows pinned at 7.77; the rest keep their value
    doctored = src.withColumn(
        "value",
        F.when(
            (F.col("event_type") == "error") & (F.col("event_id") % 4 != 0),
            F.lit(7.77),
        ).otherwise(F.col("value")),
    )
    sfdir = _stage_events(doctored, tmp_path)

    q = all_queries()["mad_outliers"]
    rows = {r["event_type"]: r for r in q.fn(spark, sfdir).collect()}
    err = rows["error"]
    assert err["mad_e4"] == 0
    assert err["median_milli"] == 7770
    # every row whose value != 7.77 must flag
    n_off = doctored.where(
        (F.col("event_type") == "error") & (F.col("value") != 7.77)
    ).count()
    assert err["n_outliers"] == n_off > 0
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sfdir}/events.parquet')"
    )
    duck = {r[0]: r for r in con.execute(q.oracle).fetchall()}
    assert duck["error"][3] == 0 and duck["error"][4] == n_off

"""Checks with no SQL oracle: sketch error bounds and lang_id on data
where languages actually differ."""

from __future__ import annotations

from simple_map_reduce_ruuner_spark.operators.approx import (
    approx_distinct_users,
    approx_percentiles,
    exact_distinct_users,
    value_percentiles,
)


def test_approx_percentiles_rank_error_bound(spark, sf_dir):
    """GK sketch guarantee is in RANK space, not value space: the returned
    value's empirical rank is within n/accuracy of the target rank (the
    sketch returns a real element, the exact anchor interpolates — their
    values can differ by a full inter-element gap even when the sketch is
    perfect). A value with ties occupies the whole rank interval
    [count(<v), count(<=v)]/n, so the error is the distance from q to
    that interval (APPROX_BOUNDS.json was measured with the same
    convention — the earlier side="right"-only form overstated error by
    the tie mass at the replicated 10x scale). Assert distance ≤ 1/accuracy + 2/n."""
    import numpy as np

    from simple_map_reduce_ruuner_spark.sources.tables import load_table

    vals = load_table(spark, sf_dir, "events").select("event_type", "value").toPandas()
    approx = {r.event_type: r for r in approx_percentiles(spark, sf_dir).collect()}
    exact = {r.event_type: r for r in value_percentiles(spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for k, a in approx.items():
        group = np.sort(vals.loc[vals.event_type == k, "value"].to_numpy())
        n = len(group)
        tol = 1.0 / 10000 + 2.0 / n
        for col, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            av = getattr(a, col)
            cdf_l = np.searchsorted(group, av, side="left") / n
            cdf_r = np.searchsorted(group, av, side="right") / n
            err = max(0.0, q - cdf_r, cdf_l - q)
            assert err <= tol, (k, col, q, cdf_l, cdf_r, av)


def test_approx_distinct_within_5pct(spark, sf_dir):
    exact = {
        r.event_type: r.n_users for r in exact_distinct_users(spark, sf_dir).collect()
    }
    approx = {
        r.event_type: r.n_users_approx
        for r in approx_distinct_users(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(1, 0.05 * n), (k, n, approx[k])


def test_lang_id_discriminates_on_multilingual_data(spark, tmp_path):
    """The driver fixtures share one vocabulary across lang labels, so
    lang_id's accuracy is untestable there (documented). On data where
    languages actually differ, the stopword-ratio heuristic must
    discriminate: English-like docs (stopword-rich) → 'en', non-English
    docs (no English stopwords) → 'other'."""
    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.operators.textstats import lang_id

    en = "the cat sat on the mat and looked for a mouse in the garden"
    xx = "der hund lief schnell durch den garten und suchte seinen ball"
    rows = [(i, en, "en", "s", len(en)) for i in range(20)] + [
        (100 + i, xx, "de", "s", len(xx)) for i in range(20)
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    pred = lang_id(spark, sf_dir).select("lang", "pred_lang").collect()
    acc = sum(
        1
        for r in pred
        if (r.lang == "en") == (r.pred_lang == "en")
    ) / len(pred)
    assert acc == 1.0


def test_hll_sketches_merge_across_groups(spark, sf_dir):
    """Spark 4 DataSketches surface: per-segment HLL sketches built with
    ``hll_sketch_agg`` union into a corpus-wide estimate via
    ``hll_union_agg`` — the RE-AGGREGATABLE form of distinct counting
    that plain approx_count_distinct hides (at 100 TB, per-partition /
    per-day sketches persist and merge instead of rescanning history).
    The merged estimate must satisfy the same 5% bound the direct HLL
    query is held to."""
    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    per_seg = ev.groupBy(F.pmod("user_id", F.lit(8)).alias("seg")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    est = per_seg.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    ).collect()[0].est
    exact = ev.select(F.countDistinct("user_id").alias("n")).collect()[0].n
    assert abs(est - exact) <= 0.05 * exact


def test_approx_distinct_bounds_all_within(spark, sf_dir):
    """The hash-checkable twin: every group reports within_bound=True and
    the exact column equals the anchor query's counts (what the DuckDB
    oracle asserts at the gate)."""
    from simple_map_reduce_ruuner_spark.operators.approx import (
        approx_distinct_bounds,
    )

    rows = approx_distinct_bounds(spark, sf_dir).collect()
    exact = {
        r.event_type: r.n_users for r in exact_distinct_users(spark, sf_dir).collect()
    }
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        assert r.within_bound is True, r
        assert r.n_users_exact == exact[r.event_type], r


def test_approx_percentile_bounds_all_within(spark, sf_dir):
    """Rank-space bound report: 3 quantile labels per group, all True,
    n_events equal to the group's non-null value count."""
    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.operators.approx import (
        approx_percentile_bounds,
    )
    from simple_map_reduce_ruuner_spark.sources.tables import load_table

    rows = approx_percentile_bounds(spark, sf_dir).collect()
    counts = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("value").alias("n"))
        .collect()
    }
    seen = {}
    for r in rows:
        assert r.within_bound is True, r
        assert r.n_events == counts[r.event_type], r
        seen.setdefault(r.event_type, set()).add(r.q)
    assert all(v == {"p50", "p90", "p99"} for v in seen.values()), seen

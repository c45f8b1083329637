"""Structured Streaming equivalence: the streaming tumbling-window query
over a file source must produce exactly the batch query's result on the
same snapshot (availableNow trigger), and watermarking must drop
late-beyond-watermark data in update-free append mode."""

from __future__ import annotations

import os
import shutil

from simple_map_reduce_ruuner_spark.sources.tables import load_table
from simple_map_reduce_ruuner_spark.streaming.windows import (
    session_windows,
    sliding_counts,
    stream_session_windows,
    stream_sliding_counts,
    stream_tumbling_counts,
    tumbling_counts,
)


def _run_stream(spark, stream_df, name, ckpt, mode="complete"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def _stage_events(spark, sf_dir, tmp_path):
    src_dir = str(tmp_path / "events_stream")
    load_table(spark, sf_dir, "events").coalesce(2).write.parquet(src_dir)
    return src_dir


def test_stream_sliding_equals_batch(spark, sf_dir, tmp_path):
    src_dir = _stage_events(spark, sf_dir, tmp_path)
    got = {
        (r.wstart, r.event_type, r.n)
        for r in _run_stream(
            spark,
            stream_sliding_counts(spark, src_dir),
            "sliding_test",
            str(tmp_path / "ckpt_slide"),
        ).collect()
    }
    expected = {
        (r.wstart, r.event_type, r.n)
        for r in sliding_counts(spark, sf_dir).collect()
    }
    assert got == expected
    shutil.rmtree(src_dir, ignore_errors=True)


def test_stream_session_equals_batch(spark, sf_dir, tmp_path):
    src_dir = _stage_events(spark, sf_dir, tmp_path)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in _run_stream(
            spark,
            stream_session_windows(spark, src_dir),
            "session_test",
            str(tmp_path / "ckpt_sess"),
        ).collect()
    }
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in session_windows(spark, sf_dir).collect()
    }
    assert got == expected
    shutil.rmtree(src_dir, ignore_errors=True)


def test_stream_stream_join_equals_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream range join under availableNow must emit
    exactly the batch inner join's (error, click) pairs."""
    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.streaming.joins import (
        stream_clicks_before_errors,
    )

    src_dir = _stage_events(spark, sf_dir, tmp_path)
    got = {
        (r.user_id, r.error_id, r.click_ts)
        for r in _run_stream(
            spark,
            stream_clicks_before_errors(spark, src_dir),
            "ssjoin_test",
            str(tmp_path / "ckpt_ssj"),
            mode="append",
        ).collect()
    }

    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    expected = {
        (r.e_user, r.error_id, r.click_ts)
        for r in errors.join(
            clicks,
            (F.col("e_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("error_ts"))
            & (
                F.col("click_ts")
                >= F.col("error_ts") - F.expr("INTERVAL 10 MINUTES")
            ),
        ).collect()
    }
    assert got == expected
    assert len(got) > 0
    shutil.rmtree(src_dir, ignore_errors=True)


def test_stream_stream_join_checkpoint_recovery(spark, sf_dir, tmp_path):
    """The stream-stream join's buffered state must survive a restart:
    run 1 sees only clicks, run 2 (same checkpoint) adds the errors —
    pairs only emerge if run 2 joins against state RESTORED from run 1."""
    import pandas as pd
    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.streaming.joins import (
        stream_clicks_before_errors,
    )

    src_dir = tmp_path / "events_stream"
    ckpt = str(tmp_path / "ckpt_ssj_rec")
    ev = load_table(spark, sf_dir, "events")
    clicks_only = ev.where(F.col("event_type") == "click")
    errors_only = ev.where(F.col("event_type") == "error")
    clicks_only.coalesce(1).write.parquet(str(src_dir))

    def run_once():
        captured: list = []

        def sink(batch_df, batch_id):
            captured.append(batch_df.toPandas())

        q = (
            stream_clicks_before_errors(spark, str(src_dir))
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return (
            pd.concat(captured, ignore_index=True)
            if captured
            else pd.DataFrame(columns=["user_id", "error_id", "click_ts"])
        )

    out1 = run_once()
    assert len(out1) == 0  # no errors yet → no pairs

    errors_only.coalesce(1).write.mode("append").parquet(str(src_dir))
    out2 = run_once()
    got = {
        (r.user_id, r.error_id, r.click_ts)
        for r in out2.itertuples(index=False)
    }
    expected_df = errors_only.select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    ).join(
        clicks_only.select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")),
        (F.col("e_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("error_ts"))
        & (F.col("click_ts") >= F.col("error_ts") - F.expr("INTERVAL 10 MINUTES")),
    )
    expected = {
        (r.e_user, r.error_id, r.click_ts) for r in expected_df.collect()
    }
    assert got == expected
    assert len(got) > 0
    shutil.rmtree(src_dir, ignore_errors=True)


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Streaming ingest dedup: a source containing every event TWICE
    (at-least-once delivery) must come out exactly once, matching the
    batch distinct — state bounded by the watermark, not by keys-ever-
    seen."""
    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.streaming.joins import stream_dedup_events

    src_dir = str(tmp_path / "events_stream")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    ev.unionAll(ev).coalesce(2).write.parquet(src_dir)  # duplicate every row

    out = _run_stream(
        spark,
        stream_dedup_events(spark, src_dir),
        "dedup_stream_test",
        str(tmp_path / "ckpt_dedup"),
        mode="append",
    )
    got = {(r.event_id, r.ts, r.user_id) for r in out.collect()}
    expected = {(r.event_id, r.ts, r.user_id) for r in ev.collect()}
    assert got == expected
    shutil.rmtree(src_dir, ignore_errors=True)


def test_stream_cooldown_dedup_contract(spark, sf_dir, tmp_path):
    """Streaming keyed-cooldown dedup (dropDuplicatesWithinWatermark on
    (user_id, event_type)) vs the batch greedy chain
    (throttle_suppress): the operator keeps first ARRIVALS, so exact
    rows are batch/arrival-order dependent; the pinned contract is
    (a) every key emits at least once, (b) no two emissions of one key
    within the cooldown, (c) per-key emissions never exceed the batch
    greedy count (cooldown-spaced subsets are bounded by the maximal
    earliest-first selection)."""
    import glob as _glob

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.operators.timeseries import (
        THROTTLE_COOLDOWN_S,
        throttle_suppress,
    )
    from simple_map_reduce_ruuner_spark.streaming.joins import (
        stream_cooldown_dedup,
    )

    # time-ordered files so the watermark advances like a real stream
    src_dir = tmp_path / "cooldown_stream"
    src_dir.mkdir()
    ev = load_table(spark, sf_dir, "events")
    tiled = ev.withColumn(
        "_tile", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):
        stage = tmp_path / f"stage_{i}"
        tiled.where(F.col("_tile") == i).drop("_tile").coalesce(1).write.parquet(
            str(stage)
        )
        part = _glob.glob(str(stage / "part-*.parquet"))[0]
        shutil.move(part, src_dir / f"{i:02d}.parquet")
        shutil.rmtree(stage, ignore_errors=True)

    out = _run_stream(
        spark,
        stream_cooldown_dedup(spark, str(src_dir)),
        "cooldown_stream_test",
        str(tmp_path / "ckpt_cooldown"),
        mode="append",
    ).collect()
    assert out

    emitted: dict[tuple, list] = {}
    for r in out:
        emitted.setdefault((r.user_id, r.event_type), []).append(r.emit_ts)

    all_keys = {
        (r.user_id, r.event_type)
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    batch_counts: dict[tuple, int] = {}
    for r in throttle_suppress(spark, sf_dir).collect():
        k = (r.user_id, r.event_type)
        batch_counts[k] = batch_counts.get(k, 0) + 1

    assert emitted.keys() == all_keys  # (a)
    for k, ts_list in emitted.items():
        ts_list.sort()
        for a, b in zip(ts_list, ts_list[1:]):  # (b)
            assert (b - a).total_seconds() >= THROTTLE_COOLDOWN_S
        assert len(ts_list) <= batch_counts[k]  # (c)

    shutil.rmtree(src_dir, ignore_errors=True)


def test_session_window_exact_gap_merges(spark):
    """Boundary semantics the oracle must mirror: an event arriving
    EXACTLY gap seconds after its predecessor merges into the same Spark
    session (touching windows coalesce → one session [t, t+2*gap)), so
    the oracle's new-session predicate must be strictly >, not >=.
    (Round-2 advisory claimed the opposite; this pins the measured
    behavior.)"""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 04:00:00")],
        "user_id long, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    sessions = (
        df.groupBy(F.session_window("ts", "4 hours").alias("w"), "user_id")
        .count()
        .collect()
    )
    assert len(sessions) == 1
    assert sessions[0].w.end.hour == 8  # max(ts) + gap


def test_stream_tumbling_equals_batch(spark, sf_dir, tmp_path):
    # Stage the events snapshot as a stream-source directory with a
    # normalized (ntz) schema — the same rows the batch query reads.
    src_dir = str(tmp_path / "events_stream")
    ckpt = str(tmp_path / "ckpt")
    load_table(spark, sf_dir, "events").coalesce(2).write.parquet(src_dir)

    q = (
        stream_tumbling_counts(spark, src_dir)
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.wstart, r.event_type, r.n, r.sum_value)
        for r in spark.sql("select * from tumbling_test").collect()
    }
    expected = {
        (r.wstart, r.event_type, r.n, r.sum_value)
        for r in tumbling_counts(spark, sf_dir).collect()
    }
    assert got == expected
    shutil.rmtree(src_dir, ignore_errors=True)


def test_stream_static_enrichment_equals_batch(spark, sf_dir, tmp_path):
    """Stream-static dim join + windowed agg under availableNow must
    equal the batch formulation on the same snapshot."""
    from simple_map_reduce_ruuner_spark.streaming.windows import (
        segment_event_counts,
        stream_segment_counts,
    )

    src_dir = _stage_events(spark, sf_dir, tmp_path)
    got = {
        (r.wstart, r.segment, r.n)
        for r in _run_stream(
            spark,
            stream_segment_counts(spark, src_dir, sf_dir),
            "seg_counts",
            str(tmp_path / "ckpt_seg"),
        ).collect()
    }
    want = {
        (r.wstart, r.segment, r.n)
        for r in segment_event_counts(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_foreachbatch_idempotent_incremental_sink(spark, sf_dir, tmp_path):
    """foreachBatch + checkpoint = incremental exactly-once delivery to a
    partitioned parquet sink: a restart with no new input reprocesses
    nothing, and new input produces only the new rows."""
    import glob

    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt_feb")
    ev = load_table(spark, sf_dir, "events")
    first = ev.where(F.col("event_id") % 2 == 0)
    second = ev.where(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(src_dir)

    def run_once():
        def sink(batch_df, batch_id):
            # idempotent layout: one partition dir per micro-batch id, so a
            # replayed batch overwrites its own output instead of duplicating
            batch_df.withColumn("batch", F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(f"{out_dir}/batch={batch_id}")

        q = (
            spark.readStream.schema(ev.schema)
            .parquet(src_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == first.count()
    batches1 = set(glob.glob(f"{out_dir}/batch=*"))

    run_once()  # restart, no new input: nothing reprocessed
    assert spark.read.parquet(out_dir).count() == n1
    assert set(glob.glob(f"{out_dir}/batch=*")) == batches1

    second.coalesce(1).write.mode("append").parquet(src_dir)
    run_once()  # only the new files processed
    assert spark.read.parquet(out_dir).count() == ev.count()


def test_stream_stream_left_outer_emits_nulls_after_watermark(
    spark, sf_dir, tmp_path
):
    """Append-mode outer-join null rows are a WATERMARK artifact: an
    unmatched error emits its null-padded row only once no future click
    could match it. Under availableNow the closing no-data batch flushes
    every error older than (max event time − delay); younger unmatched
    errors stay buffered. Matched rows must equal the batch join
    exactly; null rows must be exactly the batch-unmatched errors old
    enough to have been finalized (with a safety margin for the
    watermark's min-across-inputs semantics)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.streaming.joins import (
        stream_clicks_errors_left,
    )

    src_dir = _stage_events(spark, sf_dir, tmp_path)
    rows = _run_stream(
        spark,
        stream_clicks_errors_left(spark, src_dir),
        "ssjoin_left_test",
        str(tmp_path / "ckpt_ssjl"),
        mode="append",
    ).collect()

    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    batch = errors.join(
        clicks,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("error_ts"))
        & (F.col("click_ts") >= F.col("error_ts") - F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).collect()

    got_matched = {
        (r.user_id, r.error_id, r.click_ts) for r in rows if r.click_ts is not None
    }
    want_matched = {
        (r.e_user, r.error_id, r.click_ts)
        for r in batch
        if r.click_ts is not None
    }
    assert got_matched == want_matched

    # the GLOBAL watermark is the min across the two inputs' own maxima
    # minus the delay; an error is finalized only once the global
    # watermark passes its error_ts (keep 5 min slack for rounding)
    max_click = clicks.agg(F.max("click_ts")).collect()[0][0]
    max_error = errors.agg(F.max("error_ts")).collect()[0][0]
    finalized = min(max_click, max_error) - dt.timedelta(minutes=35)
    got_null_ids = {r.error_id for r in rows if r.click_ts is None}
    unmatched = {r.error_id: r.error_ts for r in batch if r.click_ts is None}
    must_emit = {eid for eid, ets in unmatched.items() if ets < finalized}

    # every old-enough unmatched error emitted its null row...
    assert must_emit <= got_null_ids, sorted(must_emit - got_null_ids)[:5]
    # ...and no null row was emitted for an error that HAS a match
    assert got_null_ids <= set(unmatched), sorted(
        got_null_ids - set(unmatched)
    )[:5]
    assert len(must_emit) > 0  # the assertion above is not vacuous


def test_interrupted_file_sink_recovers_exactly_once(spark, sf_dir, tmp_path):
    """Stop a file-sink stream MID-RUN, restart from the checkpoint, and
    the committed sink view must equal the batch aggregation exactly — no
    replayed-batch duplicates, no killed-batch loss. In-process twin of
    tools/stream_recovery_probe.py (which SIGKILLs the whole driver+JVM
    process group); the exactly-once
    mechanics are the checkpoint WAL + the parquet sink's _spark_metadata
    commit log, which spark.read respects."""
    import datetime
    import glob as _glob
    import shutil as _shutil
    import time as _time

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.streaming.windows import (
        stream_tumbling_counts,
        tumbling_counts,
    )

    n_files = 8
    ev = load_table(spark, sf_dir, "events")
    # time-ordered files so the advancing watermark never drops a batch
    tiled = ev.withColumn(
        "_tile", F.ntile(n_files).over(Window.orderBy("ts", "event_id"))
    )
    src = tmp_path / "recovery_src"
    src.mkdir()
    for i in range(1, n_files + 1):
        stage = tmp_path / f"stage_{i}"
        tiled.where(F.col("_tile") == i).drop("_tile").coalesce(1).write.parquet(
            str(stage)
        )
        _shutil.move(
            _glob.glob(str(stage / "part-*.parquet"))[0], src / f"{i:02d}.parquet"
        )
    sink = str(tmp_path / "recovery_sink")
    ckpt = tmp_path / "recovery_ckpt"

    def start():
        return (
            stream_tumbling_counts(
                spark, str(src), reader_options={"maxFilesPerTrigger": "1"}
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def n_commits():
        d = ckpt / "commits"
        return (
            len([p for p in d.iterdir() if p.name.isdigit()]) if d.is_dir() else 0
        )

    q = start()
    deadline = _time.monotonic() + 120
    while n_commits() < 2 and _time.monotonic() < deadline:
        _time.sleep(0.02)
    q.stop()  # interrupt mid-run (possibly mid-batch)
    q.awaitTermination(60)
    interrupted_at = n_commits()
    assert interrupted_at < n_files, "stream finished before the interrupt"

    q = start()  # restart from the same checkpoint
    assert q.awaitTermination(120)
    assert n_commits() >= n_files

    # flush event advances the watermark past every real window
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    flush = spark.createDataFrame(
        [(max_ts + datetime.timedelta(days=30),)], "ts timestamp_ntz"
    )
    for f in ev.schema.fields:
        if f.name != "ts":
            flush = flush.withColumn(f.name, F.lit(None).cast(f.dataType))
    flush.select(ev.columns).coalesce(1).write.mode("append").parquet(str(src))
    q = start()
    assert q.awaitTermination(120)

    got = sorted(
        tuple(r) for r in spark.read.parquet(sink).collect()
    )
    want = sorted(tuple(r) for r in tumbling_counts(spark, sf_dir).collect())
    assert got == want

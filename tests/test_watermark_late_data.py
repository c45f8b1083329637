"""Watermark semantics: in append mode a window is finalized once the
watermark passes its end; rows arriving later than the watermark are
dropped — the late-data policy the checklist requires.

Two availableNow runs share a checkpoint: run 1 advances the watermark
far past an early window; run 2 appends one VERY late row (targeting
that closed window) and one fresh row. The late row must not produce or
update any window; the fresh row must."""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.streaming.windows import stream_tumbling_counts

DDL = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _mk(spark, rows):
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf, schema=DDL)


def test_append_mode_drops_late_rows(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    t = dt.datetime(2024, 1, 1, 10, 0, 0)

    def run_once():
        captured = []

        def sink(batch_df, _):
            captured.append(batch_df.toPandas())

        q = (
            stream_tumbling_counts(spark, src)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = pd.concat(captured, ignore_index=True) if captured else pd.DataFrame()
        return out

    # run 1: events at 10:00 and 11:00 → watermark advances to ~10:50,
    # closing (and emitting) the 10:00-10:05 window
    _mk(
        spark,
        [
            (1, t, 1, "click", 1.0, "{}"),
            (2, t + dt.timedelta(hours=1), 1, "click", 1.0, "{}"),
        ],
    ).write.parquet(src)
    out1 = run_once()
    emitted1 = set(out1["wstart"]) if len(out1) else set()
    assert pd.Timestamp(t) in emitted1  # 10:00 window finalized + emitted

    # run 2: one row 2h LATE targeting the closed 10:00 window, one fresh
    # row at 11:02 advancing the stream
    _mk(
        spark,
        [
            (3, t + dt.timedelta(minutes=1), 2, "click", 1.0, "{}"),  # late!
            (4, t + dt.timedelta(hours=1, minutes=2), 2, "click", 1.0, "{}"),
            (5, t + dt.timedelta(hours=2), 2, "click", 1.0, "{}"),
        ],
    ).write.mode("append").parquet(src)
    out2 = run_once()

    assert len(out2), "run 2 emitted nothing"
    # the late row must NOT re-emit or update the closed 10:00 window
    reemitted = out2[out2["wstart"] == pd.Timestamp(t)]
    assert reemitted.empty, out2
    # the 11:00-11:05 window finalizes with BOTH contributors: run 1's
    # 11:00 event (held in restored state) and run 2's fresh 11:02 event
    # — state carried across runs, late data excluded
    eleven = out2[out2["wstart"] == pd.Timestamp(t + dt.timedelta(hours=1))]
    assert len(eleven) == 1 and int(eleven["n"].iloc[0]) == 2, out2

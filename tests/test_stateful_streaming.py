"""applyInPandasWithState: running per-user totals across MULTIPLE
micro-batches (maxFilesPerTrigger=1 over a 4-file source) must converge
to the batch aggregate — state carries between batches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.sources.tables import load_table
from simple_map_reduce_ruuner_spark.streaming.stateful import (
    stream_running_user_totals,
)
from simple_map_reduce_ruuner_spark.streaming.windows import EVENTS_DDL


def test_stateful_running_totals(spark, sf_dir, tmp_path):
    """Two sequential availableNow runs over a growing source directory,
    sharing one checkpoint: the second run restores state from the first
    (recovery), so running totals keep counting instead of restarting."""
    src_dir = tmp_path / "events_stream"
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, sf_dir, "events")
    first = ev.where(F.col("event_id") % 2 == 0)
    second = ev.where(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.parquet(str(src_dir))

    def run_once(name: str):
        import pandas as pd

        captured: list = []

        def sink(batch_df, batch_id):
            captured.append(batch_df.toPandas())

        q = (
            stream_running_user_totals(spark, str(src_dir), EVENTS_DDL)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return pd.concat(captured, ignore_index=True)

    updates1 = run_once("running_totals_1")
    half = {
        r.user_id: r.n
        for r in first.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert updates1.groupby("user_id")["n_events"].max().to_dict() == half

    # append the second half of the data, resume from the same checkpoint
    second.coalesce(1).write.mode("append").parquet(str(src_dir))
    updates2 = run_once("running_totals_2")

    expected = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # totals CONTINUED from restored state (not restarted at zero)
    assert updates2.groupby("user_id")["n_events"].max().to_dict() == expected


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def test_stateful_totals_on_rocksdb_state_store(spark, sf_dir, tmp_path):
    """The same running-totals stream on the RocksDB state-store
    provider — the 100 TB state configuration (per-key state out of JVM
    heap, incremental checkpoints), pinned here so the production
    provider is wired, not just name-dropped. Asserts the provider
    actually engaged (RocksDB custom metrics in the query progress) and
    that results are identical to the default-provider run above.
    Skips only if the bundled RocksDB native library can't load in this
    container."""
    import pandas as pd

    src_dir = tmp_path / "events_rocks"
    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(1).write.parquet(str(src_dir))

    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    captured: list = []
    q = None
    try:
        q = (
            stream_running_user_totals(spark, str(src_dir), EVENTS_DDL)
            .writeStream.foreachBatch(
                lambda b, i: captured.append(b.toPandas())
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
            .trigger(availableNow=True)
            .start()
        )
        # on a False (timeout) return, lastProgress can be None and the
        # metric lookup below would die as an opaque TypeError
        finished = q.awaitTermination(180)
        assert finished, "availableNow stream did not terminate within 180s"
        progress = q.lastProgress
    except Exception as e:  # pragma: no cover - environment-dependent
        if "rocksdb" in str(e).lower() or "UnsatisfiedLink" in str(e):
            pytest.skip(f"RocksDB native library unavailable: {e}")
        raise
    finally:
        # stop the query even on timeout/failure so a live stream can't
        # leak into (and destabilize) the rest of the suite
        if q is not None and q.isActive:
            q.stop()
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", saved
            )

    metrics = progress["stateOperators"][0]["customMetrics"]
    assert any("rocksdb" in k.lower() for k in metrics), metrics
    out = pd.concat(captured, ignore_index=True)
    expected = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert out.groupby("user_id")["n_events"].max().to_dict() == expected

#!/usr/bin/env python
"""Streaming crash-recovery probe — exactly-once evidence under a REAL
crash (SIGKILL of the whole driver+JVM process group mid-batch), not a
graceful stop.

The reference has zero fault tolerance: a chunk is deleted the moment it
is dispatched (Executor.java:62), so a worker crash loses data
permanently. Structured Streaming's checkpoint (WAL offsets + committed
batch log + RocksDB state snapshots) plus the parquet file sink's
_spark_metadata commit log subsume that gap — this probe proves it
end-to-end:

phase 1  child process runs stream_tumbling_counts (RocksDB state, file
         sink, maxFilesPerTrigger=1 over 8 staged source files); the
         parent watches the checkpoint commit log and SIGKILLs the
         child's PROCESS GROUP after >=2 commits — mid-run, often
         mid-batch, with no shutdown hooks.
phase 2  fresh process restarts the SAME query from the checkpoint with
         trigger(availableNow) and runs the remaining batches to
         completion.
flush    one far-future event is staged and a third run advances the
         watermark past every real window so append mode emits them all
         (the flush event's own window stays above the watermark and is
         never emitted — excluded from the oracle).
check    the committed sink view (spark.read respects _spark_metadata)
         must equal the DuckDB batch oracle (TUMBLING_COUNTS_SQL) over
         the 8 real source files EXACTLY — no duplicates from the
         replayed batch, no loss from the killed one. Raw files on disk
         under the sink may exceed the committed view (orphan output of
         the killed batch); both counts are published.

Usage: python tools/stream_recovery_probe.py [--sf-dir /root/testdata/sf0.1]
Prints the JSON record as the last stdout line; writes nothing to the repo.
"""

from __future__ import annotations

import glob
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import tempfile
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

N_SOURCE_FILES = 8
KILL_AFTER_COMMITS = 2

CHILD_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from simple_map_reduce_ruuner_spark.session import get_spark
from simple_map_reduce_ruuner_spark.streaming.windows import stream_tumbling_counts

spark = get_spark(app_name="smrr-recovery-child", cpus="8")
spark.sparkContext.setLogLevel("ERROR")
spark.conf.set(
    "spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
)
q = (
    stream_tumbling_counts(
        spark, {src!r}, reader_options={{"maxFilesPerTrigger": "1"}}
    )
    .writeStream.format("parquet")
    .option("path", {sink!r})
    .option("checkpointLocation", {ckpt!r})
    .outputMode("append")
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
print("CHILD_FINISHED", flush=True)
"""


def _n_commits(ckpt: pathlib.Path) -> int:
    d = ckpt / "commits"
    if not d.is_dir():
        return 0
    return len([p for p in d.iterdir() if p.name.isdigit()])


def run_stream_to_completion(src: str, sink: str, ckpt: str) -> None:
    """Phase-2/flush runner: fresh process via the same child script,
    awaited to completion (exit 0 required)."""
    code = CHILD_SCRIPT.format(repo=str(REPO), src=src, sink=sink, ckpt=ckpt)
    subprocess.run([sys.executable, "-c", code], check=True, cwd="/tmp", timeout=900)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = (
        args[args.index("--sf-dir") + 1]
        if "--sf-dir" in args
        else "/root/testdata/sf0.1"
    )

    import duckdb

    from simple_map_reduce_ruuner_spark.session import get_spark
    from simple_map_reduce_ruuner_spark.sources.tables import load_table
    from simple_map_reduce_ruuner_spark.streaming.windows import TUMBLING_COUNTS_SQL

    spark = get_spark(app_name="smrr-recovery-probe", cpus="8")
    spark.sparkContext.setLogLevel("ERROR")

    work = pathlib.Path(tempfile.mkdtemp(prefix="stream_recovery_"))
    src_dir = work / "events_src"
    sink = work / "sink"
    ckpt = work / "ckpt"

    ev = load_table(spark, sf_dir, "events")
    n_rows = ev.count()
    # Stage TIME-ORDERED files with increasing modification times: a real
    # stream arrives roughly in event-time order, and the file source
    # processes files by modTime — randomly-partitioned files would let
    # batch 1 push the watermark to global-max minus 10min and drop
    # batches 2..8 as late data (the late policy working as designed, but
    # then the batch oracle can't be an equality check).
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    tiled = ev.withColumn(
        "_tile",
        F.ntile(N_SOURCE_FILES).over(Window.orderBy("ts", "event_id")),
    )
    src_dir.mkdir(parents=True)
    for i in range(1, N_SOURCE_FILES + 1):
        tmp = work / f"stage_{i}"
        tiled.where(F.col("_tile") == i).drop("_tile").coalesce(1).write.parquet(
            str(tmp)
        )
        part = glob.glob(str(tmp / "part-*.parquet"))[0]
        shutil.move(part, src_dir / f"{i:02d}.parquet")  # move sets modTime
        shutil.rmtree(tmp)
    real_files = sorted(glob.glob(str(src_dir / "*.parquet")))
    assert len(real_files) == N_SOURCE_FILES
    print(f"staged {n_rows:,} events into {N_SOURCE_FILES} time-ordered files")

    # ---- phase 1: run in a child process group, SIGKILL mid-run --------
    code = CHILD_SCRIPT.format(
        repo=str(REPO), src=str(src_dir), sink=str(sink), ckpt=str(ckpt)
    )
    child = subprocess.Popen(
        [sys.executable, "-c", code],
        cwd="/tmp",
        start_new_session=True,  # own process group: the kill takes the JVM too
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    t0 = time.perf_counter()
    killed_at_commits = None
    while time.perf_counter() - t0 < 600:
        if child.poll() is not None:
            break  # finished before we could kill — handled below
        n = _n_commits(ckpt)
        if n >= KILL_AFTER_COMMITS:
            os.killpg(child.pid, signal.SIGKILL)
            killed_at_commits = n
            break
        time.sleep(0.05)
    child.wait(timeout=60)
    assert killed_at_commits is not None, (
        "child finished all batches before the kill window — "
        "increase N_SOURCE_FILES or lower KILL_AFTER_COMMITS"
    )
    commits_after_kill = _n_commits(ckpt)
    assert commits_after_kill < N_SOURCE_FILES, "kill landed after completion"
    print(
        f"phase 1: SIGKILLed process group at {killed_at_commits} commits "
        f"(on-disk after kill: {commits_after_kill}/{N_SOURCE_FILES})"
    )

    # ---- phase 2: restart from checkpoint, run to completion -----------
    t1 = time.perf_counter()
    run_stream_to_completion(str(src_dir), str(sink), str(ckpt))
    recovery_sec = time.perf_counter() - t1
    commits_after_restart = _n_commits(ckpt)
    print(
        f"phase 2: restart completed in {recovery_sec:.1f}s "
        f"({commits_after_restart} commits total)"
    )

    # ---- flush: advance the watermark past every real window -----------
    from pyspark.sql import functions as F

    max_ts = ev.agg({"ts": "max"}).collect()[0][0]
    flush = spark.createDataFrame(
        [(max_ts + __import__("datetime").timedelta(days=30),)], "ts timestamp_ntz"
    )
    for f in ev.schema.fields:  # null out every non-ts column, exact types
        if f.name != "ts":
            flush = flush.withColumn(f.name, F.lit(None).cast(f.dataType))
    flush = flush.select(ev.columns)  # match staged column order
    flush.coalesce(1).write.mode("append").parquet(str(src_dir))
    run_stream_to_completion(str(src_dir), str(sink), str(ckpt))
    print("flush: watermark advanced past all real windows")

    # ---- check: committed sink == DuckDB batch oracle over real files --
    committed = (
        spark.read.parquet(str(sink))
        .toPandas()
        .sort_values(["wstart", "event_type"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    files_sql = ", ".join("'" + f.replace("'", "''") + "'" for f in real_files)
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet([{files_sql}])"
    )
    oracle = (
        con.execute(TUMBLING_COUNTS_SQL + " ORDER BY wstart, event_type")
        .df()
        .reset_index(drop=True)
    )
    committed["wstart"] = committed["wstart"].astype("datetime64[us]")
    oracle["wstart"] = oracle["wstart"].astype("datetime64[us]")
    committed = committed[list(oracle.columns)]
    exact = committed.equals(oracle)
    n_raw = len(glob.glob(str(sink / "part-*")))
    n_committed_files = len(
        spark.read.parquet(str(sink)).inputFiles()
    )
    print(
        f"check: committed rows={len(committed)} oracle rows={len(oracle)} "
        f"exact={exact}; raw part files={n_raw} committed files={n_committed_files}"
    )
    assert exact, "committed sink does not equal the batch oracle"

    doc = {
        "sf_dir": sf_dir,
        "input_rows": n_rows,
        "source_files": N_SOURCE_FILES,
        "state_store_provider": "RocksDB",
        "kill": {
            "method": "SIGKILL of the child driver+JVM process group, no shutdown hooks",
            "commits_at_kill": killed_at_commits,
            "commits_on_disk_after_kill": commits_after_kill,
        },
        "recovery": {
            "restart_wall_sec": round(recovery_sec, 1),
            "commits_after_restart": commits_after_restart,
        },
        "exactly_once": {
            "committed_rows": int(len(committed)),
            "oracle_rows": int(len(oracle)),
            "value_exact_match": bool(exact),
            "raw_part_files_on_disk": n_raw,
            "committed_part_files": n_committed_files,
            "orphan_files_ignored_by_metadata_log": n_raw - n_committed_files,
        },
        "method": (
            "file-replay of sf0.1 events in 8 single-file micro-batches; "
            "child killed via killpg after >=2 checkpoint commits; fresh "
            "process resumes from WAL+RocksDB checkpoint; far-future flush "
            "event advances the watermark so append mode emits every real "
            "window; committed parquet sink view (respecting "
            "_spark_metadata) compared value-exactly to the DuckDB "
            "TUMBLING_COUNTS_SQL oracle over the 8 real source files"
        ),
    }
    print(json.dumps(doc))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Chunked text ingestion and single-file text sink.

Reproduces the reference's data-plane contract on Spark primitives:

- ``read_text_chunked`` = the master's ``shredDateFile``
  (Master.java:226-247): split an uploaded text file into size-bounded,
  line-aligned chunks. Spark's text source performs exactly this split
  when ``spark.sql.files.maxPartitionBytes`` is bounded; each resulting
  partition is what the reference would ship to one worker as a mapper
  input.
- ``write_text_single`` = the master's final merge + ``final_result.out``
  sink (Master.java:172-178): one ordered text file.

At 100 TB the chunked read is embarrassingly parallel (one task per
split); the single-file sink is inherently serial and exists only for
reference fidelity — large outputs should use ``df.write.text(dir)``
with natural parallelism instead.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CHUNK_MB = 10  # reference default blockSize, Master.java:45

_MAX_PARTITION_BYTES = "spark.sql.files.maxPartitionBytes"


def read_text_chunked(
    spark: SparkSession, path: str, chunk_mb: int = DEFAULT_CHUNK_MB
) -> DataFrame:
    """Read newline-delimited text as DataFrame[value: string], splitting
    the file into line-aligned chunks of at most ``chunk_mb`` MB — the
    same partitioning the reference master computes by hand.

    Spark evaluates ``maxPartitionBytes`` when the scan is executed, so the
    conf is left set on the session — it is the session-level equivalent of
    the reference's per-job ``chunk_size`` form field.
    """
    spark.conf.set(_MAX_PARTITION_BYTES, str(chunk_mb * 1024 * 1024))
    return spark.read.text(path)


def write_text_single(df: DataFrame, out_path: str) -> str:
    """Write a single text file (reference A9: final_result.out) from
    ``df``'s first column, which must be a string. Returns the path of
    the written file.
    """
    col = df.columns[0]
    tmp_dir = out_path + ".__tmpdir__"
    try:
        df.select(col).coalesce(1).write.mode("overwrite").text(tmp_dir)
        part = glob.glob(os.path.join(tmp_dir, "part-*"))[0]
        shutil.move(part, out_path)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
    return out_path

"""Generic external-process map/reduce surface — the reference's product.

The reference's entire user-facing capability (SURVEY.md §2.A A5/A8,
§2.B B14/B15) is: split a text file into line-aligned chunks, run an
arbitrary user *mapper* program over each chunk, concatenate the outputs,
and run an arbitrary user *reducer* program once over the concatenation
(exec contract: Worker.java:134-160 for the map side, Master.java:182-208
for the reduce side). Correct user programs therefore compute
chunk-partial → global-final algebraic aggregations (SURVEY.md §1.4).

Spark-native equivalents provided here:

- :func:`pipe_map_reduce` — exact fidelity. Spark SQL script
  transformation (``SELECT TRANSFORM(...) USING '<cmd>'``) execs the user
  command once per partition inside the JVM, streaming the partition's
  lines to stdin and reading result lines from stdout (the reference
  ships files via HTTP + argv instead of stdin/stdout; semantics are
  identical: a whole chunk in, result lines out). No row crosses into a
  Python worker. The reduce command runs on a single coalesced
  partition, exactly like the reference's one reducer on the master.
  Mapper parallelism scales with partitions; the single reducer is the
  same serial bottleneck the reference has — by design.

At 100 TB: piped maps are embarrassingly parallel (one exec per
partition, ~maxPartitionBytes-sized). The global single reduce only works
when the mapped output is small (aggregated partials); that is exactly
the reference's implicit contract, and callers needing distributed
reduction should express it as ``groupBy().agg()`` instead (every named
query in the registry does).
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import pathlib
import shlex
import subprocess
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.sources.tables import ckpt, release

# One text column each way, one line per row. The field delimiter is the
# line delimiter, so a line is never cut at a tab, and NULL is spelled as
# a newline, which no line read back can equal, so a literal "\N" line
# stays text instead of turning into NULL.
_LINES = r"ROW FORMAT DELIMITED FIELDS TERMINATED BY '\n' NULL DEFINED AS '\n'"


def _transform(df: DataFrame, cmd: str) -> DataFrame:
    """Pipe the one text column of ``df`` through ``cmd`` (run by
    ``/bin/bash -c``) once per non-empty partition; a nonzero exit fails
    the task with "Subprocess exited with status N"."""
    # Drain what the program left unread, so one that stops reading early
    # (``head -1``) does not fail the feeder thread with a broken pipe; the
    # program's own exit status is kept. The shell also holds stdout open
    # until the program has exited, so that status is always checked.
    script = f"{cmd}\nrc=$?; cat >/dev/null; exit $rc"
    # a SQL string literal, inside a str.format template (spark.sql's
    # DataFrame arguments)
    literal = script.replace("\\", "\\\\").replace("'", "\\'")
    literal = literal.replace("{", "{{").replace("}", "}}")
    return df.sparkSession.sql(
        f"SELECT TRANSFORM(*) {_LINES} USING '{literal}' AS (line STRING) {_LINES} FROM {{df}}",
        df=df,
    )


def pipe_map_reduce(
    df: DataFrame,
    mapper_cmd: str,
    reducer_cmd: str,
) -> DataFrame:
    """Run external map/reduce programs over a text DataFrame.

    Programs read lines on stdin and write lines to stdout (the pipe
    twin of the reference's ``<prog> <in_file> <out_file>`` contract).
    The map phase runs before this returns; the reduce runs when the
    returned ``DataFrame[line]`` is executed.

    Where this differs from ``RDD.pipe``:

    - a bare ``\\r`` ends a line of program output, like ``\\n``;
    - an empty partition does not start the mapper (the reference never
      ships an empty chunk); the reducer still runs once, on empty stdin,
      when the map output is empty, as the reference's does;
    - programs run through ``/bin/bash -c`` and inherit the executor's
      environment (``RDD.pipe`` ran them with an empty one).

    :param df: input; its first column is the text. NULL rows are
        dropped. Each partition is one chunk.
    :param mapper_cmd: shell command run once per chunk/partition.
    :param reducer_cmd: shell command run once, globally.
    """
    lines = df.select(df.columns[0]).dropna()
    # Materialize the map phase BEFORE the single-partition reduce: a
    # bare coalesce(1) is a narrow dependency that would pull every
    # chunk's mapper into ONE task, serializing all mappers on one core
    # (the bottleneck the reference avoids with per-worker dispatch,
    # Master.java:212-224). The eager checkpoint runs one mapper per
    # partition in parallel and keeps its output authoritative (a
    # non-deterministic mapper is never re-run); coalesce(1) then
    # concatenates the blocks in partition order. The row count rides
    # the same job.
    seen = Observation()
    mapped = ckpt(_transform(lines, mapper_cmd).observe(seen, F.count(F.lit(1)).alias("n")))
    if seen.get["n"] == 0:
        # The reference runs its reducer over the merged file even when
        # that is empty (Master.java:182-208). TRANSFORM skips an empty
        # partition, so feed one line that the command discards first.
        # Nothing reads the (empty) map checkpoint from here on.
        release(mapped)
        empty = df.sparkSession.range(1, numPartitions=1).select(F.lit("").alias("value"))
        return _transform(empty, f"cat >/dev/null; {reducer_cmd}")
    # Global single reduce (reference Master.java:182-208): all mapped
    # partials to one partition, one reducer process.
    return _transform(mapped.coalesce(1), reducer_cmd)


def _app_dir(spark: SparkSession) -> str:
    """A directory private to this Spark application (mode 0700), inside
    its ``SparkFiles`` root, which Spark deletes when the application
    stops."""
    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    path = os.path.join(root, "smrr")
    os.makedirs(path, mode=0o700, exist_ok=True)
    return path


def _publish(path: str, write) -> None:
    """Create ``path`` through ``write(tmp_path)`` and an atomic rename, so
    a concurrent reader sees either no file or the whole file. A failed
    ``write`` leaves nothing behind."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        write(tmp)
        os.replace(tmp, path)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


# Spools stdin to a file, runs "$@" <in> <out> with the program's own
# stdout diverted to stderr, then emits the out file; the exit status
# is the program's.
_ARGV_SHIM = (
    "#!/bin/sh\n"
    'i=$(mktemp) || exit 1\no=$(mktemp) || exit 1\n'
    'cat > "$i"\n'
    '"$@" "$i" "$o" 1>&2\n'
    "rc=$?\n"
    '[ "$rc" -eq 0 ] && cat "$o"\n'
    'rm -f "$i" "$o"\n'
    'exit "$rc"\n'
)


def argv_file_command(spark: SparkSession, program_cmd: str) -> str:
    """Bridge a ``<prog> <in_file> <out_file>`` program (the reference's
    exec contract, Worker.java:134-160) onto the stdin/stdout pipe surface
    — so the reference's OWN example programs run unmodified.

    Returns a command running one constant shell shim, written once per
    application, with ``program_cmd`` as its arguments. The shim spools
    the partition's stdin to a temp file, runs the program with (in, out)
    argv paths, and emits the output file to stdout. The program's own
    stdout is diverted to stderr (reference programs write results only
    to the out file). Nonzero exit propagates, so the failed task
    surfaces the way the reference master reports "something wrong!"
    (Worker.java:154-158).

    ``program_cmd`` is a simple command: shell-quoted words, no pipes or
    redirections. On a real cluster ship the shim with
    ``SparkContext.addFile`` like any user binary.
    """
    shim = os.path.join(_app_dir(spark), "argv_shim.sh")
    if not os.path.exists(shim):
        _publish(shim, lambda tmp: pathlib.Path(tmp).write_text(_ARGV_SHIM))
    return f"/bin/sh {shlex.quote(shim)} {program_cmd}"


_GXX = ("g++", "--std=c++11", "-O2")


def _gxx(source_path: str, *args: str, stdin: bytes | None = None) -> bytes:
    try:
        return subprocess.run(
            [*_GXX, *args], input=stdin, check=True, capture_output=True
        ).stdout
    except subprocess.CalledProcessError as exc:
        stderr = exc.stderr.decode(errors="replace")
        raise RuntimeError(f"g++ could not compile {source_path}:\n{stderr}") from exc


def compile_cpp_program(spark: SparkSession, source_path: str) -> str:
    """Compile a user C++ map/reduce program the way the reference worker
    does (``g++ --std=c++11``, Worker.java:146-151), once per Spark
    application. Returns the binary path, usable as a
    ``pipe_map_reduce`` command. A failed compile raises
    ``RuntimeError`` with g++'s diagnostics and is not cached.

    The binary is keyed on the sha256 of the g++ flags and the
    preprocessed source (``g++ -E``, ~0.1 s against ~0.7 s for a full
    compile), so an edit to the program or to any header it includes
    compiles again, and the compile reads exactly the text that was
    hashed. Binaries live in a directory private to the application and
    go away when it stops; each is published with an atomic rename, so a
    concurrent job never runs a half-written file.

    On a real cluster the binary must be shipped to executors
    (``spark.sparkContext.addFile``) or built on a shared volume; in
    local mode the filesystem is shared.
    """
    source = _gxx(source_path, "-E", source_path)
    key = hashlib.sha256("\0".join(_GXX).encode() + b"\0" + source).hexdigest()
    binary = os.path.join(_app_dir(spark), key)
    if not os.path.exists(binary):
        _publish(
            binary,
            lambda tmp: _gxx(source_path, "-x", "c++-cpp-output", "-o", tmp, "-", stdin=source),
        )
    return binary

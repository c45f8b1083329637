"""The reference's end-to-end job surface as one call.

A reference "job" is (data file, mapper program, reducer program,
language, chunk MB) submitted over HTTP (Master.java:87-129); the result
is a downloadable text file. :func:`run_job` is that exact surface on
Spark:

    run_job(spark, data_path, mapper_src, reducer_src,
            lang="py"|"cpp", chunk_mb=10, out_path=...)

pipeline: chunked line-aligned text read (A1) → per-chunk external map
(A5, Spark SQL ``TRANSFORM ... USING``) → global single reduce (A7+A8,
``TRANSFORM`` over ``coalesce(1)``) → single text file (A9). Programs use
the stdin/stdout pipe contract (the reference ships argv files; semantics
identical — whole chunk in, result lines out). C++ sources are compiled
like the reference worker does (Worker.java:146-151), but once per Spark
application: the binary is cached under a key on its preprocessed
source, so only an edited program or header compiles again.

The one difference from a 100 TB engine: the single global reducer is
kept deliberately for contract fidelity — it is only correct/fast when
mappers emit compact partials (SURVEY.md §1.4), which is also exactly
when the reference itself is correct. Scale users express the reduce as
``groupBy().agg()`` (every registry query).
"""

from __future__ import annotations

import shlex
import sys

from pyspark.sql import DataFrame, SparkSession

from simple_map_reduce_ruuner_spark.mapreduce import (
    argv_file_command,
    compile_cpp_program,
    pipe_map_reduce,
)
from simple_map_reduce_ruuner_spark.sources.text import (
    _MAX_PARTITION_BYTES,
    DEFAULT_CHUNK_MB,
    read_text_chunked,
    write_text_single,
)
from simple_map_reduce_ruuner_spark.sources.tables import release


def _as_command(spark: SparkSession, src_path: str, lang: str) -> str:
    if lang == "py":
        return f"{shlex.quote(sys.executable)} {shlex.quote(src_path)}"
    if lang == "cpp":
        return shlex.quote(compile_cpp_program(spark, src_path))
    raise ValueError(f"unsupported lang {lang!r}: expected 'py' or 'cpp'")


# Last run_job outcome, phase strings verbatim from the reference master
# (Master.java:186,188 — "something wrong!" / "All done!"). A failure
# anywhere through the (eager) map phase flips this in every branch;
# "All done!" is reported only by the out_path branch, which drives the
# job to completion — with out_path=None the caller executes the
# residual reduce and its outcome is outside this tracker.
_IDLE = "idle — no job run yet"
_last_outcome = _IDLE


def job_status(spark: SparkSession) -> dict:
    """A10: the reference's ``/progress`` page (Master.java:71-73) as an
    accessor — current phase plus live per-stage task progress from
    ``statusTracker`` (the reference polls workers' currentPhase,
    Worker.java:57-59; Spark's status tracker is that poll, built in).
    """
    st = spark.sparkContext.statusTracker()
    active_jobs = list(st.getActiveJobsIds())
    stages = []
    for sid in st.getActiveStageIds():
        si = st.getStageInfo(sid)
        if si is not None:
            stages.append(
                {
                    "stage_id": sid,
                    "num_tasks": si.numTasks,
                    "active_tasks": si.numActiveTasks,
                    "completed_tasks": si.numCompletedTasks,
                    "failed_tasks": si.numFailedTasks,
                }
            )
    phase = "running mapper/reducer phase..." if active_jobs else _last_outcome
    return {"phase": phase, "active_jobs": active_jobs, "active_stages": stages}


def run_job(
    spark: SparkSession,
    data_path: str,
    mapper_src: str,
    reducer_src: str,
    lang: str = "py",
    chunk_mb: int = DEFAULT_CHUNK_MB,
    out_path: str | None = None,
    mapper_lang: str | None = None,
    reducer_lang: str | None = None,
    argv_files: bool = False,
) -> DataFrame | str:
    """Run a full reference-style job. Returns the result DataFrame, or
    writes ``out_path`` (the reference's final_result.out) and returns
    its path. ``mapper_lang``/``reducer_lang`` override ``lang`` per
    program (the reference fixes one language per job; we allow mixing).

    ``argv_files=True`` runs programs with the reference's literal
    ``<prog> <in_file> <out_file>`` exec contract (Worker.java:134-160)
    instead of stdin/stdout — the reference's own example sources run
    unmodified.
    """
    global _last_outcome
    # chunk_mb is applied via spark.sql.files.maxPartitionBytes, which the
    # scan reads at EXECUTION time. pipe_map_reduce materializes the map
    # phase eagerly (its parallel-map contract), so the scan has consumed
    # the knob by the time it returns and the restore below is safe in
    # EVERY branch — including early failures (a missing input path, an
    # unknown lang or a C++ source that does not compile), which must all
    # report "something wrong!" rather than the previous job's phase.
    prev_split = spark.conf.get(_MAX_PARTITION_BYTES, None)
    out = None
    try:
        mapper_cmd = _as_command(spark, mapper_src, mapper_lang or lang)
        reducer_cmd = _as_command(spark, reducer_src, reducer_lang or lang)
        if argv_files:
            mapper_cmd = argv_file_command(spark, mapper_cmd)
            reducer_cmd = argv_file_command(spark, reducer_cmd)
        lines = read_text_chunked(spark, data_path, chunk_mb=chunk_mb)
        result = pipe_map_reduce(lines, mapper_cmd, reducer_cmd)
        if out_path is not None:
            # once the output is written nothing reads the map checkpoint
            try:
                out = write_text_single(result, out_path)
            finally:
                release(result)
    except Exception:
        # reference master surfaces any worker/reducer failure as the
        # "something wrong!" phase (Master.java:186,203; Worker.java:154-158)
        _last_outcome = "something wrong!"
        raise
    finally:
        if prev_split is None:
            spark.conf.unset(_MAX_PARTITION_BYTES)
        else:
            spark.conf.set(_MAX_PARTITION_BYTES, prev_split)
    if out_path is None:
        # the map phase already ran (and would have reported failure);
        # the caller drives the residual single-partition reduce from
        # the returned frame, which job_status does not track further
        return result
    _last_outcome = "All done!"
    return out


def observed(df: DataFrame, metrics: dict):
    """A10 extension: attach pipeline audit metrics that are computed as
    a side-effect of the SAME action that materializes ``df``.

    The reference's progress page reports only task phase
    (Master.java:71-73); production pipelines also need row-count /
    quality audits ("how many rows survived the filter?"), and the
    naive way — a second ``df.count()`` — re-runs the whole plan, a
    full extra 100 TB scan. ``Dataset.observe`` instead folds the
    metric aggregates into the existing plan's execution (an
    accumulator-backed CollectMetrics node, no extra exchange, no extra
    job).

    Returns ``(df_with_metrics, observation)``; after ANY action on the
    returned frame, ``observation.get`` yields the metric dict.

        df, obs = observed(clean, {"n_rows": F.count(F.lit(1)),
                                   "null_keys": F.count_if(F.col("k").isNull())})
        df.write.parquet(out)      # one pass...
        audit = obs.get            # ...metrics came along for free
    """
    from pyspark.sql import Observation

    obs = Observation("job_metrics")
    cols = [c.alias(n) for n, c in metrics.items()]
    return df.observe(obs, *cols), obs

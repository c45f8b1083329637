"""Full reference-job surface: run_job replays the reference's own
suspects workload (its committed input through MY external programs via
the complete chunk→map→merge→reduce→sink pipeline) and reproduces its
committed golden output file."""

from __future__ import annotations

import os

import pytest

from simple_map_reduce_ruuner_spark.engine import run_job

EXAMPLES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"
)
REF_SUSPECTS = "/root/reference/exampleCodes/finding_the_suspects"


@pytest.mark.skipif(
    not os.path.exists(f"{REF_SUSPECTS}/sample.data"),
    reason="reference fixture not present",
)
def test_run_job_suspects_golden(spark, tmp_path):
    out = str(tmp_path / "final_result.out")
    run_job(
        spark,
        data_path=f"{REF_SUSPECTS}/sample.data",
        mapper_src=f"{EXAMPLES}/suspects_mapper.py",
        reducer_src=f"{EXAMPLES}/suspects_reducer.py",
        lang="py",
        chunk_mb=1,  # force multiple chunks → real partial/final merging
        out_path=out,
    )

    def load(path):
        rows = set()
        with open(path) as fh:
            for line in fh:
                toks = line.split()
                if toks:
                    rows.add((toks[0], frozenset(toks[1:])))
        return rows

    assert load(out) == load(f"{REF_SUSPECTS}/final_result.out")


def test_run_job_mixed_languages(spark, sf_dir, tmp_path):
    """cpp mapper + py reducer through the full job surface."""
    from simple_map_reduce_ruuner_spark.operators.wordcount import word_count_df
    from simple_map_reduce_ruuner_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    data = str(tmp_path / "docs.txt")
    with open(data, "w") as fh:
        for r in docs.select("text").collect():
            fh.write(r.text + "\n")

    result = run_job(
        spark,
        data_path=data,
        mapper_src=f"{EXAMPLES}/wordcount_mapper.cpp",
        reducer_src=f"{EXAMPLES}/wordcount_reducer.py",
        mapper_lang="cpp",
        reducer_lang="py",
    )
    got = {tuple(r.line.rsplit(" ", 1)) for r in result.collect()}
    expected = {(r.word, str(r.cnt)) for r in word_count_df(docs).collect()}
    assert got == expected


def test_run_job_rejects_unknown_lang(spark, tmp_path):
    with pytest.raises(ValueError, match="unsupported lang"):
        run_job(spark, "x", "m", "r", lang="java")


def test_mapper_failure_surfaces_and_sets_phase(spark, tmp_path):
    """A5 failure semantics: a nonzero-exit mapper fails the job (the
    exit-status check, twin of Worker.java:154-158) and job_status reports
    the reference's "something wrong!" phase (Master.java:186)."""
    from simple_map_reduce_ruuner_spark.engine import job_status

    data = str(tmp_path / "in.txt")
    with open(data, "w") as fh:
        fh.write("a b c\n" * 100)
    bad_mapper = str(tmp_path / "bad_mapper.py")
    with open(bad_mapper, "w") as fh:
        fh.write("import sys\nsys.exit(3)\n")
    identity = str(tmp_path / "identity_reducer.py")
    with open(identity, "w") as fh:
        fh.write("import sys\nsys.stdout.write(sys.stdin.read())\n")

    out = str(tmp_path / "out.txt")
    with pytest.raises(Exception, match="exited with|Pipe function"):
        run_job(
            spark,
            data_path=data,
            mapper_src=bad_mapper,
            reducer_src=identity,
            lang="py",
            out_path=out,
        )
    assert job_status(spark)["phase"] == "something wrong!"
    assert not os.path.exists(out)


def test_compile_failure_after_success_sets_phase(spark, tmp_path):
    """A C++ mapper that does not compile fails the job before any Spark
    work: job_status must move from the previous job's "All done!" to
    "something wrong!", the error must carry g++'s diagnostic, and no
    result file is written."""
    from simple_map_reduce_ruuner_spark.engine import job_status

    data = str(tmp_path / "in.txt")
    with open(data, "w") as fh:
        fh.write("x y\n" * 10)
    identity = str(tmp_path / "identity.py")
    with open(identity, "w") as fh:
        fh.write("import sys\nsys.stdout.write(sys.stdin.read())\n")
    run_job(spark, data, identity, identity, lang="py", out_path=str(tmp_path / "ok.txt"))
    assert job_status(spark)["phase"] == "All done!"

    broken = str(tmp_path / "broken_mapper.cpp")
    with open(broken, "w") as fh:
        fh.write("int main() { return undeclared_name; }\n")
    out = str(tmp_path / "out.txt")
    with pytest.raises(Exception) as exc:
        run_job(
            spark,
            data_path=data,
            mapper_src=broken,
            reducer_src=identity,
            mapper_lang="cpp",
            reducer_lang="py",
            out_path=out,
        )
    assert "error:" in str(exc.value)
    assert job_status(spark)["phase"] == "something wrong!"
    assert not os.path.exists(out)


def test_reducer_failure_surfaces_and_leaves_no_files(spark, tmp_path):
    """A8 failure semantics: a nonzero-exit reducer fails the job inside
    the sink's write, job_status reports "something wrong!", and neither
    the result file nor the sink's temp dir is left behind."""
    from simple_map_reduce_ruuner_spark.engine import job_status

    data = str(tmp_path / "in.txt")
    with open(data, "w") as fh:
        fh.write("a b c\n" * 100)
    identity = str(tmp_path / "identity.py")
    with open(identity, "w") as fh:
        fh.write("import sys\nsys.stdout.write(sys.stdin.read())\n")
    bad_reducer = str(tmp_path / "bad_reducer.py")
    with open(bad_reducer, "w") as fh:
        fh.write("import sys\nsys.stdin.read()\nsys.exit(4)\n")

    out = str(tmp_path / "out.txt")
    with pytest.raises(Exception, match="exited with"):
        run_job(spark, data, identity, bad_reducer, lang="py", out_path=out)
    assert job_status(spark)["phase"] == "something wrong!"
    assert not os.path.exists(out)
    assert not os.path.exists(out + ".__tmpdir__")


def test_reducer_runs_once_on_empty_map_output(spark, tmp_path):
    """The reference runs its reducer over the merged file even when it is
    empty (Master.java:182-208): an empty data file still yields the
    reducer's output, produced from empty stdin."""
    data = str(tmp_path / "empty.txt")
    open(data, "w").close()
    identity = str(tmp_path / "identity.py")
    with open(identity, "w") as fh:
        fh.write("import sys\nsys.stdout.write(sys.stdin.read())\n")
    total = str(tmp_path / "total.py")
    with open(total, "w") as fh:
        fh.write("import sys\nprint('total', len(sys.stdin.read()))\n")

    out = run_job(spark, data, identity, total, lang="py", out_path=str(tmp_path / "out.txt"))
    with open(out) as fh:
        assert fh.read() == "total 0\n"


def test_program_paths_are_shell_quoted(spark, tmp_path):
    """Program sources under a directory whose name has a space, an
    apostrophe and braces run as-is (quoted for the shell, escaped for
    the SQL literal), for both languages."""
    odd = tmp_path / "user's {progs} dir"
    odd.mkdir()
    for name in ("wordcount_mapper.cpp", "wordcount_reducer.py"):
        (odd / name).write_bytes(open(f"{EXAMPLES}/{name}", "rb").read())
    data = str(tmp_path / "in.txt")
    with open(data, "w") as fh:
        fh.write("x y x\n" * 10)

    result = run_job(
        spark,
        data_path=data,
        mapper_src=str(odd / "wordcount_mapper.cpp"),
        reducer_src=str(odd / "wordcount_reducer.py"),
        mapper_lang="cpp",
        reducer_lang="py",
    )
    assert {r.line for r in result.collect()} == {"x 20", "y 10"}


def test_run_job_restores_max_partition_bytes(spark, tmp_path):
    """An executed job must not leak its chunk_mb into the session: later
    parquet scans would silently inherit the tiny split size."""
    key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "134217728")
    data = str(tmp_path / "in.txt")
    with open(data, "w") as fh:
        fh.write("x\n" * 10)
    identity = str(tmp_path / "identity.py")
    with open(identity, "w") as fh:
        fh.write("import sys\nsys.stdout.write(sys.stdin.read())\n")
    run_job(
        spark,
        data_path=data,
        mapper_src=identity,
        reducer_src=identity,
        lang="py",
        chunk_mb=1,
        out_path=str(tmp_path / "out.txt"),
    )
    assert spark.conf.get(key) == "134217728"


def test_job_status_after_success(spark, tmp_path):
    """A10: job_status mirrors the reference /progress page — "All done!"
    after a completed job, no active jobs/stages when idle."""
    from simple_map_reduce_ruuner_spark.engine import job_status

    data = str(tmp_path / "in.txt")
    with open(data, "w") as fh:
        fh.write("x y\n" * 50)
    identity = str(tmp_path / "identity.py")
    with open(identity, "w") as fh:
        fh.write("import sys\nsys.stdout.write(sys.stdin.read())\n")
    run_job(
        spark,
        data_path=data,
        mapper_src=identity,
        reducer_src=identity,
        lang="py",
        out_path=str(tmp_path / "out.txt"),
    )
    status = job_status(spark)
    assert status["phase"] == "All done!"
    assert status["active_jobs"] == []
    assert status["active_stages"] == []


def test_observed_metrics_ride_the_single_action(spark, sf_dir):
    """observed() computes audit metrics during the one materializing
    action — values match an independent computation, and no extra
    Spark job runs beyond the action itself."""
    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.engine import observed
    from simple_map_reduce_ruuner_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 10)
    df, obs = observed(
        li,
        {
            "n_rows": F.count(F.lit(1)),
            "sum_qty": F.sum("l_quantity"),
            "null_keys": F.count(F.when(F.col("l_orderkey").isNull(), 1)),
        },
    )

    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    n = df.count()
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])

    got = obs.get
    assert got["n_rows"] == n
    assert got["null_keys"] == 0
    expect = li.agg(F.sum("l_quantity")).collect()[0][0]
    assert abs(got["sum_qty"] - expect) < 1e-6
    # the metrics must not have spawned their own job(s): only the
    # count() action's job(s) appear
    assert jobs_after - jobs_before <= 2


def test_run_job_to_a_file_frees_its_map_checkpoint(spark, tmp_path):
    """Once final_result.out is written nothing reads the map phase's
    checkpoint: two jobs, one with map output and one without, leave
    the persistent RDDs as they were, right after they return and with
    no GC forced."""
    identity = str(tmp_path / "identity.py")
    with open(identity, "w") as fh:
        fh.write("import sys\nsys.stdout.write(sys.stdin.read())\n")
    data = str(tmp_path / "in.txt")
    with open(data, "w") as fh:
        fh.write("x y\n" * 50)
    empty = str(tmp_path / "empty.txt")
    open(empty, "w").close()

    def persistent() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persistent()
    for k, path in enumerate((data, empty)):
        out = run_job(spark, path, identity, identity, lang="py", out_path=str(tmp_path / f"out{k}.txt"))
        assert os.path.exists(out)
    assert not persistent() - before

"""Generic map/reduce surface tests, including verbatim replay of the one
reference workload whose input survives in the repo
(exampleCodes/finding_the_suspects: sample.data + golden final_result.out).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.mapreduce import pipe_map_reduce
from simple_map_reduce_ruuner_spark.operators.suspects import suspects_df
from simple_map_reduce_ruuner_spark.operators.wordcount import word_count_df
from simple_map_reduce_ruuner_spark.sources.tables import load_table

EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples")
REF_SUSPECTS = "/root/reference/exampleCodes/finding_the_suspects"


def test_pipe_map_reduce_matches_dataframe_wordcount(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    import sys

    mapper = f"{sys.executable} {EXAMPLES}/wordcount_mapper.py"
    reducer = f"{sys.executable} {EXAMPLES}/wordcount_reducer.py"
    piped = pipe_map_reduce(docs.select("text").repartition(4), mapper, reducer)
    got = {
        tuple(line.rsplit(" ", 1)) for line in (r.line for r in piped.collect())
    }
    expected = {
        (r.word, str(r.cnt)) for r in word_count_df(docs).collect()
    }
    assert got == expected


def test_pipe_cpp_mapper(spark, sf_dir):
    """The reference's C++ path (Worker.java:146-153): compile a user C++
    mapper, pipe chunks through the binary, reduce with the Python
    reducer — language-mixing exactly as the reference allows."""
    import sys

    from simple_map_reduce_ruuner_spark.mapreduce import compile_cpp_program

    binary = compile_cpp_program(spark, f"{EXAMPLES}/wordcount_mapper.cpp")
    docs = load_table(spark, sf_dir, "documents")
    piped = pipe_map_reduce(
        docs.select("text").repartition(4),
        binary,
        f"{sys.executable} {EXAMPLES}/wordcount_reducer.py",
    )
    got = {tuple(line.rsplit(" ", 1)) for line in (r.line for r in piped.collect())}
    expected = {(r.word, str(r.cnt)) for r in word_count_df(docs).collect()}
    assert got == expected


@pytest.mark.parametrize(
    "rows, mapper, want",
    [
        pytest.param(["a\tb\tc", "\td"], "cat", ["a\tb\tc", "\td"], id="tabs"),
        pytest.param(["\\N", "x"], "cat", ["\\N", "x"], id="literal-backslash-N"),
        pytest.param(["", "a", ""], "cat", ["", "a", ""], id="empty-lines"),
        pytest.param(["héllo", "日本語 ✓", "\U0001F600"], "cat", ["héllo", "日本語 ✓", "\U0001F600"], id="non-ascii"),
        pytest.param(["a", "b"], 'printf %s "$(cat)"', ["a", "b"], id="no-trailing-newline"),
        pytest.param([None, "a", None], "cat", ["a"], id="null-input-rows"),
        pytest.param(["{x}", "'q'"], "awk '{print}'", ["{x}", "'q'"], id="braces-and-quotes-in-command"),
        # the one change from RDD.pipe, which kept "x\ry" as one line
        pytest.param(["x\ry"], "cat", ["x", "y"], id="bare-cr-ends-a-line"),
    ],
)
def test_pipe_contract_round_trips_lines(spark, rows, mapper, want):
    df = spark.createDataFrame([(r,) for r in rows], "value string").coalesce(1)
    got = [r.line for r in pipe_map_reduce(df, mapper, "cat").collect()]
    assert got == want


def test_mapper_may_stop_reading_early(spark):
    """A mapper that exits 0 without reading its whole chunk (the reference
    hands it a file it may read as far as it likes) must not fail the
    task on the unread rest of its stdin."""
    df = spark.range(200_000, numPartitions=2).select(F.col("id").cast("string"))
    got = sorted(r.line for r in pipe_map_reduce(df, "head -1", "cat").collect())
    assert got == ["0", "100000"]


def test_run_job_plan_stays_in_the_jvm(spark, tmp_path, monkeypatch):
    """Both pipes are script transformations in the SQL plan: the map runs
    over the text scan, the reduce over the checkpointed map output, and
    no row passes through a Python worker on the way."""
    from simple_map_reduce_ruuner_spark import mapreduce
    from simple_map_reduce_ruuner_spark.engine import run_job

    data = str(tmp_path / "in.txt")
    with open(data, "w") as fh:
        fh.write("a b\n" * 100)
    checkpointed = []
    real_ckpt = mapreduce.ckpt

    def spy(df, *args, **kwargs):
        checkpointed.append(df._jdf.queryExecution().executedPlan().toString())
        return real_ckpt(df, *args, **kwargs)

    monkeypatch.setattr(mapreduce, "ckpt", spy)
    result = run_job(spark, data, f"{EXAMPLES}/wordcount_mapper.py", f"{EXAMPLES}/wordcount_reducer.py")
    qe = result._jdf.queryExecution()
    plan, lineage = qe.executedPlan().toString(), qe.toRdd().toDebugString()
    python_nodes = ("PythonRDD", "javaToPython", "EvalPython", "InPandas", "InArrow")

    assert len(checkpointed) == 1
    map_plan = checkpointed[0]
    assert "ScriptTransformation" in map_plan and "FileScan text" in map_plan
    assert "ScriptTransformation" in plan and "Coalesce 1" in plan
    assert "LocalCheckpointRDD" in lineage
    for text in (map_plan, plan, lineage):
        assert not [n for n in python_nodes if n in text], text
    assert {r.line for r in result.collect()} == {"a 100", "b 100"}


@pytest.mark.skipif(
    not os.path.exists(f"{REF_SUSPECTS}/sample.data"),
    reason="reference fixture not present",
)
def test_suspects_golden_replay(spark):
    """Replay the reference's own 123,456-row input through our suspects
    operator and compare against its committed golden output
    (final_result.out, 17 groups; row and city order insignificant)."""
    raw = spark.read.text(f"{REF_SUSPECTS}/sample.data")
    parts = F.split(F.col("value"), r"\s+")
    df = raw.select(
        parts.getItem(0).alias("name"),
        parts.getItem(1).alias("family"),
        parts.getItem(2).alias("city"),
        parts.getItem(3).cast("int").alias("year"),
    )
    result = {
        (r.key, frozenset(r.cities)) for r in suspects_df(df).collect()
    }

    golden = set()
    with open(f"{REF_SUSPECTS}/final_result.out") as fh:
        for line in fh:
            toks = line.split()
            if not toks:
                continue
            golden.add((toks[0], frozenset(toks[1:])))

    assert result == golden


def test_char_count_kernel_matches_explode(spark, sf_dir):
    """The Arrow bincount kernel behind the char_count registry query is
    value-identical to the explode/groupBy reference formulation
    (char_count_df) — including newline exclusion, multi-byte chars,
    and empty/null text rows."""
    from simple_map_reduce_ruuner_spark.operators.wordcount import (
        char_count_df,
        char_count_kernel_df,
    )
    from simple_map_reduce_ruuner_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    want = {(r.ch, r.cnt) for r in char_count_df(docs).collect()}
    got = {(r.ch, r.cnt) for r in char_count_kernel_df(docs).collect()}
    assert got == want
    # \U0001F600 exercises the supplementary plane: the kernel counts
    # UTF-32 code points while the explode form relies on Spark/Java
    # split('') not splitting surrogate pairs — the one Unicode regime
    # where the two formulations could plausibly diverge.
    extra = spark.createDataFrame(
        [(1, "a\nb\nß €€ a"), (2, ""), (3, None), (4, "\U0001F600x\U0001F600")],
        "doc_id long, text string",
    )
    want2 = {(r.ch, r.cnt) for r in char_count_df(extra).collect()}
    got2 = {(r.ch, r.cnt) for r in char_count_kernel_df(extra).collect()}
    assert got2 == want2 and ("\n", 2) not in got2 and got2
    assert ("\U0001F600", 2) in got2

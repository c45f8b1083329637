"""Unit tests of the benchmark's pure helpers. Run: python3 -m pytest perfbench"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from measure import (  # noqa: E402
    CpuSample,
    Span,
    core_util,
    covered,
    merged,
    cpu_delta,
    parse_proc_stat,
    sched_gap,
    self_times,
)

PROC_STAT = """cpu  100 5 40 800 10 3 2 50 7 0
cpu0 50 2 20 400 5 1 1 25 3 0
intr 12345
"""


def test_parse_proc_stat_counts_busy_steal_and_total():
    s = parse_proc_stat(PROC_STAT)
    assert s.busy == 100 + 5 + 40 + 3 + 2
    assert s.steal == 50
    assert s.total == 150 + 800 + 10 + 50


def test_parse_proc_stat_rejects_text_without_cpu_line():
    with pytest.raises(ValueError):
        parse_proc_stat("intr 1\n")


def test_cpu_delta_gives_busy_seconds_and_steal_share():
    before = CpuSample(busy=1000, steal=10, total=5000)
    after = CpuSample(busy=1400, steal=60, total=6000)
    busy_s, steal = cpu_delta(before, after, ticks_per_s=100)
    assert busy_s == pytest.approx(4.0)
    assert steal == pytest.approx(0.05)


def test_cpu_delta_with_no_ticks_has_no_steal():
    s = CpuSample(1, 1, 1)
    assert cpu_delta(s, s, 100) == (0.0, 0.0)


def test_covered_merges_overlaps_and_clips_to_window():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(4.0)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3.0)
    assert covered([(11, 12), (3, 3)], 0, 10) == 0.0
    assert covered([], 0, 10) == 0.0


def test_merged_unions_overlapping_and_touching_intervals():
    assert merged([(5, 6), (1, 3), (2, 4), (4, 4.5), (7, 7)]) == [(1, 4.5), (5, 6)]
    assert merged([]) == []


def test_sched_gap_is_action_time_with_no_stage_running():
    # action 0..10; stages run 1..4 and 3..6 (overlapping) and 8..12
    assert sched_gap(0, 10, [(1, 4), (3, 6), (8, 12)]) == pytest.approx(3.0)
    assert sched_gap(0, 10, []) == pytest.approx(10.0)
    assert sched_gap(0, 10, [(0, 10)]) == 0.0


def test_core_util_is_task_time_over_wall_times_cores():
    assert core_util(task_s=8.0, wall_s=4.0, cpus=4) == pytest.approx(0.5)
    assert core_util(task_s=1.0, wall_s=0.0, cpus=4) == 0.0


def test_self_times_subtract_child_coverage_per_layer():
    spans = [
        Span(0, "op", "bench", 0.0, 10.0),
        Span(0, "run_job", "engine", 1.0, 9.0, parent=0),
        Span(0, "pipe_map_reduce", "mapreduce", 2.0, 6.0, parent=1),
        Span(0, "job", "spark", 2.5, 4.0, parent=2),
        Span(0, "job", "spark", 3.5, 5.5, parent=2),
        Span(0, "write_text_single", "sources", 7.0, 8.5, parent=1),
    ]
    got = self_times(spans)
    assert got["bench"] == pytest.approx(2.0)
    assert got["engine"] == pytest.approx(8.0 - 4.0 - 1.5)
    assert got["mapreduce"] == pytest.approx(4.0 - 3.0)
    assert got["spark"] == pytest.approx(1.5 + 2.0)
    assert got["sources"] == pytest.approx(1.5)


def test_corpus_is_deterministic_in_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    datagen.make_corpus(a, seed=3, size_mb=0.05)
    datagen.make_corpus(b, seed=3, size_mb=0.05)
    datagen.make_corpus(c, seed=4, size_mb=0.05)
    text = open(a).read()
    assert text == open(b).read()
    other = open(c).read()
    assert text != other
    assert len(text.split()) == len(other.split())
    assert abs(len(text) - len(other)) < 0.02 * len(text)
    lines = text.splitlines()
    assert all(len(line.split()) == datagen.WORDS_PER_LINE for line in lines)
    assert 40_000 <= len(text) <= 60_000


def test_vocabulary_words_are_distinct():
    words = datagen._vocabulary(np.random.default_rng(0), 20_000)
    assert len(set(words)) == 20_000
    assert all(w.isalpha() and w.islower() for w in words)


def test_cached_builds_once(tmp_path):
    calls = []

    def build(d):
        calls.append(d)
        open(os.path.join(d, "x"), "w").close()

    base = str(tmp_path)
    first = datagen.cached(base, "corpus-1", build)
    assert datagen.cached(base, "corpus-1", build) == first
    assert len(calls) == 1
    assert os.listdir(base) == ["corpus-1"]
    assert os.listdir(first) == ["x"]


def test_wordcount_check_flags_wrong_outputs(tmp_path):
    import workloads

    corpus = tmp_path / "corpus.txt"
    corpus.write_text("a b a\nc\n")
    outputs = {
        "ok": "b 1\na 2\nc 1\n",
        "duplicate": "a 1\na 1\nb 1\nc 1\n",
        "malformed": "a2\n",
        "wrong": "a 3\nb 1\nc 1\n",
    }
    wl = workloads.MrWordcount.__new__(workloads.MrWordcount)
    wl.corpus, wl.outcome, wl.outputs = str(corpus), workloads.Outcome(), []
    for name, text in outputs.items():
        (tmp_path / name).write_text(text)
        wl.outputs.append(str(tmp_path / name))
    wl.check()
    assert sorted(wl.outcome.failures) == ["job-1", "job-2", "job-3"]

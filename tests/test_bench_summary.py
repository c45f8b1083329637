"""bench.py's summary line: the last stdout line, read from a bounded
tail of the output, so it must parse and stay short whatever happened
in the run. No Spark session needed; importing bench only loads the
module."""

from __future__ import annotations

import json

import bench
from simple_map_reduce_ruuner_spark.registry import all_queries

CONTEXT = {"cpus": 4, "loadavg_1m": 3.91, "steal_share": 0.0123}
TAIL_LIMIT = 1900


def test_summary_is_short_when_every_query_fails():
    failed = sorted(all_queries())
    assert len(failed) >= 200
    line = bench.summary({}, failed, CONTEXT)
    assert len(line) <= TAIL_LIMIT
    doc = json.loads(line)
    assert doc["metric"] == "total_query_seconds"
    assert doc["value"] == 0
    assert doc["queries"] == {}


def test_summary_queries_are_the_anchors_in_order_that_ran():
    names = sorted(all_queries(), reverse=True)
    ran = [n for n in names if n not in ("pagerank_trading", "word_count")]
    timings = {n: {"median": 1.25, "min": 1.0} for n in ran}
    doc = json.loads(bench.summary(timings, ["pagerank_trading"], CONTEXT))
    want = [n for n in bench.ANCHOR_QUERIES if n in timings]
    assert list(doc["queries"]) == want
    assert len(want) == len(bench.ANCHOR_QUERIES) - 2
    assert doc["value"] == round(1.25 * len(ran), 3)
    assert doc["queries_n"] == len(ran)


def test_summary_reports_failures_as_a_count():
    timings = {"word_count": {"median": 0.4, "min": 0.3}}
    failed = ["char_count", "pricing_summary", "suspects_orders"]
    line = bench.summary(timings, failed, CONTEXT)
    doc = json.loads(line)
    assert doc["failed"] == 3
    assert not any(n in line for n in failed)
    assert {k: doc[k] for k in CONTEXT} == CONTEXT

#!/usr/bin/env python
"""Time registry queries: ``python bench.py [NAME ...]``.

With no names, every registry query is timed, in sorted order; with
names, just those, in the order given. Data is read from
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test data) on
``get_spark``'s ``local[N]`` (N = ``$SPARK_GRAFT_CPUS``, else all cores).

Each query first runs once on the sibling ``sf0.001`` directory, when
there is one, so codegen and class loading are paid before timing; the
warm-up's session caches are then dropped. The timed passes go
round-robin over the queries, so a burst of machine noise lands on one
rep of many queries rather than on every rep of one. A timed rep is the
query's builder plus a ``noop`` write of its result (the full physical
plan, no collect). A query that raises is recorded as failed, is not run
again and is left out of the total.

Two lines go to stdout and nothing is written to disk:

1. the full document: per-query median and min seconds, the failed
   names, and the machine context (cpus, 1-minute load average,
   CPU-steal share over the timed passes);
2. the summary: ``metric``, ``value`` (sum of medians), ``unit``, a
   ``queries`` map over perfbench's fixed anchor set, the failure count
   and the context. Its length does not grow with the number of queries.

This is a timer, not an A/B method: comparing two trees is the job of
``perfbench/`` (see ``BENCHMARK.json``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(HERE, "perfbench")]

from measure import TICKS_PER_S, cpu_delta, read_cpu
from workloads import ANCHOR_QUERIES

from simple_map_reduce_ruuner_spark.registry import all_queries
from simple_map_reduce_ruuner_spark.session import get_spark
from simple_map_reduce_ruuner_spark.sources.tables import (
    clear_session_caches,
)

PASSES = 3


def summary(timings: dict, failed: list[str], context: dict) -> str:
    """The last stdout line, from per-query ``{"median", "min"}`` timings,
    the failed names and the machine context. Only anchor queries are
    listed and failures are a count, so the line stays short however
    many queries ran or failed."""
    return json.dumps(
        {
            "metric": "total_query_seconds",
            "value": round(sum(t["median"] for t in timings.values()), 3),
            "unit": "sec",
            "queries": {n: timings[n]["median"] for n in ANCHOR_QUERIES if n in timings},
            "queries_n": len(timings),
            "failed": len(failed),
            **context,
        }
    )


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    queries = all_queries()
    names = names or sorted(queries)
    missing = [n for n in names if n not in queries]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    spark = get_spark(app_name="smrr-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def execute(name: str, data_dir: str) -> None:
        queries[name].fn(spark, data_dir).write.format("noop").mode("overwrite").save()

    if os.path.isdir(warm_dir):
        for name in names:
            try:
                execute(name, warm_dir)
            except Exception as exc:  # only a failure at the timed scale counts
                print(f"BENCH WARMUP ERROR {name}: {exc}", file=sys.stderr)
                traceback.print_exc()
        clear_session_caches(warm_dir)

    samples: dict[str, list[float]] = {n: [] for n in names}
    failed: list[str] = []
    cpu0 = read_cpu()
    for _ in range(PASSES):
        for name in names:
            if name in failed:
                continue
            t0 = time.perf_counter()
            try:
                execute(name, sf_dir)
            except Exception as exc:
                failed.append(name)
                print(f"BENCH ERROR {name}: {exc}", file=sys.stderr)
                traceback.print_exc()
                continue
            samples[name].append(time.perf_counter() - t0)

    context = {
        "cpus": spark.sparkContext.defaultParallelism,
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "steal_share": round(cpu_delta(cpu0, read_cpu(), TICKS_PER_S)[1], 4),
    }
    timings = {
        n: {"median": round(statistics.median(xs), 3), "min": round(min(xs), 3)}
        for n, xs in samples.items()
        if n not in failed
    }
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "passes": PASSES,
                "queries": timings,
                "failed": failed,
                "context": context,
            }
        )
    )
    print(summary(timings, failed, context))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])

"""Registry completeness guard: every operator/streaming module that
exposes a ``QUERIES`` dict must be wired into ``registry.all_queries()``.
A module left out of the explicit import list would fail SILENTLY (its
queries simply never reach the driver), so this test walks the
packages on disk and diffs against the live registry. The registry's
order (sorted by name) and the REGISTRY.md census are pinned here too.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import sys

import pytest

from simple_map_reduce_ruuner_spark import operators, registry, streaming


def _module_query_names() -> set[str]:
    names: set[str] = set()
    for pkg in (operators, streaming):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            queries = getattr(mod, "QUERIES", None)
            if isinstance(queries, dict):
                names.update(queries)
    return names


def test_every_module_query_is_registered():
    on_disk = _module_query_names()
    registered = set(registry.all_queries())
    missing = on_disk - registered
    assert not missing, f"QUERIES defined but not reachable: {sorted(missing)}"


def test_all_queries_is_sorted_by_name():
    """The driver walks ``queries()`` in dict order; that order is the
    name order, independent of anything else committed in the repo."""
    names = list(registry.all_queries())
    assert names == sorted(names)


def test_every_builder_takes_spark_and_sf_dir_only():
    """The driver calls every entry as ``fn(spark, sf_dir)`` and checks it
    against one oracle; a builder option would give answers no oracle
    checks."""
    wrong = {
        name: list(inspect.signature(q.fn).parameters)
        for name, q in registry.all_queries().items()
        if list(inspect.signature(q.fn).parameters) != ["spark", "sf_dir"]
    }
    assert not wrong, wrong


def test_all_queries_raises_when_an_extension_module_is_broken(monkeypatch):
    """A module that cannot be imported must fail the registry loudly,
    never silently drop its queries from the driver's view."""
    monkeypatch.delattr(operators, "ivf", raising=False)
    monkeypatch.setitem(
        sys.modules, "simple_map_reduce_ruuner_spark.operators.ivf", None
    )
    with pytest.raises(ImportError):
        registry.all_queries()


def test_every_oracle_belongs_to_a_query():
    qs = registry.all_queries()
    # Query dataclass pairs oracle with fn by construction; this guards
    # the __spark_entry__ projection instead.
    import __spark_entry__ as entry

    assert set(entry.oracle_sql()) <= set(entry.queries())
    # and the two known sketch queries are the ONLY oracle-less entries
    no_oracle = {n for n, q in qs.items() if q.oracle is None}
    assert no_oracle == {"approx_distinct_users", "approx_percentiles"}


def test_registry_md_census_is_current():
    """REGISTRY.md (the committed name → ``path::function`` → oracle-kind
    census) must match a live regeneration — a new/renamed query, or one
    moved to another module, without a census refresh fails here; run
    `python tools/registry_census.py --write`."""
    import pathlib
    import re
    import sys

    root = pathlib.Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(root / "tools"))
    import registry_census

    live = set(registry_census.census_rows())
    committed = set()
    row = re.compile(r"^\| (\S+) \| `(\S+\.py::\w+)` \| (sql|rows-only) \|$")
    for line in (root / "REGISTRY.md").read_text().splitlines():
        m = row.match(line)
        if m:
            committed.add(m.groups())
    assert committed == live, (
        f"REGISTRY.md stale: regenerate with tools/registry_census.py "
        f"--write (missing={sorted(live - committed)[:5]}, "
        f"extra={sorted(committed - live)[:5]})"
    )


def test_tokenizer_literal_matches_spark_twin_and_never_drifts(spark):
    """The canonical DuckDB tokenizer literal (functions.text.TOKS_SQL)
    must (a) produce exactly what the Spark tokens() helper produces,
    and (b) be the ONLY whitespace-tokenizer shape appearing in any
    oracle string — a drifted inline copy silently breaks parity for
    just that operator (review-found duplication risk)."""
    import pathlib
    import re

    import duckdb

    from pyspark.sql import functions as F

    from simple_map_reduce_ruuner_spark.functions.text import TOKS_SQL, tokens

    samples = ["Hello  World", "", "  tabs\tand\nnewlines  ", "MiXeD case x"]
    sdf = spark.createDataFrame([(s,) for s in samples], "text string")
    got = [r.t for r in sdf.select(tokens(F.col("text")).alias("t")).collect()]
    want = [
        duckdb.sql(
            f"SELECT {TOKS_SQL} FROM (SELECT ? AS text)", params=[s]
        ).fetchone()[0]
        for s in samples
    ]
    assert got == want

    # grep-guard: every inline occurrence keeps the canonical core
    root = pathlib.Path(__file__).resolve().parent.parent
    core = re.compile(r"string_split_regex\(lower\(text\), '\\\\?s\+'\)")
    offenders = []
    for path in (root / "simple_map_reduce_ruuner_spark").rglob("*.py"):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if "string_split_regex" in line and not core.search(line):
                offenders.append(f"{path.name}:{n}: {line.strip()[:80]}")
    assert not offenders, offenders

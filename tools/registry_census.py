#!/usr/bin/env python
"""Generate REGISTRY.md — the committed census of every registry query:
name → implementation site → oracle kind.

Exists so readers find the query map in ONE file. Rows are alphabetical
and each site is ``path::function`` (no line numbers, so moving code
inside a module does not stale the census). Every column is pinned by
tests/test_registry_census.py — regenerate with
`python tools/registry_census.py --write` after adding, renaming or
moving operators between modules.

Usage: python tools/registry_census.py [--write]
  (default prints to stdout; --write rewrites REGISTRY.md at the repo root)
"""

from __future__ import annotations

import inspect
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def census_rows() -> list[tuple[str, str, str]]:
    """(name, site, oracle kind) per query."""
    from simple_map_reduce_ruuner_spark import registry

    rows = []
    for name, q in registry.all_queries().items():
        src = pathlib.Path(inspect.getsourcefile(q.fn)).resolve()
        site = f"{src.relative_to(REPO)}::{q.fn.__qualname__}"
        kind = "sql" if q.oracle is not None else "rows-only"
        rows.append((name, site, kind))
    return rows


def render(rows: list[tuple[str, str, str]]) -> str:
    n_sql = sum(1 for _, _, k in rows if k == "sql")
    lines = [
        "# REGISTRY — query census",
        "",
        f"{len(rows)} queries: {n_sql} with a DuckDB oracle twin, "
        f"{len(rows) - n_sql} rows-only (oracle-less by construction — "
        "approximate sketches with committed error bounds, see "
        "APPROX_BOUNDS.json).",
        "",
        "Generated by `python tools/registry_census.py --write`; "
        "every column is pinned by `tests/test_registry_census.py` "
        "(regenerate after adding, renaming or moving operators).",
        "",
        "| query | implemented at | oracle |",
        "|---|---|---|",
    ]
    lines += [f"| {n} | `{s}` | {k} |" for n, s, k in rows]
    return "\n".join(lines) + "\n"


def main() -> int:
    text = render(census_rows())
    if "--write" in sys.argv:
        (REPO / "REGISTRY.md").write_text(text)
        print(f"wrote {REPO / 'REGISTRY.md'} ({len(text.splitlines())} lines)")
    else:
        print(text, end="")
    return 0


if __name__ == "__main__":
    sys.exit(main())

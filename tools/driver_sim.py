#!/usr/bin/env python
"""Local simulation of the driver's correctness check.

Verifies the tree this script sits in (printed on the first line), so a
copy of the repo checks itself. Runs ``entry()`` as a smoke check, then
every ``__spark_entry__.queries()`` name through
``tests/_oracle.check_query`` (Spark vs its DuckDB oracle, same compare
as the oracle-parity tests) at the given sf dir, default sf0.01. The
session is a plain one built like the driver would, NOT the repo's tuned
session factory.

Usage: python tools/driver_sim.py [sf_dir] [--tz America/New_York]
                                  [--only name1,name2]
Exit code 0 iff every query matches.
"""

from __future__ import annotations

import importlib.util
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def _load(relpath: str):
    """Import a repo file that is not part of the package, by path."""
    path = ROOT / relpath
    spec = importlib.util.spec_from_file_location(path.stem, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> int:
    args = sys.argv[1:]
    tz = None
    only: set[str] | None = None
    if "--tz" in args:
        i = args.index("--tz")
        tz = args[i + 1]
        del args[i : i + 2]
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    sf = args[0] if args else "/root/testdata/sf0.01"
    print(f"verifying {ROOT}")

    entry = _load("__spark_entry__.py")
    oracle = _load("tests/_oracle.py")

    from pyspark.sql import SparkSession

    b = SparkSession.builder.master("local[8]").config("spark.ui.enabled", "false")
    if tz:
        b = b.config("spark.sql.session.timeZone", tz)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    n = entry.entry(spark).count()
    print(f"SMOKE entry(): rows={n}")
    assert n > 0

    names, osql = list(entry.queries()), entry.oracle_sql()
    if only is not None:
        unknown = only - set(names)
        if unknown:
            print(f"UNKNOWN --only names: {sorted(unknown)}")
            return 1
        names = sorted(only)
    fails, zeros = [], []
    for name in names:
        t0 = time.perf_counter()
        # one failing query must not abort the sweep — record and move
        # on so every remaining mismatch still gets reported
        try:
            r = oracle.check_query(spark, sf, name)
        except Exception as e:
            fails.append(name)
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:160]}")
            continue
        if r["rows_spark"] == 0:
            zeros.append(name)
        rows = f"{r['rows_spark']}/{r.get('rows_duck', 'rows-only')}"
        print(
            f"{name}: {'MATCH' if r['ok'] else 'MISMATCH'} rows={rows}"
            f" ({time.perf_counter() - t0:.1f}s)"
        )
        if not r["ok"]:
            fails.append(name)
            if not r["cols_match"]:
                print(f"  cols: {r['cols_spark']} vs {r['cols_duck']}")
            else:
                print(f"  spark_only: {r.get('spark_only', [])[:3]}")
                print(f"  duck_only : {r.get('duck_only', [])[:3]}")
    print(f"queries={len(names)} oracles={len(osql)} zero-row={zeros}")
    print("RESULT:", "ALL MATCH" if not fails else f"FAILS: {fails}")
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())

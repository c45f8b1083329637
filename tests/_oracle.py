"""Local mirror of the driver's correctness check: run a registry query on
Spark and its oracle SQL on DuckDB over the same parquet tables, compare
row count, column names, and order-insensitive values.

The one comparator: the pytest parity tests and ``tools/driver_sim.py``
(the standalone end-to-end run over every query in a plain session) both
call ``check_query``.
"""

from __future__ import annotations

import math
import os
from typing import Any

import duckdb
import pandas as pd

from simple_map_reduce_ruuner_spark.sources.tables import TABLE_NAMES

# One connection per sf_dir for the whole test session: rebuilding the
# 10 parquet views for each of the ~600 check_query calls was measured
# pure overhead (review-found).
_CONS: dict[str, duckdb.DuckDBPyConnection] = {}


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = _CONS.get(sf_dir)
    if con is None:
        con = duckdb.connect()
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        _CONS[sf_dir] = con
    return con


def _norm_cell(v: Any) -> Any:
    """Make values hashable/comparable across engines."""
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 vs 0.0 and format at full precision
        return repr(v + 0.0)
    if pd.isna(v):  # lists/tuples already returned above
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _normalize(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=repr)


def _driver_canonicalize_or_raise(df: pd.DataFrame) -> None:
    """Reproduce the REAL driver's pandas ``sort_values`` canonicalize
    step, which raises TypeError on unhashable cells (arrays/maps) —
    the r1 suspects_orders crash class. Our tuple-normalizing compare
    would happily pass such outputs, so without this probe a regression
    goes green locally and crashes the external gate (review-found)."""
    cols = sorted(df.columns)
    df[cols].sort_values(by=cols)


def compare(spark_df, duck_df: pd.DataFrame) -> dict[str, Any]:
    spd = spark_df.toPandas()
    _driver_canonicalize_or_raise(spd)
    s_cols, s_rows = _normalize(spd)
    d_cols, d_rows = _normalize(duck_df)
    result: dict[str, Any] = {
        "rows_spark": len(s_rows),
        "rows_duck": len(d_rows),
        "cols_spark": s_cols,
        "cols_duck": d_cols,
        "cols_match": s_cols == d_cols,
        "count_match": len(s_rows) == len(d_rows),
        "values_match": s_rows == d_rows,
    }
    if not result["values_match"]:
        s_set, d_set = set(s_rows), set(d_rows)
        result["spark_only"] = list(s_set - d_set)[:5]
        result["duck_only"] = list(d_set - s_set)[:5]
    return result


def check_query(spark, sf_dir: str, name: str) -> dict[str, Any]:
    from simple_map_reduce_ruuner_spark.registry import all_queries

    q = all_queries()[name]
    spark_df = q.fn(spark, sf_dir)
    if q.oracle is None:
        # still run the driver-crash probe: rows-only queries go through
        # the same pandas canonicalization on the real gate
        pdf = spark_df.toPandas()
        _driver_canonicalize_or_raise(pdf)
        return {"name": name, "rows_spark": len(pdf), "oracle": "rows-only", "ok": True}
    con = duck_connect(sf_dir)
    duck_df = con.execute(q.oracle).df()
    result = compare(spark_df, duck_df)
    result["name"] = name
    result["ok"] = (
        result["cols_match"] and result["count_match"] and result["values_match"]
    )
    return result

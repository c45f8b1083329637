"""Custom stateful streaming operator via ``applyInPandasWithState``.

The built-in windowed aggregations (windows.py) cover time-bucketed
state; this is the arbitrary-state surface — the streaming analogue of
the reference's "any user reducer" (B15), with Spark managing state
storage, checkpointing, and recovery.

Operator: per-user running event count + running value sum, emitted on
every micro-batch update. State is one (count, sum) pair per user —
O(users) state, bounded; at 100 TB scale per-key state lives in the
state store (RocksDB in production), sharded by the groupBy key.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, total double"


def stream_running_user_totals(
    spark: SparkSession, input_dir: str, events_ddl: str
) -> DataFrame:
    """readStream → groupBy(user) → applyInPandasWithState running totals.

    The state-update function is defined INSIDE this function on purpose:
    a nested function is pickled by value into the task closure, so
    executors never need this package importable on their PYTHONPATH
    (a module-level function is pickled by reference and breaks when the
    driver process runs outside the repo root).
    """

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    src = spark.readStream.schema(events_ddl).parquet(input_dir)
    return (
        src.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


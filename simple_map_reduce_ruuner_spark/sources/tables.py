"""Parquet table catalog over the driver's deterministic fixtures.

The reference ingests only uploaded newline-delimited text
(Master.java:87-129); this engine adds typed columnar sources. Tables are
the TPC-H-ish star schema plus events/documents/embeddings (TESTDATA.md).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Each dataset's tables live in one session memo entry, "tables":
# {table name -> DataFrame}. ``spark.read.parquet`` is ~100 ms of DRIVER
# work per call (py4j round-trips + file listing + footer/schema read),
# and the registry's 200 query builders call load_table 1-6× each —
# measured 0.15-0.75 s of per-query build time at sf0.1, all of it
# re-resolving the same ten immutable fixture tables (guide §6: file
# listing is driver-side, single-process work; Spark's own catalog
# caches it per session for exactly this reason). The entry stores the
# UNRESOLVED DataFrames (logical plans — no data, no blocks, nothing
# materialized), so reusing them is semantically identical to
# re-reading: execution still scans parquet every time.


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table. Filters/projections applied downstream are
    pushed into this scan by Catalyst (PushedFilters / ReadSchema).

    The returned DataFrame is memoized per (session, dataset dir,
    table): tables under an sf_dir are immutable fixtures, and the
    memo only dedupes driver-side plan construction (listing + schema
    resolution), never data."""
    per_dir = session_cache(spark, sf_dir, "tables", dict)
    got = per_dir.get(name)
    if got is None:
        path = os.path.join(sf_dir, f"{name}.parquet")
        got = (
            _load_events(spark, path)
            if name == "events"
            else spark.read.parquet(path)
        )
        per_dir[name] = got
    return got


def ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` with SERIALIZED memory+disk block storage.

    ``eager=False`` defers writing the blocks to the first action. It
    does NOT make construction job-free: even lazy, ``localCheckpoint``
    takes ``queryExecution.toRdd`` at call time, and under AQE (on in
    ``get_spark``) that runs every shuffle map stage of ``df`` as Spark
    jobs — a lazy checkpoint of ``groupBy().count()`` runs 1 job with
    AQE on, 0 with it off. Even an exchange-free plan is planned at call
    time (~0.5 s of driver-side planning, measured on the BPE chain).

    Spark's default level keeps blocks DESERIALIZED and re-inflates
    disk-spilled blocks into deserialized cache on every read
    (``BlockManager.maybeCacheDiskValuesInMemory``): at the 100× sweep
    (60 M-row lineitem) `pagerank_trading`'s edge checkpoint killed an
    8 GiB JVM this way. Serialized MEMORY_AND_DISK stores compact bytes,
    unrolls incrementally and streams from disk under pressure; blocks
    that fit stay in memory, so the small-scale fast path is unchanged."""
    from pyspark import StorageLevel

    return df.localCheckpoint(
        eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK
    )


# (applicationId, realpath(sf_dir), name) -> value: the one store of
# session memos, and the one place a builder's data is materialised.
_SESSION_MEMO: dict[tuple, Any] = {}


def release(value: Any) -> None:
    """Free at once what ``value`` pins: for a DataFrame, every checkpoint
    it reads (each ``LogicalRDD`` leaf of its analyzed plan is
    unpersisted; a store entry reads only its own); for a ``Broadcast``,
    the broadcast. A dropped checkpoint is freed only when a Python GC
    and then a JVM GC happen to run, which nothing schedules."""
    from py4j.protocol import Py4JError
    from pyspark import Broadcast

    try:
        if isinstance(value, DataFrame):
            leaves = value._jdf.queryExecution().analyzed().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.getClass().getSimpleName() == "LogicalRDD":
                    leaf.rdd().unpersist(False)
        elif isinstance(value, Broadcast):
            value.destroy()
    except (Py4JError, OSError):
        pass  # its SparkContext is already stopped; nothing to free


def clear_session_caches(sf_dir: str | None = None) -> int:
    """Drop session memos and :func:`release` what they pinned, at once.
    With ``sf_dir``, only that dataset's entries go — bench.py does this
    after its sf0.001 warm-up pass so stale warm-up blocks don't occupy
    the storage pool during the timed passes. Returns the number of
    evicted entries.

    Contract: a DataFrame built before a clear is not executed after
    it — its checkpoint blocks or broadcast may be gone. Build again.

    NOT called automatically on dataset switch: a session that
    alternates between datasets keeps each one's memos warm."""
    real = os.path.realpath(sf_dir) if sf_dir is not None else None
    victims = [k for k in _SESSION_MEMO if real is None or k[1] == real]
    for k in victims:
        release(_SESSION_MEMO.pop(k))
    return len(victims)


def session_cache(
    spark: SparkSession,
    sf_dir: str,
    name: Hashable,
    build: Callable[[], T],
) -> T:
    """Session-scoped memo of one value derived from a dataset, keyed by
    (applicationId, resolved sf_dir, name): ``build()`` runs once per
    key. The applicationId makes a restarted session rebuild instead of
    touching dead block-manager state.

    A DataFrame is kept as a LAZY checkpoint (``ckpt(eager=False)``):
    under AQE its shuffle map stages run as jobs when the entry is built
    (see :func:`ckpt`), the first query that EXECUTES writes the blocks,
    and every later execution in the session — sibling queries, later
    bench reps — reads them. :func:`clear_session_caches` unpersists
    those checkpoints and destroys a ``Broadcast``; any other value
    (the table catalog's dict, a round count) is kept as it is and only
    dropped.
    """
    key = (spark.sparkContext.applicationId, os.path.realpath(sf_dir), name)
    got = _SESSION_MEMO.get(key)
    if got is None:
        value = build()
        if isinstance(value, DataFrame):
            value = ckpt(value, eager=False)
        # setdefault: a concurrent builder of the same key (perfbench's
        # threaded warm-up) gets the entry that won; the loser's is freed
        got = _SESSION_MEMO.setdefault(key, value)
        if got is not value:
            release(value)
    return got


def spread_scan(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition an under-split scan so CPU-heavy per-row work uses
    every core — a NO-OP whenever the scan already has enough splits.

    Why it exists: the tokenize/shingle/interval-explode stages are
    interpreted higher-order functions (transform/filter don't enter
    whole-stage codegen), so they cost multi-second CPU even on small
    inputs — and a parquet file below maxPartitionBytes with one row
    group is ONE input split, serializing that stage on a single core
    while the other 31 idle. Measured at sf0.1: bigram explode 5 s on
    one task. At production scale inputs have thousands of row
    groups/files, the partition count exceeds defaultParallelism, and
    this returns the scan unchanged — the repartition only fires in the
    small-file regime, where the exchange it adds moves megabytes.
    Filters/pruning still reach the scan (Catalyst pushes them through
    Repartition).

    ``key``: a near-unique column to HASH-partition on instead of the
    keyless round-robin. Two measured wins (guide §2.3/2.5): round-robin
    repartition first pays a local sort of its input (SPARK-23207
    ``sortBeforeRepartition``, so retried tasks reproduce the same
    row placement — 1.03 s vs 0.39 s for the same 600 k-row exchange),
    and hash partitioning is deterministic under retry BY KEY, not by
    input order. Bonus: downstream groupBy/window keys that start with
    ``key`` reuse the exchange outright. Callers pass their natural
    unique id (doc_id, event_id, orderkey); keys with few distinct
    values would defeat the spread, so don't pass one.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key is not None:
        from pyspark.sql import functions as F

        return df.repartition(target, F.col(key))
    return df.repartition(target)


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's reader rejects.
    Read the raw INT64 nanos via the legacy conf, then convert to a
    microsecond timestamp (lossless here: the generator emits whole µs).

    The nanosAsLong conf is DELIBERATELY session-wide and never
    restored: Spark reads it at scan EXECUTION time, and every events
    frame this catalog hands out executes lazily — restoring after plan
    construction would break those scans at run time. The visible
    side effect (other nanos-parquet reads decode as bigint instead of
    erroring) is confined to this engine's sessions and noted here.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        # Convert to TIMESTAMP_NTZ (like every other table's timestamps) so
        # results never depend on the session timezone. Integral `div`, not
        # `/`: nanos exceed double's exact-integer range. The decimal secs
        # argument of make_dt_interval keeps microseconds exact.
        df = df.withColumn(
            "ts",
            F.expr(
                "make_timestamp_ntz(1970, 1, 1, 0, 0, 0)"
                " + make_dt_interval(0, 0, 0,"
                "     CAST(ts div 1000 AS DECIMAL(26, 6)) / 1000000)"
            ),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() queries."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

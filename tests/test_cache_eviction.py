"""The session memo store (``sources.tables``): dataset-scoped and global
eviction, freeing of what an entry pinned, and the one-store design."""

from __future__ import annotations

import ast
import pathlib

import pytest

from simple_map_reduce_ruuner_spark.sources.tables import (
    clear_session_caches,
    session_cache,
)


def test_clear_session_caches_by_dataset_and_global(spark, sf_dir, tmp_path):
    other_dir = str(tmp_path)
    builds: list[str] = []

    def get(d: str):
        return session_cache(spark, d, "eviction_probe", lambda: builds.append(d) or d)

    get(sf_dir)
    get(other_dir)
    get(other_dir)
    assert builds == [sf_dir, other_dir]

    # dataset-scoped eviction drops only that sf_dir's entries
    assert clear_session_caches(other_dir) == 1
    get(sf_dir)
    assert builds == [sf_dir, other_dir]
    # a later call rebuilds the evicted entry
    get(other_dir)
    assert builds == [sf_dir, other_dir, other_dir]

    # a global clear drops every dataset's entries
    assert clear_session_caches() >= 2
    get(sf_dir)
    get(other_dir)
    assert builds == [sf_dir, other_dir, other_dir, sf_dir, other_dir]


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_clear_frees_checkpoints_and_broadcasts(spark, sf_dir, monkeypatch):
    """Dropping a memo's reference frees nothing (an executed, dropped
    localCheckpoint stays in getPersistentRDDs()), so the clear must
    unpersist the checkpoints and destroy the broadcasts it pinned —
    at once, with no wait on Spark's ContextCleaner."""
    from simple_map_reduce_ruuner_spark.operators import dedup, graph

    sc = spark.sparkContext
    clear_session_caches()  # entries built by earlier tests would hide the adds
    before = _persistent(spark)
    sim = _rows(dedup.simhash(spark, sf_dir))
    cot = _rows(graph._cotrading_counts(spark, sf_dir))
    added = _persistent(spark) - before
    assert added, "simhash and _cotrading_counts pin no checkpoint"
    clear_session_caches()
    assert not added & _persistent(spark)

    made = []
    broadcast = sc.broadcast

    def recording_broadcast(value):
        made.append(broadcast(value))
        return made[-1]

    monkeypatch.setattr(sc, "broadcast", recording_broadcast)
    dedup.neardup_embedding(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    assert made and all(bc._jbroadcast.isValid() for bc in made)
    clear_session_caches()
    assert not any(bc._jbroadcast.isValid() for bc in made)

    # queries rebuilt after the clear give the same rows
    assert _rows(dedup.simhash(spark, sf_dir)) == sim
    assert _rows(graph._cotrading_counts(spark, sf_dir)) == cot


_CHECKPOINTING_BUILDERS = {
    "pagerank_trading": "graph",
    "session_overlap_counts": "timeseries",
    "neardup_jaccard": "dedup",
    "source_overlap_minhash": "dedup",
    "mad_outliers": "curation",
    "script_rich_threshold": "sql4",
    "neardup_clusters": "dedup",
    "bpe_train_merges": "textlm",
}


@pytest.mark.parametrize("builder", list(_CHECKPOINTING_BUILDERS))
def test_builder_checkpoints_are_store_entries(spark, sf_dir, builder):
    """A builder's checkpoints belong to the store: a second executed
    call pins no more RDDs than the first, the clear frees every RDD the
    calls pinned at once (no GC forced), and a rebuild gives the same
    rows."""
    import importlib

    module = _CHECKPOINTING_BUILDERS[builder]
    fn = getattr(
        importlib.import_module(f"simple_map_reduce_ruuner_spark.operators.{module}"),
        builder,
    )
    clear_session_caches()
    before = _persistent(spark)
    first = _rows(fn(spark, sf_dir))
    after_one = _persistent(spark) - before
    assert after_one, f"{builder} pins no checkpoint"
    assert _rows(fn(spark, sf_dir)) == first
    after_two = _persistent(spark) - before
    assert len(after_two) <= len(after_one), (after_one, after_two)
    clear_session_caches()
    assert not after_two & _persistent(spark)
    assert _rows(fn(spark, sf_dir)) == first
    clear_session_caches()


# Calls that pin data: only the store (and the reference job's map
# phase in mapreduce.py) may make them.
_PINNING_CALLS = ("ckpt", "localCheckpoint", "persist", "cache")


def test_session_memos_live_only_in_the_store():
    """No package module but ``sources/tables.py`` keeps a module-level
    memo dict: every session memo goes through ``session_cache`` so
    ``clear_session_caches`` can find and free it. And no module but it
    and ``mapreduce.py`` calls ``ckpt``, ``.localCheckpoint(``,
    ``.persist(`` or ``.cache()``: a builder's data is materialised only
    as a store entry, which the clear frees."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "simple_map_reduce_ruuner_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "sources" / "tables.py":
            continue
        tree = ast.parse(path.read_text())
        if path != pkg / "mapreduce.py":
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in _PINNING_CALLS:
                    offenders.append(f"{path.relative_to(pkg)}:{node.lineno} {name}()")
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id in ("dict", "defaultdict", "OrderedDict")
            )
            for t in targets:
                if (
                    is_dict
                    and isinstance(t, ast.Name)
                    and t.id.endswith(("_CACHE", "_MEMO"))
                ):
                    offenders.append(f"{path.relative_to(pkg)}:{node.lineno} {t.id}")
    assert not offenders, offenders

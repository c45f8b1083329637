"""IVF build/probe split (operators/ivf.py).

Correctness of the two registry queries is covered by the oracle-parity
sweep; these tests pin the INDEX machinery itself — content-keyed
reuse, build determinism, partition-pruned probes — which the oracle
cannot see (it replays train+probe from scratch)."""

from __future__ import annotations

import glob
import json
import os

import pytest

from simple_map_reduce_ruuner_spark.operators import ivf


@pytest.fixture(scope="module")
def index_base(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ivf_base"))


@pytest.fixture(autouse=True)
def _index_dir(monkeypatch, index_base):
    monkeypatch.setenv("SMRR_IVF_INDEX_DIR", index_base)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_build_is_reused_then_rebuilt(spark, sf_dir, tmp_path, monkeypatch):
    p1 = ivf.build_ivf_index(spark, sf_dir)
    manifest = os.path.join(p1, "_MANIFEST.json")
    stamp = os.path.getmtime(manifest)
    p2 = ivf.build_ivf_index(spark, sf_dir)
    assert p2 == p1
    assert os.path.getmtime(manifest) == stamp, "reuse must not rewrite"
    before = _rows(ivf.ann_topk_ivf_indexed(spark, sf_dir))
    # a second build from scratch in a fresh base dir lands under the
    # same content key and answers identically
    fresh = str(tmp_path / "ivf_fresh")
    monkeypatch.setenv("SMRR_IVF_INDEX_DIR", fresh)
    p3 = ivf.build_ivf_index(spark, sf_dir)
    assert p3 == os.path.join(fresh, os.path.basename(p1))
    assert json.load(open(os.path.join(p3, "_MANIFEST.json"))) == json.load(
        open(manifest)
    )
    after = _rows(ivf.ann_topk_ivf_indexed(spark, sf_dir))
    assert before == after, "a rebuild must be value-deterministic"


def test_index_key_is_content_addressed(sf_dir):
    key = ivf._index_key(sf_dir)
    assert ivf._index_key(sf_dir) == key
    assert ivf._index_key("/root/testdata/sf0.01") != key


def test_manifest_and_layout(spark, sf_dir):
    path = ivf.build_ivf_index(spark, sf_dir)
    meta = json.load(open(os.path.join(path, "_MANIFEST.json")))
    assert meta["n_cells"] == ivf.IVF_CELLS
    assert meta["format_version"] == ivf.INDEX_FORMAT_VERSION
    # the inverted file really is laid out by cell: partition dirs
    cells = glob.glob(os.path.join(path, "postings", "cell=*"))
    assert 1 <= len(cells) <= ivf.IVF_CELLS
    cents, post = ivf._read_index(spark, path)
    assert cents.count() <= ivf.IVF_CELLS  # empty Lloyd cells vanish
    assert post.count() == meta["n_vectors"]


def test_stats_account_for_whole_corpus(spark, sf_dir):
    from pyspark.sql import functions as F

    stats = ivf.ivf_index_stats(spark, sf_dir)
    row = stats.agg(
        F.sum("n_vectors").alias("n"), F.max("share_milli").alias("mx")
    ).collect()[0]
    meta_path = os.path.join(
        ivf.build_ivf_index(spark, sf_dir),
        "_MANIFEST.json",
    )
    assert row["n"] == json.load(open(meta_path))["n_vectors"]
    assert row["mx"] <= 1000


def test_probe_plan_is_pruned_and_broadcast(spark, sf_dir):
    df = ivf.ann_topk_ivf_indexed(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan
    # the probe must NOT scan the whole inverted file: the cell join
    # key reaches the postings scan as a dynamic partition filter
    assert "dynamicpruningexpression" in plan
    # probe set and centroid table broadcast; posting join is hash
    assert "BroadcastHashJoin" in plan
    # top-k is rank-limited before the final exchange
    assert "WindowGroupLimit" in plan

"""Materialized BPE merge table (operators/bpe_index.py): the
materialization-changes-nothing contract and content-keyed reuse."""

from __future__ import annotations

import json
import os

import pytest

from simple_map_reduce_ruuner_spark.operators import bpe_index, textlm

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def base_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("bpe_idx"))


@pytest.fixture(autouse=True)
def _index_dir(monkeypatch, base_dir):
    monkeypatch.setenv("SMRR_BPE_INDEX_DIR", base_dir)


def _rows(df, key):
    return sorted(tuple(r) for r in df.collect()) if key is None else sorted(
        df.collect(), key=key
    )


def test_build_writes_manifest_and_reuses(spark, base_dir):
    p1 = bpe_index.build_bpe_merges(spark, SF)
    assert os.path.exists(os.path.join(p1, "_MANIFEST.json"))
    man = json.load(open(os.path.join(p1, "_MANIFEST.json")))
    assert man["k"] == textlm.BPE_MERGES
    # second call must be a pure stat: same dir, no scratch left behind
    p2 = bpe_index.build_bpe_merges(spark, SF)
    assert p1 == p2
    assert [d for d in os.listdir(base_dir) if ".building-" in d] == []


def test_merge_table_equals_inline_trainer(spark):
    off_disk = _rows(bpe_index.bpe_merge_table(spark, SF), None)
    inline = _rows(textlm.bpe_train_merges(spark, SF), None)
    assert off_disk == inline
    assert len(off_disk) == textlm.BPE_MERGES


def test_encode_indexed_equals_inline_encoder(spark):
    off_disk = _rows(bpe_index.bpe_encode_indexed(spark, SF), None)
    inline = _rows(textlm.bpe_encode_docs(spark, SF), None)
    assert off_disk == inline
    assert len(off_disk) == 500

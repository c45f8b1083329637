from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from simple_map_reduce_ruuner_spark.session import get_spark

    spark = get_spark(app_name="smrr-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


@pytest.fixture(scope="session", autouse=True)
def _index_dirs(tmp_path_factory):
    """Keep the IVF/BPE on-disk indexes that tests build under the run's
    tmp dir instead of ``$TMPDIR/smrr_{ivf,bpe}_index``, which nothing
    deletes. A test's own ``monkeypatch.setenv`` still overrides this."""
    base = tmp_path_factory.mktemp("index")
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SMRR_IVF_INDEX_DIR", str(base / "ivf"))
        mp.setenv("SMRR_BPE_INDEX_DIR", str(base / "bpe"))
        yield


@pytest.fixture
def codec_kernel(monkeypatch):
    """Call a per-doc query builder without Spark: returns the
    ``(kernel, schema)`` pair that ``multimodal.per_doc`` hands to
    mapInPandas, so tests drive the exact production batch function
    over hand-made (doc_id, payload) frames."""
    from simple_map_reduce_ruuner_spark.operators import multimodal

    class _Capture:
        def mapInPandas(self, kernel, schema):
            return kernel, schema

    monkeypatch.setattr(multimodal, "_with_payload", lambda spark, sf_dir: _Capture())
    return lambda builder: builder(None, None)

"""The pickling contract of multimodal.per_doc: the batch function it
hands to mapInPandas must be shipped BY VALUE, because executor Python
workers do not see the driver's sys.path and cannot import this
package. A module-level function (or a closure that looks up one) would
pickle by reference and fail on the executor with ModuleNotFoundError —
a failure that a test run from the repo root never sees. So each kernel
here is cloudpickled, loaded in a child interpreter whose sys.path and
cwd exclude the repo, and run on a 2-row (doc_id, payload) batch."""

from __future__ import annotations

import pickle
import subprocess
import sys

import pandas as pd
import pytest
from pyspark import cloudpickle

from simple_map_reduce_ruuner_spark.operators.codecs import tar_shard_members
from simple_map_reduce_ruuner_spark.operators.multimodal import (
    decode_audio_wav,
    decode_image_png,
)

# -I: ignore PYTHON* env vars and do not put the cwd on sys.path
CHILD = """
import importlib.util, pickle, sys
assert importlib.util.find_spec("simple_map_reduce_ruuner_spark") is None
blob, batch = pickle.loads(sys.stdin.buffer.read())
out = [frame.values.tolist() for frame in pickle.loads(blob)([batch])]
assert not [m for m in sys.modules if m.startswith("simple_map_reduce")]
sys.stdout.buffer.write(pickle.dumps(out))
"""


@pytest.mark.parametrize(
    "builder", [decode_image_png, decode_audio_wav, tar_shard_members]
)
def test_kernel_runs_in_an_interpreter_without_the_package(
    builder, codec_kernel, tmp_path
):
    kernel, _ = codec_kernel(builder)
    batch = pd.DataFrame({"doc_id": [3, 8], "payload": [b"two rows", b""]})
    want = [frame.values.tolist() for frame in kernel([batch])]
    assert len(want[0]) >= 2  # both docs produced rows
    proc = subprocess.run(
        [sys.executable, "-I", "-c", CHILD],
        input=pickle.dumps((cloudpickle.dumps(kernel), batch)),
        capture_output=True,
        cwd=tmp_path,
        check=False,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    assert pickle.loads(proc.stdout) == want

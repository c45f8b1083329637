"""``tools/driver_sim.py`` verifies the tree it sits in.

A copy of the repo (as made for an A/B) must import and check itself,
not some other checkout, whatever the working directory. The script
runs in its own interpreter with a plain session, as the driver does.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_copy_of_the_tree_verifies_itself(tmp_path, sf_dir):
    copy = tmp_path / "copy"
    shutil.copytree(
        os.path.join(ROOT, "simple_map_reduce_ruuner_spark"),
        copy / "simple_map_reduce_ruuner_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    for rel in ("__spark_entry__.py", "tests/_oracle.py", "tools/driver_sim.py"):
        (copy / rel).parent.mkdir(exist_ok=True)
        shutil.copy(os.path.join(ROOT, rel), copy / rel)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    proc = subprocess.run(
        [
            sys.executable,
            str(copy / "tools" / "driver_sim.py"),
            sf_dir,
            "--only",
            "word_count,approx_percentiles",
        ],
        cwd=str(cwd), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert lines[0] == f"verifying {copy}"
    assert "approx_percentiles: MATCH" in proc.stdout
    assert "word_count: MATCH" in proc.stdout
    assert lines[-1] == "RESULT: ALL MATCH"

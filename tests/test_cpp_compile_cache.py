"""The C++ compile cache behind run_job: a program is compiled once per
Spark application, keyed on its preprocessed source, and neither the
cache nor the argv-contract shim leaves files outside the application's
own directory."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from simple_map_reduce_ruuner_spark import mapreduce
from simple_map_reduce_ruuner_spark.engine import run_job
from simple_map_reduce_ruuner_spark.mapreduce import compile_cpp_program

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Echoes each input line behind PREFIX, which the local header defines.
MAPPER = """#include <iostream>
#include <string>
#include "prefix.h"
int main() {
    std::string line;
    while (std::getline(std::cin, line)) std::cout << PREFIX << line << '\\n';
    return 0;
}
"""


def _program(tmp_path, prefix: str = "a:"):
    """A fresh mapper source whose output depends on a local header; the
    tmp dir in its path makes its preprocessed text unique to the test."""
    (tmp_path / "prefix.h").write_text(f'#define PREFIX "{prefix}"\n')
    src = tmp_path / "mapper.cpp"
    src.write_text(MAPPER)
    return str(src)


def _run(binary: str, text: str) -> str:
    return subprocess.run([binary], input=text, capture_output=True, text=True, check=True).stdout


@pytest.fixture
def gxx_calls(monkeypatch):
    """Every argv the code under test passes to ``subprocess.run``."""
    calls: list[list[str]] = []
    real = subprocess.run

    def spy(args, *a, **kw):
        calls.append(list(args))
        return real(args, *a, **kw)

    monkeypatch.setattr(mapreduce.subprocess, "run", spy)
    return calls


def _compiles(calls) -> int:
    return sum(1 for argv in calls if "-o" in argv)


def test_second_job_reuses_the_binary(spark, tmp_path, gxx_calls):
    src = _program(tmp_path)
    data = tmp_path / "in.txt"
    data.write_text("x y\nz\n")
    identity = tmp_path / "identity.py"
    identity.write_text("import sys\nsys.stdout.write(sys.stdin.read())\n")

    outs = []
    for k in range(2):
        before = len(gxx_calls)
        out = run_job(
            spark, str(data), src, str(identity), mapper_lang="cpp", reducer_lang="py",
            out_path=str(tmp_path / f"final_result-{k}.out"),
        )
        outs.append(Path(out).read_bytes())
        mine = gxx_calls[before:]
        assert _compiles(mine) == (1 if k == 0 else 0), mine
        assert sum(1 for argv in mine if "-E" in argv) == 1, mine
    assert outs[0] == outs[1] == b"a:x y\na:z\n"


@pytest.mark.parametrize("edit", ["source", "header"])
def test_edit_recompiles(spark, tmp_path, gxx_calls, edit):
    src = _program(tmp_path)
    first = compile_cpp_program(spark, src)
    assert _run(first, "w\n") == "a:w\n"
    if edit == "source":
        (tmp_path / "mapper.cpp").write_text(MAPPER.replace("<< '\\n'", "<< \"!\\n\""))
        want = "a:w!\n"
    else:
        (tmp_path / "prefix.h").write_text('#define PREFIX "b:"\n')
        want = "b:w\n"
    second = compile_cpp_program(spark, src)
    assert second != first
    assert _compiles(gxx_calls) == 2
    assert _run(second, "w\n") == want


def test_failed_compile_is_not_cached(spark, tmp_path):
    cache = os.path.dirname(compile_cpp_program(spark, _program(tmp_path)))
    before = sorted(os.listdir(cache))

    broken = tmp_path / "broken.cpp"
    broken.write_text("int main() { return undeclared_name; }\n")
    for _ in range(2):  # a cached failure would stop raising g++'s text
        with pytest.raises(RuntimeError, match="error:.*undeclared_name"):
            compile_cpp_program(spark, str(broken))
    missing = tmp_path / "missing.cpp"
    missing.write_text('#include "no_such_header.h"\nint main() { return 0; }\n')
    with pytest.raises(RuntimeError, match="no_such_header.h"):
        compile_cpp_program(spark, str(missing))
    assert sorted(os.listdir(cache)) == before

    broken.write_text("int main() { return 0; }\n")
    fixed = compile_cpp_program(spark, str(broken))
    assert subprocess.run([fixed]).returncode == 0


def test_concurrent_compiles_of_one_source(spark, tmp_path):
    """More threads than cores (capped, each runs a g++) compile one fresh
    source at once: every thread gets the same runnable binary and no
    temp file is left."""
    src = _program(tmp_path, prefix="c:")
    n = min(os.cpu_count() or 1, 8) + 2
    start = threading.Barrier(n, timeout=60)

    def compile_once() -> str:
        start.wait()
        return compile_cpp_program(spark, src)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            binaries = [f.result(timeout=120) for f in [pool.submit(compile_once) for _ in range(n)]]
    finally:
        sys.setswitchinterval(interval)
    assert len(set(binaries)) == 1
    assert _run(binaries[0], "v\n") == "c:v\n"
    assert not [f for f in os.listdir(os.path.dirname(binaries[0])) if f.endswith(".tmp")]


# Runs in its own interpreter: stopping the tests' shared session would
# break every test after this one.
RESTART = """
import os, subprocess, sys
from pyspark.sql import SparkSession
from simple_map_reduce_ruuner_spark import mapreduce

compiles = []
real = subprocess.run
def spy(args, *a, **kw):
    if "-o" in args:
        compiles.append(args)
    return real(args, *a, **kw)
mapreduce.subprocess.run = spy

def session():
    return (SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "512m").getOrCreate())

spark = session()
first = mapreduce.compile_cpp_program(spark, sys.argv[1])
assert mapreduce.compile_cpp_program(spark, sys.argv[1]) == first
spark.stop()
assert not os.path.exists(first), first
spark = session()
mapreduce.compile_cpp_program(spark, sys.argv[1])
spark.stop()
print(len(compiles))
"""


def test_new_session_compiles_again(tmp_path):
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))}
    proc = subprocess.run(
        [sys.executable, "-c", RESTART, _program(tmp_path)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-1] == "2"


# The reference's argv contract: <prog> <in_file> <out_file>. The mapper
# also writes to stdout, which the shim must keep out of the result.
ARGV_MAPPER = """#include <fstream>
#include <iostream>
#include <string>
int main(int argc, char **argv) {
    std::ifstream in(argv[1]);
    std::ofstream out(argv[2]);
    std::string line;
    long n = 0;
    while (std::getline(in, line)) ++n;
    std::cout << "progress noise" << std::endl;
    out << "lines " << n << '\\n';
    return 0;
}
"""
ARGV_REDUCER = """import sys
total = sum(int(line.split()[1]) for line in open(sys.argv[1]))
print("stdout noise")
open(sys.argv[2], "w").write(f"total {total}\\n")
"""


def _smrr_tmp_entries() -> set[str]:
    return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith("smrr_")}


def test_argv_job_leaves_no_temp_dirs(spark, tmp_path):
    mapper = tmp_path / "argv mapper.cpp"
    mapper.write_text(ARGV_MAPPER)
    reducer = tmp_path / "argv_reducer.py"
    reducer.write_text(ARGV_REDUCER)
    data = tmp_path / "in.txt"
    data.write_text("a\n" * 1000)

    before = _smrr_tmp_entries()
    result = run_job(
        spark, str(data), str(mapper), str(reducer), mapper_lang="cpp", reducer_lang="py",
        argv_files=True,
    )
    assert [r.line for r in result.collect()] == ["total 1000"]
    assert _smrr_tmp_entries() - before == set()


def test_argv_program_exit_status_fails_the_job(spark, tmp_path):
    bad = tmp_path / "bad_reducer.py"
    bad.write_text("import sys\nsys.exit(5)\n")
    identity = tmp_path / "identity.py"
    identity.write_text("import shutil, sys\nshutil.copy(sys.argv[1], sys.argv[2])\n")
    data = tmp_path / "in.txt"
    data.write_text("a\n")
    with pytest.raises(Exception, match="exited with status 5"):
        run_job(spark, str(data), str(identity), str(bad), argv_files=True, out_path=str(tmp_path / "out"))

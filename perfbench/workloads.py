"""The benchmark's workloads.

Each workload prepares its inputs (not timed), warms up (timed as part
of set-up), runs closed-loop units (one client, one operation at a
time), checks every output after the timed window, and, in a traced
run, turns its spans and Spark status-store reads into per-layer
metrics.
"""

from __future__ import annotations

import contextlib
import glob
import importlib.util
import os
import sys
import time
import traceback
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from measure import (
    GroupStats,
    Tracer,
    core_util,
    covered,
    cpu_delta,
    median,
    read_cpu,
    sched_gap,
    TICKS_PER_S,
)

MB = 1_000_000.0
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")

# The anchor set, pinned by name and in this order. A name missing from
# the registry counts as a failed operation.
ANCHOR_QUERIES = (
    "word_count",
    "char_count",
    "suspects_orders",
    "peak_concurrency_sweep",
    "pricing_summary",
    "revenue_by_nation",
    "lone_late_suppliers",
    "session_overlap_counts",
    "part_tree_revenue",
    "pagerank_trading",
    "corpus_clean",
    "ann_topk_ivf_indexed",
    "repetition_stats",
)


@dataclass
class Ctx:
    root: str
    run_dir: str
    cache_dir: str
    cpus: int
    seed: int
    tracer: Tracer
    spark: object = None


@dataclass
class Unit:
    """One closed-loop unit of measured work: a pass or a job."""

    wall_s: float
    cpu_s: float


@dataclass
class Outcome:
    attempted: int = 0
    failures: dict[str, str] = field(default_factory=dict)


def _fail(outcome: Outcome, key: str, exc: BaseException) -> None:
    outcome.failures[key] = f"{type(exc).__name__}: {exc}"
    traceback.print_exception(exc, file=sys.stderr)


def _timed(fn) -> Unit:
    c0, t0 = read_cpu(), time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    return Unit(wall, cpu_delta(c0, read_cpu(), TICKS_PER_S)[0])


def _load_repo_module(root: str, *path: str):
    """A repo file that is not part of the package (e.g. tests/_oracle.py),
    loaded by path."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_" + path[-1].removesuffix(".py"), os.path.join(root, *path)
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ==================================================================== mr_wordcount


class MrWordcount:
    """The reference job: ``engine.run_job`` with the C++ word-count mapper
    and the Python reducer over a seeded Zipf text corpus."""

    corpus_mb = 16
    chunk_mb = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.mapper = os.path.join(ctx.root, "examples", "wordcount_mapper.cpp")
        self.reducer = os.path.join(ctx.root, "examples", "wordcount_reducer.py")
        self.outputs: list[str] = []
        self.outcome = Outcome()

    def describe(self) -> dict:
        return {
            "input": f"{self.corpus_mb} MB Zipf(1.2) text, {datagen.VOCAB_SIZE}-word vocabulary, seed {self.ctx.seed}",
            "chunk_mb": self.chunk_mb,
            "seed_used": True,
        }

    def prepare(self) -> None:
        d = datagen.cached(
            self.ctx.cache_dir,
            f"corpus-s{self.ctx.seed}-{self.corpus_mb}mb",
            lambda d: datagen.make_corpus(
                os.path.join(d, "corpus.txt"), self.ctx.seed, self.corpus_mb
            ),
        )
        self.corpus = os.path.join(d, "corpus.txt")

    def _run_job(self, out: str) -> str:
        from simple_map_reduce_ruuner_spark import engine

        return engine.run_job(
            self.ctx.spark,
            self.corpus,
            self.mapper,
            self.reducer,
            mapper_lang="cpp",
            reducer_lang="py",
            chunk_mb=self.chunk_mb,
            out_path=out,
        )

    def warm_up(self) -> None:
        """One job over the whole corpus. After a job over one chunk per
        core only, the first timed job still ran 10-20 % slower than the
        ones after it."""
        self._run_job(os.path.join(self.ctx.run_dir, "warm.out"))

    def run_unit(self) -> Unit:
        k = len(self.outputs)
        out = os.path.join(self.ctx.run_dir, f"job-{k}.out")
        self.outputs.append(out)
        self.outcome.attempted += 1
        tracer = self.ctx.tracer
        tracer.op = k

        def job() -> None:
            try:
                with tracer.span("op", "bench"), tracer.span("run_job", "engine"):
                    self._run_job(out)
            except Exception as exc:  # a failed job is counted, the run goes on
                _fail(self.outcome, f"job-{k}", exc)

        return _timed(job)

    def check(self) -> None:
        with open(self.corpus) as fh:
            expected = Counter(fh.read().split())
        for k, out in enumerate(self.outputs):
            key = f"job-{k}"
            if key in self.outcome.failures:
                continue
            try:
                with open(out) as fh:
                    pairs = [line.rsplit(" ", 1) for line in fh]
                got = {word: int(n) for word, n in pairs}
            except ValueError as exc:  # a malformed line is a wrong output
                _fail(self.outcome, key, exc)
                continue
            if len(got) != len(pairs) or got != expected:
                self.outcome.failures[key] = "final_result.out differs from the corpus word counts"

    def wrap_layers(self):
        """Rebind the functions ``run_job`` calls on the ``engine`` module so
        each runs inside a span; returns an undo callable. The reducer
        command is prefixed with a ``tee`` of its input into the run
        directory, so the partials it reads can be counted after the
        window."""
        from simple_map_reduce_ruuner_spark import engine

        tracer = self.ctx.tracer
        shim = os.path.join(self.ctx.run_dir, "tee_shim.sh")
        with open(shim, "w") as fh:
            fh.write('#!/bin/sh\nout="$1"; shift\ntee "$out" | "$@"\n')
        originals = {
            name: getattr(engine, name)
            for name in ("compile_cpp_program", "read_text_chunked", "pipe_map_reduce", "write_text_single")
        }

        def spanned(name, layer, group=False):
            fn = originals[name]

            def call(*args, **kwargs):
                with tracer.span(name, layer, job_group=group):
                    return fn(*args, **kwargs)

            return call

        def map_reduce(df, mapper_cmd, reducer_cmd, *args, **kwargs):
            teed = f"/bin/sh {shim} {self._partials(tracer.op)} {reducer_cmd}"
            with tracer.span("pipe_map_reduce", "mapreduce", job_group=True):
                return originals["pipe_map_reduce"](df, mapper_cmd, teed, *args, **kwargs)

        engine.compile_cpp_program = spanned("compile_cpp_program", "engine")
        engine.read_text_chunked = spanned("read_text_chunked", "sources")
        engine.pipe_map_reduce = map_reduce
        engine.write_text_single = spanned("write_text_single", "sources", group=True)

        def undo() -> None:
            for name, fn in originals.items():
                setattr(engine, name, fn)

        return undo

    def _partials(self, k: int) -> str:
        return os.path.join(self.ctx.run_dir, f"partials-{k}.txt")

    def _read_s(self) -> float:
        """One read-only pass over the corpus through ``read_text_chunked``
        at the job's chunk size, into Spark's noop sink. The job itself
        reads the text inside its map stage, where the read cannot be
        told apart from the mapper pipe."""
        from simple_map_reduce_ruuner_spark.sources.text import read_text_chunked

        t0 = time.perf_counter()
        df = read_text_chunked(self.ctx.spark, self.corpus, chunk_mb=self.chunk_mb)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def layer_metrics(self, stats: dict[int, GroupStats]) -> dict[str, float]:
        spans = self.ctx.tracer.spans
        per_job: list[dict[str, float]] = []
        for k in range(len(self.outputs)):
            mine = {s.name: (i, s) for i, s in enumerate(spans) if s.op == k and s.layer != "spark"}
            if f"job-{k}" in self.outcome.failures or "write_text_single" not in mine:
                continue
            mi, map_span = mine["pipe_map_reduce"]
            wi, write_span = mine["write_text_single"]
            m, w = stats[mi], stats[wi]
            with open(self._partials(k), "rb") as fh:
                partials = fh.read()
            lines_in = m.total("input_records")
            # the reduce runs as the sink's Spark job; what is left of the
            # sink call is the driver-side commit, move and clean-up
            reduce_s = covered(w.jobs, write_span.start, write_span.end)
            per_job.append({
                "engine.job_s": mine["run_job"][1].dur,
                "engine.compile_s": mine["compile_cpp_program"][1].dur,
                "sources.chunks": m.total("tasks"),
                "sources.text_read_s": self._read_s(),
                "sources.text_write_s": write_span.dur - reduce_s,
                "mapreduce.map_s": map_span.dur,
                "mapreduce.map_task_s": m.task_s,
                "mapreduce.map_core_util": core_util(m.task_s, map_span.dur, self.ctx.cpus),
                "mapreduce.partial_mb": len(partials) / MB,
                "mapreduce.partial_ratio": partials.count(b"\n") / lines_in if lines_in else 0.0,
                "mapreduce.reduce_s": reduce_s,
                "mapreduce.reduce_task_s": w.task_s,
            })
        return {name: median(j[name] for j in per_job) for name in (per_job[0] if per_job else {})}


# ==================================================================== queries


class Queries:
    """One pass over the anchor set: ``Query.fn(spark, sf)`` then
    ``toPandas()`` for each query, in order. The tables are the committed
    sf0.01 test fixture, expanded ``scale`` times with keys offset per
    copy by the repo's ``tools/make_scale_data.py``."""

    base = "sf0.01"
    scale = 5
    warm = "sf0.001"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.outcome = Outcome()
        self.passes: list[dict[str, pd.DataFrame]] = []
        self.pass_spans: list[tuple[int, int]] = []
        self.index_builds: list[int] = []
        self.cache_entries: list[int] = []

    def describe(self) -> dict:
        return {
            "input": f"test fixture {self.base} expanded x{self.scale}",
            "anchor_queries": list(ANCHOR_QUERIES),
            "seed_used": False,
        }

    def _tables(self) -> str:
        scale_data = _load_repo_module(self.ctx.root, "tools", "make_scale_data.py")

        def build(d: str) -> None:
            with contextlib.redirect_stdout(sys.stderr):  # its progress lines
                scale_data.make_scale_data(os.path.join(FIXTURE, self.base), d, self.scale)
            # make_scale_data offsets keys but copies names, so copies would
            # share names; in the fixture each name spells its key
            for table, key, name, prefix in (
                ("supplier", "s_suppkey", "s_name", "Supplier#"),
                ("customer", "c_custkey", "c_name", "Customer#"),
            ):
                path = os.path.join(d, f"{table}.parquet")
                t = pq.read_table(path)
                names = pa.array([f"{prefix}{k:09d}" for k in t[key].to_pylist()])
                assert names[: t.num_rows // self.scale].equals(
                    t[name][: t.num_rows // self.scale].combine_chunks()
                ), f"{table}.{name} does not follow {key}"
                t = t.set_column(t.schema.get_field_index(name), name, names)
                pq.write_table(t, path)

        return datagen.cached(self.ctx.cache_dir, f"tables-{self.base}x{self.scale}", build)

    def prepare(self) -> None:
        """Expand the tables and compute the DuckDB oracle result of every
        anchor query. Oracle results are cached next to the tables, keyed by a
        hash of the oracle SQL, so they are computed once per checkout."""
        import hashlib

        from simple_map_reduce_ruuner_spark.registry import all_queries

        self.oracle = _load_repo_module(self.ctx.root, "tests", "_oracle.py")
        self.registry = all_queries()
        self.sf_dir = self._tables()
        self.warm_dir = os.path.join(FIXTURE, self.warm)
        exp_dir = os.path.join(self.sf_dir, "expected")
        os.makedirs(exp_dir, exist_ok=True)
        self.expected: dict[str, str] = {}
        for name in ANCHOR_QUERIES:
            q = self.registry.get(name)
            if q is not None and q.oracle is not None:
                digest = hashlib.sha256(q.oracle.encode()).hexdigest()[:16]
                self.expected[name] = os.path.join(exp_dir, f"{name}-{digest}.pkl")
        missing = [n for n, path in self.expected.items() if not os.path.exists(path)]
        if missing:
            # one DuckDB cursor per thread, made here: a connection is not
            # safe to use from several threads at once
            con = self.oracle.duck_connect(self.sf_dir)
            cursors = {name: con.cursor() for name in missing}

            def compute(name: str) -> None:
                path = self.expected[name]
                frame = cursors[name].execute(self.registry[name].oracle).df()
                frame.to_pickle(path + ".tmp")
                os.replace(path + ".tmp", path)

            with ThreadPoolExecutor(len(missing)) as pool:
                for fut in [pool.submit(compute, n) for n in missing]:
                    fut.result()

    def wrap_layers(self) -> None:
        """Queries need no rebinding: their spans are opened in
        :meth:`run_unit`."""
        return None

    def _index_dirs(self, tag: str) -> str:
        base = os.path.join(self.ctx.run_dir, f"index-{tag}")
        os.environ["SMRR_IVF_INDEX_DIR"] = os.path.join(base, "ivf")
        os.environ["SMRR_BPE_INDEX_DIR"] = os.path.join(base, "bpe")
        return base

    def warm_up(self) -> None:
        """The anchor set at the tiny scale on one thread per core (on 4
        cores the cold JVM takes about 24 s for it this way and 37 s one
        query after another). Results are not kept; a query that fails
        here is counted when it fails in the timed pass."""
        from simple_map_reduce_ruuner_spark.sources.tables import clear_session_caches

        self._index_dirs("warm")

        def run(name: str) -> None:
            q = self.registry.get(name)
            if q is not None:
                q.fn(self.ctx.spark, self.warm_dir).toPandas()

        with ThreadPoolExecutor(self.ctx.cpus) as pool:
            for fut in [pool.submit(run, n) for n in ANCHOR_QUERIES]:
                try:
                    fut.result()
                except Exception:
                    traceback.print_exc(file=sys.stderr)
        clear_session_caches()

    def run_unit(self) -> Unit:
        from simple_map_reduce_ruuner_spark.sources.tables import clear_session_caches

        p = len(self.passes)
        index_base = self._index_dirs(f"pass{p}")
        results: dict[str, pd.DataFrame] = {}
        tracer = self.ctx.tracer
        first_span = len(tracer.spans)

        def one_pass() -> None:
            for i, name in enumerate(ANCHOR_QUERIES):
                self.outcome.attempted += 1
                tracer.op = p * len(ANCHOR_QUERIES) + i
                try:
                    with tracer.span(name, "bench"):
                        q = self.registry[name]
                        with tracer.span("build", "operators", job_group=True):
                            df = q.fn(self.ctx.spark, self.sf_dir)
                        with tracer.span("exec", "operators", job_group=True):
                            results[name] = df.toPandas()
                except Exception as exc:  # a failed query is counted, the pass goes on
                    _fail(self.outcome, f"pass{p}:{name}", exc)

        unit = _timed(one_pass)
        self.passes.append(results)
        self.pass_spans.append((first_span, len(tracer.spans)))
        self.index_builds.append(
            len(glob.glob(os.path.join(index_base, "*", "*", "_MANIFEST.json")))
        )
        self.cache_entries.append(clear_session_caches())
        return unit

    def check(self) -> None:
        for p, results in enumerate(self.passes):
            for name, got in results.items():
                key = f"pass{p}:{name}"
                try:
                    self.oracle._driver_canonicalize_or_raise(got)
                    if name in self.expected:
                        want = pd.read_pickle(self.expected[name])
                        if self.oracle._normalize(got) != self.oracle._normalize(want):
                            self.outcome.failures[key] = "result differs from the DuckDB oracle"
                except Exception as exc:
                    _fail(self.outcome, key, exc)

    def layer_metrics(self, stats: dict[int, GroupStats]) -> dict[str, float]:
        spans = self.ctx.tracer.spans
        per_pass: list[dict[str, float]] = []
        for p, (lo, hi) in enumerate(self.pass_spans):
            m: dict[str, float] = {}
            tot = GroupStats([], [])
            build_s = exec_s = gap = 0.0
            build_jobs = 0
            for i in range(lo, hi):
                s = spans[i]
                if s.layer != "operators":
                    continue
                q = spans[s.parent].name
                g = stats[i]
                tot.jobs += g.jobs
                tot.stages += g.stages
                pre = f"operators.{q}"
                m[f"{pre}.{s.name}_s"] = s.dur
                m[f"{pre}.jobs"] = m.get(f"{pre}.jobs", 0) + len(g.jobs)
                m[f"{pre}.shuffle_write_mb"] = (
                    m.get(f"{pre}.shuffle_write_mb", 0.0) + g.total("shuffle_write") / MB
                )
                if s.name == "build":
                    build_s += s.dur
                    build_jobs += len(g.jobs)
                else:
                    exec_s += s.dur
                    gap += sched_gap(s.start, s.end, [(st.start, st.end) for st in g.stages])
            m.update({
                "operators.build_s": build_s,
                "operators.build_jobs": build_jobs,
                "operators.exec_s": exec_s,
                "operators.jobs": len(tot.jobs),
                "operators.stages": len(tot.stages),
                "operators.tasks": tot.total("tasks"),
                "operators.sched_gap_s": gap,
                "operators.task_s": tot.task_s,
                "operators.core_util": core_util(tot.task_s, build_s + exec_s, self.ctx.cpus),
                "operators.gc_s": tot.total("gc_s"),
                "operators.shuffle_write_mb": tot.total("shuffle_write") / MB,
                "operators.shuffle_read_mb": tot.total("shuffle_read") / MB,
                "operators.spill_mb": tot.total("spill") / MB,
                "operators.input_mb": tot.total("input_bytes") / MB,
                "sources.index_builds": self.index_builds[p],
                "sources.session_cache_entries": self.cache_entries[p],
            })
            per_pass.append(m)
        return {name: median(x.get(name, 0.0) for x in per_pass) for name in per_pass[0]}


WORKLOADS = {
    "mr_wordcount": MrWordcount,
    "queries_sf0.05": Queries,
}

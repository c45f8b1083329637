"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run is closed-loop: one client, one
operation at a time, on ``local[N]`` with N = the usable CPU count, in
this fresh process. Inputs are made from the seed or the committed
fixture (cached under ``.perfbench/cache``); every run gets a fresh
state directory under ``.perfbench/`` for Spark's local dirs, the
on-disk index stores and temporary files, removed when the run ends.

Phases: prepare inputs (not timed); set-up = ``get_spark`` plus the
workload's warm-up (``setup_s``); closed-loop units until ``--seconds``
have passed (at least one); output checks; with ``--trace 1`` the
per-layer metrics from spans and Spark's status store.

With ``--trace 0`` the result carries the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics. A line of run
context (cpus, load average, CPU-steal share, inputs) is printed before
the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(run_dir: str, cpus: int) -> dict[str, str]:
    """Point every place the program writes state at ``run_dir``; return the
    Spark settings that do the same for the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SMRR_IVF_INDEX_DIR": os.path.join(run_dir, "index", "ivf"),
        "SMRR_BPE_INDEX_DIR": os.path.join(run_dir, "index", "bpe"),
        "TMPDIR": tmp,
    })
    tempfile.tempdir = None
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers and piped programs it started) to exit."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metric_spec(root: str, trace: int) -> dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    units_spec = _metric_spec(root, args.trace)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    spark = None
    try:
        extra_conf = _isolate(run_dir, cpus)
        # The program under test. Outside a checkout this import fails and
        # the run ends with an error before printing any result.
        sys.path.insert(0, root)
        from simple_map_reduce_ruuner_spark.session import get_spark

        from measure import TICKS_PER_S, Tracer, cpu_delta, median, peak_rss_mb, read_cpu, self_times
        from workloads import WORKLOADS, Ctx

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        ctx = Ctx(
            root=root,
            run_dir=run_dir,
            cache_dir=os.path.join(root, ".perfbench", "cache"),
            cpus=cpus,
            seed=args.seed,
            tracer=Tracer(None, bool(args.trace)),
        )
        wl = WORKLOADS[args.workload](ctx)
        wl.prepare()

        t0 = time.perf_counter()
        spark = ctx.spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=extra_conf)
        start_s = time.perf_counter() - t0
        wl.warm_up()
        setup_s = time.perf_counter() - t0
        warmup_s = setup_s - start_s
        ctx.tracer.sc = spark.sparkContext
        undo = wl.wrap_layers() if args.trace else None

        units = []
        cpu0, t_run = read_cpu(), time.perf_counter()
        try:
            while not units or time.perf_counter() - t_run < args.seconds:
                units.append(wl.run_unit())
        finally:
            if undo:
                undo()
        steal_share = cpu_delta(cpu0, read_cpu(), TICKS_PER_S)[1]
        load1 = os.getloadavg()[0]
        jvm_rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)

        wl.check()
        wall_s = median(u.wall_s for u in units)
        if args.trace:
            stats = ctx.tracer.add_spark_jobs()
            metrics = {name: 0.0 for name in units_spec}
            metrics.update({
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "session.jvm_peak_rss_mb": jvm_rss,
                "trace.wall_s": wall_s,
                "trace.overhead_s": ctx.tracer.overhead_s / len(units),
            })
            metrics.update(wl.layer_metrics(stats))
            for layer, secs in self_times(ctx.tracer.spans).items():
                if f"{layer}.self_s" in units_spec:
                    metrics[f"{layer}.self_s"] = secs / len(units)
        else:
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "cpu_s": median(u.cpu_s for u in units),
            }
        unknown = set(metrics) - set(units_spec)
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")

        out = wl.outcome
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "loadavg_1m": load1,
            "steal_share": steal_share,
            "units": len(units),
            "unit_wall_s": [u.wall_s for u in units],
            "failures": out.failures,
            **wl.describe(),
        }
        print(json.dumps({"context": context}), flush=True)
        result = {
            "correct": not out.failures,
            "attempted": out.attempted,
            "failed": len(out.failures),
            "metrics": {
                name: {"value": metrics[name], "unit": units_spec[name]} for name in units_spec
            },
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

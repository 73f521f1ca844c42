#!/usr/bin/env python3
"""Seeded, output-checked benchmark of the engine.

    python3 perfbench/run.py --workload olap_tpch --seed 1 --seconds 5 --trace 0

Run it from the repository root. One process, one Spark ``local[N]``
session. The run:

1. measures set-up (process start → registry loaded → session ready);
2. generates the workload's inputs from ``--seed`` under ``.perfbench/``;
3. runs one cold pass over the workload's ops, then as many steady passes
   as fill about ``--seconds`` at the workload's nominal pass time;
4. checks every op's output on every pass, outside the timed region;
5. prints a report line (run conditions, inputs, per-op rows) and, last,
   the result line ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 1`` every steady pass is traced, and the metrics are the
per-layer Spark counters of those passes plus the tracing overhead. See
perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "atlas_migration_repo_spark")
GEN = os.path.join(ROOT, "tools", "gen_fixtures.py")
WORK = os.path.join(ROOT, ".perfbench")
# Spark task threads. At these input sizes local[2] ran every workload as
# fast as local[4] or faster, and it leaves the other cores of a 4-core
# machine to the driver's Python, the JIT compiler, the garbage collector
# and the Python workers, which four task threads competed with.
MAX_CORES = 2
# A fixed-size driver heap (initial = max), touched in full at start. The
# engine's default 8 GB max with a small initial heap lets G1 grow the
# heap in timing-dependent steps, which moved peak memory by up to 40%
# between identical runs; a fixed heap left untouched still moved it by
# 15%, with how much of the heap G1 happened to touch. At these input
# sizes the driver never needs more than about 1 GB of heap. Resident
# memory then does not see how much of the heap is used, so the peak use
# of its old generation is reported as jvm.heap_peak_mb.
DRIVER_MEM = "1536m"


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="about how long the steady passes measure")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (self-test)")
    ap.add_argument("--check-corruption", action="store_true",
                    help="after the run, prove the checks reject a damaged expectation")
    return ap.parse_args(argv)


def configure_environment(cores: int) -> None:
    """Keep every file the run writes inside the checkout, and make the
    package importable by the Spark Python workers."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the launcher JVM that spark-submit starts first takes its own options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell"
    )


def generate_inputs(workload, seed: int, sf: float) -> tuple[str, dict]:
    """Fresh inputs for this workload and seed; the directory's basename
    names both, because registry ops key their scratch output by it."""
    sys.path.insert(0, os.path.dirname(GEN))
    import gen_fixtures
    import pyarrow.parquet as pq

    sf_dir = os.path.join(WORK, "inputs", f"{workload.name}-seed{seed}-sf{sf:g}")
    shutil.rmtree(sf_dir, ignore_errors=True)
    with contextlib.redirect_stdout(io.StringIO()):
        gen_fixtures.generate(sf, sf_dir, seed)
    tables = {}
    for f in sorted(os.listdir(sf_dir)):
        p = os.path.join(sf_dir, f)
        md = pq.ParquetFile(p).metadata
        tables[f.removesuffix(".parquet")] = {
            "rows": md.num_rows, "bytes": os.path.getsize(p), "row_groups": md.num_row_groups,
        }
    return sf_dir, tables


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def steady_passes(workload, seconds: float) -> int:
    """How many steady passes fill about ``seconds``: a count fixed by the
    workload's nominal pass time, not by the clock, so that every run of a
    workload makes the same number. Pass times still fall over the first
    passes while the JIT warms up, so a run that stopped on the clock would
    report a median taken at a machine-dependent point of that fall."""
    return max(1, math.ceil(seconds / workload.nominal_pass_s))


def run_and_discard(df) -> None:
    """The op's final action, a noop sink: run the DataFrame's own
    physical plan and drop every row. A noop writer would plan the query
    anew; running the DataFrame's own plan keeps its shuffle outputs, so
    the check that collects the rows afterwards reads what this action
    computed and re-runs only the stages after the last shuffle."""
    df._jdf.queryExecution().toRdd().count()


class Runner:
    """Runs passes over a workload's ops and keeps every measurement."""

    def __init__(self, spark, workload, trace: bool) -> None:
        from probes import SparkCounters

        self.wl = workload
        self.ops = workload.ops()
        self.counters = SparkCounters(spark) if trace else None
        self.passes: list[dict] = []  # one record per pass
        self.observed: dict[tuple[int, str], object] = {}
        self.errors: dict[tuple[int, str], str] = {}

    def run_pass(self, traced: bool) -> dict:
        from probes import bytes_written, tree_files
        from pyspark.sql import DataFrame

        index = len(self.passes)
        self.wl.start_pass(index)
        tables = self.wl.table_root()
        rec = {"index": index, "traced": traced, "wall_s": 0.0, "ops": {}}
        snap = tree_files(tables) if tables else {}
        for op in self.ops:
            row = {"build_s": 0.0, "exec_s": 0.0}
            jobs = []
            if traced:
                self.counters.tag(f"perfbench:{index}:{op.name}")
                jobs.append(self.counters.next_job_id())
            t0 = time.perf_counter()
            try:
                out = op.call()
                t1 = time.perf_counter()
                if traced:
                    jobs.append(self.counters.next_job_id())
                    row["trace_s"] = time.perf_counter() - t1
                if isinstance(out, DataFrame):
                    run_and_discard(out)
                t2 = time.perf_counter()
                row["build_s"], row["exec_s"] = t1 - t0, t2 - t1
            except Exception as e:  # noqa: BLE001 - an op failure is a measured outcome
                t2 = time.perf_counter()
                out = None
                row["build_s"] = t2 - t0
                self.errors[(index, op.name)] = f"{type(e).__name__}: {str(e)[:300]}"
            rec["wall_s"] += t2 - t0
            if traced:
                jobs.append(self.counters.next_job_id())
                self.counters.untag()
                if len(jobs) == 2:  # the call raised: everything counts as build
                    jobs.append(jobs[1])
                row["eager_jobs"] = jobs[1] - jobs[0]
                row.update(self.counters.stages(jobs[0], jobs[2]))
            if tables:
                after = tree_files(tables)
                row["bytes_written"] = bytes_written(snap, after)
                snap = after
            if out is not None and op.observe is not None:
                try:
                    self.observed[(index, op.name)] = op.observe(out)
                except Exception as e:  # noqa: BLE001
                    self.errors[(index, op.name)] = f"check raised {type(e).__name__}: {str(e)[:300]}"
            rec["ops"][op.name] = row
        if tables:
            rec["table_bytes"] = sum(sz for sz, _ in snap.values())
        self.passes.append(rec)
        return rec

    def failures(self) -> dict[tuple[int, str], str]:
        """(pass, op) → reason, for ops that raised or failed their check."""
        bad = dict(self.errors)
        for key, why in self.wl.verdicts(self.observed).items():
            if why is not None:
                bad.setdefault(key, why)
        return bad


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(setup_s: float, runner: Runner, failed: int, attempted: int,
               peak_rss: int) -> dict:
    wl, steady = runner.wl, runner.passes[1:]
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (runner.passes[0]["wall_s"], "s"),
        "pass_s": (median([p["wall_s"] for p in steady]), "s"),
        "ok_ratio": (1.0 - failed / attempted, "1"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "write_amp": (1.0, "1"),
        "space_amp": (1.0, "1"),
    }
    if wl.table_root():
        src = wl.landed_source_bytes()
        written = [sum(r.get("bytes_written", 0) for r in p["ops"].values())
                   for p in steady]
        metrics["write_amp"] = (median(written) / src, "1")
        metrics["space_amp"] = (median([p["table_bytes"] for p in steady]) / src, "1")
    return metrics


def per_layer(setup: dict, runner: Runner, cores: int, heap_peak: int) -> dict:
    from workloads import LAYERS

    traced = runner.passes[1:]
    layer_of = {op.name: op.layer for op in runner.ops}
    sums: dict[str, dict[str, float]] = {}
    for p in traced:
        for name, row in p["ops"].items():
            acc = sums.setdefault(layer_of[name], {})
            for k, v in row.items():
                acc[k] = acc.get(k, 0) + v / len(traced)
    metrics = {
        "registry.load_s": (setup["registry_s"], "s"),
        "session.start_s": (setup["session_s"], "s"),
        "spark.failed_tasks": (sum(a.get("failed_tasks", 0) for a in sums.values()), "count"),
    }
    for layer, names in LAYERS.items():
        acc = sums.get(layer, {})
        wall = acc.get("build_s", 0.0) + acc.get("exec_s", 0.0)
        task_run_s = acc.get("run_ms", 0) / 1000
        values = {
            "build_s": (acc.get("build_s", 0.0), "s"),
            "exec_s": (acc.get("exec_s", 0.0), "s"),
            "eager_jobs": (acc.get("eager_jobs", 0), "count"),
            "tasks": (acc.get("tasks", 0), "count"),
            "task_run_s": (task_run_s, "s"),
            "busy_ratio": (task_run_s / (wall * cores) if wall else 0.0, "1"),
            "shuffle_bytes": (acc.get("shuffle_bytes", 0), "B"),
            "bytes_written": (acc.get("bytes_written", 0), "B"),
        }
        for k in names:
            metrics[f"{layer}.{k}"] = values[k]
    metrics["jvm.heap_peak_mb"] = (heap_peak / 2**20, "MB")
    metrics["trace.pass_s"] = (median([p["wall_s"] for p in traced]), "s")
    metrics["trace.overhead_s"] = (sum(a.get("trace_s", 0.0) for a in sums.values()), "s")
    return metrics


def op_rows(runner: Runner, failures: dict) -> list[dict]:
    rows = []
    steady = runner.passes[1:]
    for op in runner.ops:
        fails = sorted((p, why) for (p, n), why in failures.items() if n == op.name)
        rows.append({
            "op": op.name,
            "layer": op.layer,
            "func": op.func,
            "cold_build_s": runner.passes[0]["ops"][op.name]["build_s"],
            "cold_exec_s": runner.passes[0]["ops"][op.name]["exec_s"],
            "build_s": median([p["ops"][op.name]["build_s"] for p in steady]),
            "exec_s": median([p["ops"][op.name]["exec_s"] for p in steady]),
            "checked": sum(1 for (_, n) in runner.observed if n == op.name),
            "check": "ok" if not fails else f"failed on pass {fails[0][0]}: {fails[0][1]}",
        })
    return rows


def main(argv=None) -> int:
    started = time.time()
    sys.path.insert(0, HERE)
    from probes import process_start_epoch, stop_spark

    setup_t0 = process_start_epoch()
    args = parse_args(argv)
    if not (os.path.isdir(PKG_DIR) and os.path.isfile(GEN)):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    configure_environment(cores)
    sys.path.insert(0, ROOT)

    t = time.perf_counter()
    from atlas_migration_repo_spark.registry import load_all_modules
    load_all_modules()
    registry_s = time.perf_counter() - t
    from atlas_migration_repo_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    session_s = time.perf_counter() - t
    setup_s = time.time() - setup_t0
    try:
        return run(spark, args, cores, {"registry_s": registry_s, "session_s": session_s,
                                        "setup_s": setup_s}, started)
    finally:
        stop_spark(spark)


def run(spark, args, cores: int, setup: dict, started: float) -> int:
    import duckdb
    import pyspark
    from probes import PeakRss, cpu_ticks, jvm_heap_peak_bytes, reset_jvm_heap_peak
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else cls.sf
    phases = {}
    t = time.perf_counter()
    sf_dir, tables = generate_inputs(cls, args.seed, sf)
    work_dir = os.path.join(WORK, "runs", os.path.basename(sf_dir))
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    wl = cls(spark, sf_dir, work_dir, args.seed)
    wl.prepare()
    runner = Runner(spark, wl, trace=bool(args.trace))
    phases["inputs_s"] = time.perf_counter() - t
    t = time.perf_counter()

    reset_jvm_heap_peak(spark)
    steal0, total0 = cpu_ticks()
    with PeakRss() as rss:
        runner.run_pass(traced=False)  # cold
        for _ in range(steady_passes(cls, args.seconds)):
            runner.run_pass(traced=bool(args.trace))
    heap_peak = jvm_heap_peak_bytes(spark)
    steal1, total1 = cpu_ticks()
    phases["passes_s"] = time.perf_counter() - t
    t = time.perf_counter()
    failures = runner.failures()
    phases["verdicts_s"] = time.perf_counter() - t
    attempted = len(runner.passes) * len(runner.ops)
    corruption = None
    if args.check_corruption:
        target = wl.corrupt()
        caught = {k for k, why in wl.verdicts(runner.observed).items() if why and k[1] == target}
        corruption = {"op": target, "caught_on_passes": sorted(p for p, _ in caught)}

    if args.trace:
        metrics = per_layer(setup, runner, cores, heap_peak)
    else:
        metrics = end_to_end(setup["setup_s"], runner, len(failures), attempted, rss.peak)

    sc = spark.sparkContext
    report = {
        "workload": wl.name,
        "why": wl.why,
        "conditions": {
            "seed": args.seed, "sf": sf, "seconds": args.seconds, "trace": args.trace,
            "nproc": os.cpu_count(), "cores_used": cores, "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": platform.python_version(), "git_commit": git_commit(),
            "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        },
        "inputs": tables,
        "pass_wall_s": [p["wall_s"] for p in runner.passes],
        "steady_passes": len(runner.passes) - 1,
        "jvm_heap_peak_mb": heap_peak / 2**20,
        "setup": setup,
        "ops": op_rows(runner, failures),
        "failures": [{"pass": p, "op": n, "why": why} for (p, n), why in sorted(failures.items())],
        "corruption_check": corruption,
        "phases": phases,
        "run_wall_s": time.time() - started,
    }
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"report": report, "passes": runner.passes}, f, indent=1, default=str)
    shutil.rmtree(work_dir, ignore_errors=True)
    shutil.rmtree(sf_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(ROOT, ".scratch", os.path.basename(sf_dir)), ignore_errors=True)

    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds nothing; drives the engine in
``ripple_server_spark`` through its public entry points on
``local[4]`` and prints, as the last line of standard output, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is the run record (seed, load, host facts, extra
measurements), also appended to ``.perfbench_runs/runs.jsonl``; spans
of a traced run go to ``.perfbench_runs/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4  # local[4]: the engine's session size the benchmark is sized for

WORKLOADS = ("pipeline_tail", "event_analytics")

E2E = {  # name -> unit; every workload reports every one
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}


# per-layer metrics: name -> (unit, better). Rates and sizes of useful
# work are "higher"; times, counts of work items and waste are "lower".
_LAYERS = """
session.get_spark_s s lower
sources.topics.produce.calls count lower
sources.topics.produce.rows count higher
sources.topics.produce.busy_s s lower
sources.topics.produce.call_p50_s s lower
sources.topics.produce.manifest_versions count lower
sources.topics.produce.jobs count lower
sources.topics.produce.tasks count lower
sources.topics.consume.build_s s lower
sources.topics.consume.exec_s s lower
sources.topics.consume.tasks_per_poll count lower
sources.topics.consume.rows_per_poll count higher
sources.topics.commit.p50_s s lower
sources.topics.compact_s s lower
sources.topics.vacuum_s s lower
sources.topics.files_before count lower
sources.topics.files_after count lower
sources.topics.files_reclaimed count higher
sources.topics.bucket_skew ratio lower
sources.datasource.trigger.count count lower
sources.datasource.trigger.empty_ratio ratio lower
sources.datasource.trigger.rows_p50 count higher
sources.datasource.trigger.latestOffset_ms_p50 ms lower
sources.datasource.trigger.queryPlanning_ms_p50 ms lower
sources.datasource.trigger.addBatch_ms_p50 ms lower
sources.datasource.trigger.walCommit_ms_p50 ms lower
sources.datasource.trigger.commitOffsets_ms_p50 ms lower
sources.datasource.trigger.triggerExecution_ms_p50 ms lower
sources.datasource.trigger.backlog_rows_max count lower
sources.datasource.first_trigger_s s lower
sources.datasource.drain.triggers count lower
sources.datasink.manifest_versions_per_trigger count lower
sources.datasink.files_per_trigger count lower
streaming.state.rows_total count lower
streaming.state.memory_bytes bytes lower
streaming.state.commit_ms_p50 ms lower
streaming.state.dropped_by_watermark count lower
streaming.state.duplicates_removed count higher
plans.build_s s lower
plans.plan_s s lower
plans.exec_s s lower
plans.jobs count lower
plans.tasks count lower
plans.executor_run_s s lower
plans.shuffle_read_bytes bytes lower
plans.shuffle_write_bytes bytes lower
plans.spill_bytes bytes lower
replay.total_s s lower
replay.poll_p50_s s lower
replay.drain_rows_per_s 1/s higher
replay.compacted_drain_rows_per_s 1/s higher
analytics.total_s s lower
analytics.geomean_s s lower
bench.failed_ops_ratio ratio lower
bench.generator_late_p50_s s lower
bench.generator_late_max_s s lower
bench.peak_rss_mb MB lower
bench.loadavg_1m load lower
bench.cpu_steal_share ratio lower
bench.trace_bookkeeping_s s lower
"""


def layer_metrics() -> dict[str, tuple[str, str]]:
    """Every per-layer metric a traced run prints, in order."""
    from analytics import QUERIES

    out = {}
    for line in _LAYERS.strip().splitlines():
        name, unit, better = line.split()
        out[name] = (unit, better)
    for q in QUERIES:
        out[f"plans.{q}.s"] = ("s", "lower")
    for k, u in E2E.items():
        out[f"e2e.{k}"] = (u, "lower")
    return out


def _source_id() -> dict:
    """Commit id when the checkout is a git work tree, and always a
    digest of the engine and benchmark sources."""
    commit = None
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for top in ("ripple_server_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".py"):
                    p = os.path.join(d, fn)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def _prepare_env(work: str) -> None:
    """Everything the run writes stays under ``work`` (inside the
    checkout); Python workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no hsperfdata file: HotSpot would put it in /tmp, outside the checkout
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import ripple_server_spark  # noqa: F401  (fails fast outside a checkout)

    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", stamp)
    inherited_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    _prepare_env(work)

    from harness import Bench, cpu_ticks, loadavg, steal_share

    bench = Bench(ROOT, work, args.seed, args.seconds, bool(args.trace))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cpus": CPUS,
        "SPARK_GRAFT_CPUS_inherited": inherited_cpus, **_source_id(),
        "loadavg_before": loadavg(), "started": time.time(),
    }
    ticks = cpu_ticks()
    e2e: dict[str, float] = {}
    crashed = None
    t_run = time.perf_counter()
    try:
        if args.workload == "pipeline_tail":
            import tail as wl
        else:
            import analytics as wl
        e2e = wl.run(bench)
        bench.mark("workload")
        e2e["setup_s"] = bench.setup_seconds
        bench.layers["bench.peak_rss_mb"] = bench.peak_rss_mb()
        record["default_parallelism"] = bench.spark.sparkContext.defaultParallelism
    except Exception:
        crashed = traceback.format_exc()
        bench.failed["run"] = bench.failed.get("run", 0) + 1
        bench.attempted["run"] = bench.attempted.get("run", 0) + 1
    finally:
        try:
            if bench.tracer.enabled and bench.tracer.spans:
                os.makedirs(runs_dir, exist_ok=True)
                bench.tracer.write(os.path.join(runs_dir, f"{stamp}.spans.json"))
        finally:
            t_stop = time.perf_counter()
            bench.shutdown()
            record["shutdown_s"] = time.perf_counter() - t_stop
            shutil.rmtree(work, ignore_errors=True)
    attempted = sum(bench.attempted.values())
    failed = sum(bench.failed.values())
    correct = crashed is None and failed == 0 and set(e2e) == set(E2E)
    L = bench.layers
    L["session.get_spark_s"] = bench.session_seconds or 0.0
    L["bench.failed_ops_ratio"] = failed / max(1, attempted)
    L["bench.loadavg_1m"] = loadavg()[0]
    L["bench.cpu_steal_share"] = steal_share(ticks, cpu_ticks())
    L["bench.trace_bookkeeping_s"] = bench.tracer.bookkeeping_s
    for k, v in e2e.items():
        L[f"e2e.{k}"] = v
    record.update(
        loadavg_after=loadavg(), wall_s=time.perf_counter() - t_run,
        attempted_by_kind=bench.attempted, failed_by_kind=bench.failed,
        failures=bench.failures[:20], crashed=crashed, e2e=e2e, layers=L, **bench.info,
    )
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    if crashed:
        print(crashed, file=sys.stderr)
    if args.trace:
        metrics = {n: {"value": float(L.get(n, 0.0)), "unit": u}
                   for n, (u, _) in layer_metrics().items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E.items() if n in e2e}
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

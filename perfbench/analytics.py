"""``event_analytics``: the registry's bench queries over the event and
star-schema tables, through the noop sink.

It exercises ``plans``, ``operators``, ``functions``, ``catalog`` and
Catalyst, and bypasses the stream source and sink: a source-layer
change must show no change here, and the other way round.

Inputs: the sf0.001 tables in ``perfbench/data`` (copied into the run's
work directory) and a seeded permutation of the query order. A
subset of ``bench_queries()`` runs -- the whole set takes ~45 s cold
and ~23 s warm on four cores, more than a run can spend -- chosen to
cover every layer above, including the dedup/similarity rows.

The set-up is cold: the JVM, the session and the views. An untimed
first pass then compares every query with its DuckDB oracle
(``tests/oracle_check.py``); it also warms code generation and the
Python workers. Then come three timed passes, and more while another
whole pass fits in the run's seconds. A pass is the user's request --
the whole report -- and its time is the latency reported; with fewer
than twenty passes the tail is the slowest one.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time

import numpy as np

from harness import Bench, tail
from tracing import spark_work

QUERIES = (
    "q_scan_events",
    "q_agg_multi",
    "q_fact_join",
    "q_tpch_q1",
    "q_tpch_q3_topk",
    "q_asof_join",
    "q_text_tfidf",
    "q_similarity_topk_pandas",
    "q_dedup_minhash_lsh",
)
MIN_PASSES = 3
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")


def _plan_s(df) -> float:
    """Analysis + optimization + planning seconds of the query's own
    plan, from its QueryExecution tracker (forces planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.valuesIterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next().durationMs()
    return total_ms / 1000.0


def run(bench: Bench) -> dict:
    from ripple_server_spark.catalog import register_views
    from ripple_server_spark.plans.registry import all_oracles, bench_queries

    sys.path.insert(0, os.path.join(bench.root, "tests"))
    import oracle_check

    builders = bench_queries()
    oracles = all_oracles()
    order = [QUERIES[i] for i in np.random.default_rng(bench.seed).permutation(len(QUERIES))]
    sf_dir = os.path.join(bench.work, "sf0.001")
    shutil.copytree(DATA, sf_dir)
    tr = bench.tracer

    # the set-up is cold: it launches the JVM
    t0 = time.perf_counter()
    bench.session("event_analytics")
    with tr.span("catalog.register_views", trace="setup"):
        register_views(bench.spark, sf_dir)
    bench.setup_done(time.perf_counter() - t0)
    spark = bench.spark
    bench.mark("setup")

    # untimed pass: oracle checks (and warm-up)
    con = oracle_check.duckdb_conn(sf_dir)
    try:
        for name in order:
            spark.catalog.clearCache()
            with bench.op("query"):
                diff = oracle_check.compare_query(
                    spark, con, name, builders[name], oracles[name], sf_dir)
            bench.check(diff is None, f"{name} differs from its oracle: {diff}")
    finally:
        con.close()

    bench.mark("oracle pass")
    times: dict[str, list[float]] = {q: [] for q in order}
    build: list[float] = []
    plan: list[float] = []
    execs: list[float] = []
    passes: list[float] = []
    t_end = time.perf_counter() + bench.seconds
    # MIN_PASSES whole passes, more while the next one is expected to fit
    while len(passes) < MIN_PASSES or time.perf_counter() + passes[-1] <= t_end:
        p = len(passes)
        t_pass = time.perf_counter()
        for name in order:
            # persisted intermediates of one query must not warm the next
            spark.catalog.clearCache()
            with bench.op("query"), tr.span("plans.query", trace=f"{name}#{p}", group=True):
                t0 = time.perf_counter()
                with tr.span("plans.build"):
                    df = builders[name](spark, sf_dir)
                t1 = time.perf_counter()
                if tr.enabled:
                    plan.append(_plan_s(df))
                with tr.span("plans.execute"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            times[name].append(t2 - t0)
            build.append(t1 - t0)
            execs.append(t2 - t1)
        passes.append(time.perf_counter() - t_pass)

    per_query = {q: statistics.median(v) for q, v in times.items()}
    # the user's request is the whole report: one pass over the queries
    q, tail_v, n = tail(passes, n_min=MIN_PASSES)
    e2e = {"latency_p50_s": statistics.median(passes), "latency_tail_s": tail_v}
    bench.info.update(latency_tail_percentile=q, latency_samples=n, pass_s=passes,
                      query_order=order, queries=len(QUERIES))

    L = bench.layers
    for name, v in per_query.items():
        L[f"plans.{name}.s"] = v
    L["analytics.total_s"] = sum(per_query.values())
    L["analytics.geomean_s"] = math.exp(sum(math.log(v) for v in per_query.values()) / len(per_query))
    L["plans.build_s"] = sum(build) / len(passes)
    L["plans.exec_s"] = sum(execs) / len(passes)
    if tr.enabled:
        L["plans.plan_s"] = sum(plan) / len(passes)
        groups = [g for g in tr.groups if g.endswith("/plans.query")]
        work = spark_work(spark.sparkContext, groups)
        for k in ("jobs", "tasks", "executor_run_s", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes"):
            L[f"plans.{k}"] = sum(w[k] for w in work.values()) / len(passes)
    return e2e

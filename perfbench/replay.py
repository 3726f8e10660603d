"""Replay of a topic's log: the throughput side of the read path.

After the live tail, the ``in`` topic holds the whole produced backlog
in one file per bucket per produce call. Replaying it:

1. poll every bucket once with ``consume`` + ``commit`` at a fixed count;
2. drain the fragmented log through ``ripple_topic`` from a fresh
   checkpoint;
3. ``compact`` + ``vacuum``;
4. drain again.

File count and bucket skew dominate here. The drains go to the memory
sink, so this phase bypasses ``sources.datasink`` and ``streaming``.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pandas as pd

from gen import row_hash
from harness import Bench, Failed
from tracing import spark_work

POLL_COUNT = 500
DRAIN_CAP = 5000  # per-bucket admission cap of the draining stream (batch_size)
TIMEOUT_S = 120.0


def _drain(bench: Bench, store, topic: str, name: str) -> tuple[float, pd.DataFrame, list]:
    """availableNow drain from a fresh checkpoint into the memory sink:
    (seconds, rows drained, trigger progress)."""
    spark = bench.spark
    t0 = time.perf_counter()
    with bench.op("drain"), bench.tracer.span("sources.datasource.drain", trace=name):
        q = (
            spark.readStream.format("ripple_topic")
            .option("root", store.root)
            .option("topic", topic)
            .option("batch_size", DRAIN_CAP)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(bench.work, "ckpt", name))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(TIMEOUT_S):
            q.stop()
            raise Failed(f"drain of {topic} timed out")
        if q.exception() is not None:
            raise Failed(f"drain of {topic} failed: {q.exception()}")
    dt = time.perf_counter() - t0
    rows = spark.table(name).toPandas()
    spark.catalog.dropTempView(name)
    return dt, rows, [json.loads(p.json) for p in q.recentProgress]


def replay(bench: Bench, store, topic: str, produced: pd.DataFrame) -> float:
    """Replay ``topic``, which holds exactly ``produced``; returns the
    seconds the replay took (checks excluded)."""
    tr, spark = bench.tracer, bench.spark
    m = store.latest_manifest(topic)[1]
    n_buckets = int(m["n_buckets"])
    sizes = {int(b): int(x) + 1 for b, x in m["maxima"].items()}
    L = bench.layers
    L["sources.topics.bucket_skew"] = max(sizes.values()) / (sum(sizes.values()) / n_buckets)
    L["sources.topics.files_before"] = len(m["files"])
    store.register_consumer("replay", topic)
    t_start = time.perf_counter()

    polls, lat, build, execs, commits = [], [], [], [], []
    for bucket in range(n_buckets):
        trace = f"poll#{bucket}"
        t0 = time.perf_counter()
        with bench.op("poll"), tr.span("sources.topics.consume", trace=trace, group=True):
            df, nxt = store.consume("replay", topic, bucket=bucket, count=POLL_COUNT)
            t1 = time.perf_counter()
            got = df.toPandas()
        t2 = time.perf_counter()
        with bench.op("commit"), tr.span("sources.topics.commit", trace=trace):
            store.commit("replay", topic, bucket, nxt)
        t3 = time.perf_counter()
        polls.append((bucket, min(POLL_COUNT, sizes.get(bucket, 0)), got))
        lat.append(t3 - t0)
        build.append(t1 - t0)
        execs.append(t2 - t1)
        commits.append(t3 - t2)
    bench.mark("replay polls")

    d1, rows1, trig1 = _drain(bench, store, topic, "drain_fragmented")
    t0 = time.perf_counter()
    with bench.op("compact"), tr.span("sources.topics.compact", trace="compact", group=True):
        store.compact(topic)
    t1 = time.perf_counter()
    with bench.op("vacuum"), tr.span("sources.topics.vacuum", trace="compact"):
        reclaimed = store.vacuum(topic, grace_s=0.0)  # no writer is in flight
    t2 = time.perf_counter()
    d2, rows2, trig2 = _drain(bench, store, topic, "drain_compacted")
    elapsed = time.perf_counter() - t_start
    bench.mark("replay drains")

    # -- checks (outside the timed region) -------------------------------
    for bucket, n_want, got in polls:
        ok = (len(got) == n_want
              and (got["bucket"] == bucket).all()
              and (np.sort(got["seq"].to_numpy()) == np.arange(n_want)).all())
        bench.check(bool(ok), f"poll of bucket {bucket} returned {len(got)} rows off range")
    h = row_hash(produced)
    for label, rows in (("fragmented", rows1), ("compacted", rows2)):
        bench.check(len(rows) == len(produced),
                    f"{label} drain returned {len(rows)} of {len(produced)} rows")
        bench.check(row_hash(rows) == h, f"{label} drain content differs from what was produced")

    med = statistics.median
    n = len(produced)
    L["replay.poll_p50_s"] = med(lat)
    L["replay.drain_rows_per_s"] = n / d1
    L["replay.compacted_drain_rows_per_s"] = n / d2
    L["sources.topics.consume.build_s"] = med(build)
    L["sources.topics.consume.exec_s"] = med(execs)
    L["sources.topics.consume.rows_per_poll"] = sum(len(p[2]) for p in polls) / len(polls)
    L["sources.topics.commit.p50_s"] = med(commits)
    L["sources.topics.compact_s"] = t1 - t0
    L["sources.topics.vacuum_s"] = t2 - t1
    L["sources.topics.files_after"] = len(store.latest_manifest(topic)[1]["files"])
    L["sources.topics.files_reclaimed"] = reclaimed
    L["sources.datasource.drain.triggers"] = len(trig1) + len(trig2)
    if tr.enabled:
        cons = [g for g in tr.groups if g.endswith("/sources.topics.consume")]
        work = spark_work(spark.sparkContext, cons)
        L["sources.topics.consume.tasks_per_poll"] = (
            sum(w["tasks"] for w in work.values()) / len(cons))
    return elapsed

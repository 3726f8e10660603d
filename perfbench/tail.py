"""``pipeline_tail``: open-loop live tail through the whole pipeline,
then a replay of the log it produced.

One producer thread calls ``TopicStore.produce`` on a fixed schedule,
whatever the pipeline is doing; a ``ripple_topic`` stream reads topic
``in`` (partitioned tier, capped ``batch_size``), applies
``streaming.api.dedup_stream`` and writes through the native
``ripple_topic`` sink into ``out``. It is the only workload where the
per-trigger fixed costs dominate (admission planning, Python workers,
per-task manifest commits, the state store) and the only one that
runs ``sources.datasink`` and ``streaming``.

Every row of a batch is stamped with the batch's due time on the
schedule. A batch's latency runs from its due time to the end of the
first trigger whose source end offsets cover it, less the idle wait for
the trigger grid: the time from when the pipeline was free (the
produce had committed and every earlier trigger had ended) to the start
of the covering trigger. What remains is the producer's lateness, the
produce, any wait behind a trigger that overran, and the covering
trigger -- work and the stalls it imposes, not the phase of the grid.

Once the tail has delivered everything, the stream stops and the ``in``
log is replayed (``replay.py``): polls, a drain of the fragmented log,
compaction and a drain of the compacted one.
"""

from __future__ import annotations

import dataclasses
import os
import statistics
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import replay
from gen import EventGenerator, EventSpec, row_hash
from harness import Bench, Failed, tail
from tracing import spark_work, trigger_listener

N_BUCKETS = 4  # one task per core per trigger on local[4]
# The stream triggers on a fixed grid (Spark aligns processing-time
# triggers to multiples of the interval) and the producer sends one
# batch per grid period, PHASE_S after each tick: by then the trigger
# that started at the tick has normally ended, so each batch is covered
# by a trigger of its own and produce and trigger seldom contend.
INTERVAL_S = 4.0
# A trigger ends before PHASE_S and a produce before the next tick, with
# room for the slow ones: a batch that misses its tick waits behind the
# watermark's no-data trigger, and one due during a trigger contends
# with it.
PHASE_S = 2.6
ROWS_PER_BATCH = 4000  # 1k rows/s, well below the measured trigger capacity
# Scheduled batches that are not measured: code generation and the JIT
# keep speeding triggers up over the first few after the warm-up batch.
UNMEASURED = 1
BATCH_CAP = 4000  # per-bucket admission cap of the source (batch_size)
DRAIN_TIMEOUT_S = 90.0
PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
          "triggerExecution")


def _covers(cursors: dict[int, int], maxima: dict[int, int]) -> bool:
    return all(cursors.get(b, 0) >= m + 1 for b, m in maxima.items())


def _maxima(store, topic: str) -> dict[int, int]:
    return {int(b): int(m) for b, m in store.latest_manifest(topic)[1]["maxima"].items()}


def _read_log(store, topic: str) -> pd.DataFrame:
    """The rows of the topic's latest manifest, read straight from its
    parquet files (no Spark job), with the bucket of each file."""
    parts = []
    for rel in store.latest_manifest(topic)[1]["files"]:
        t = pq.read_table(os.path.join(store.data_dir(topic), rel)).to_pandas()
        t["bucket"] = int(rel.split("/")[0].split("=")[1])
        parts.append(t)
    return pd.concat(parts, ignore_index=True)


class _Tail:
    def __init__(self, bench: Bench):
        self.bench = bench
        self.listener_errors: list[str] = []
        self.listener = None
        self.store = None
        self.query = None

    def start(self) -> None:
        """The cold set-up: the JVM and session, the topics and a
        started stream -- what a user's process pays before rows can
        flow. Registering the benchmark's listener is not timed."""
        from ripple_server_spark.sources.topics import TopicStore
        from ripple_server_spark.streaming.api import dedup_stream

        b = self.bench
        t0 = time.perf_counter()
        b.session("pipeline_tail")
        spark = b.spark
        t_listener = time.perf_counter()
        self.listener = trigger_listener(self.listener_errors.append)
        spark.streams.addListener(self.listener)
        t_listener = time.perf_counter() - t_listener
        root = os.path.join(b.work, "tail")
        tr = b.tracer
        with tr.span("sources.topics.create_topic", trace="setup"):
            self.store = TopicStore(spark, os.path.join(root, "store"))
            self.store.create_topic("in", n_buckets=N_BUCKETS)
            self.store.create_topic("out", n_buckets=N_BUCKETS)
        with tr.span("streaming.start", trace="setup"):
            src = (
                spark.readStream.format("ripple_topic")
                .option("root", self.store.root)
                .option("topic", "in")
                .option("batch_size", BATCH_CAP)
                .load()
                .drop("seq", "bucket")
            )
            self.query = (
                dedup_stream(src)
                .writeStream.format("ripple_topic")
                .option("root", self.store.root)
                .option("topic", "out")
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .trigger(processingTime=f"{INTERVAL_S} seconds")
                .start()
            )
        b.setup_done(time.perf_counter() - t0 - t_listener)

    def triggers(self) -> list[dict]:
        rid = str(self.query.runId)
        return [t for t in self.listener.snapshot() if t["run_id"] == rid]

    def wait(self, pred, timeout_s: float, what: str) -> list[dict]:
        deadline = time.time() + timeout_s
        while True:
            trs = self.triggers()
            if pred(trs):
                return trs
            if self.query.exception() is not None:
                raise Failed(f"stream failed waiting for {what}: {self.query.exception()}")
            if time.time() > deadline:
                raise Failed(f"timed out waiting for {what}")
            time.sleep(0.02)

    def wait_covered(self, maxima: dict[int, int], what: str) -> list[dict]:
        return self.wait(
            lambda trs: any(_covers(t["cursors"], maxima) for t in trs),
            DRAIN_TIMEOUT_S,
            what,
        )


def run(bench: Bench) -> dict:
    spec = EventSpec()
    gen = EventGenerator(bench.seed, spec)
    n_batches = UNMEASURED + max(2, round(bench.seconds / INTERVAL_S) - UNMEASURED)
    # all inputs exist before the clock starts; batch k is stamped with
    # its due time, (k + 1) periods after the schedule's origin
    warm = gen.batch(ROWS_PER_BATCH, created_s=0.0)
    batches = [gen.batch(ROWS_PER_BATCH, created_s=(k + 1) * INTERVAL_S) for k in range(n_batches)]
    produced = pd.concat([warm] + batches, ignore_index=True)

    t = _Tail(bench)
    t.start()
    spark, store, tr = bench.spark, t.store, bench.tracer
    bench.mark("setup")
    # untimed warm-up: the process's first trigger brings up the Python
    # workers, and one batch through produce, trigger and sink warms
    # their code paths before the schedule starts
    with bench.op("produce"):
        store.produce(spark.createDataFrame(warm), "in")
    first = t.wait_covered(_maxima(store, "in"), "warm-up batch")[0]
    bench.mark("warm-up")

    def produce(pdf, trace: str) -> dict[int, int]:
        with bench.op("produce"), tr.span("sources.topics.produce", trace=trace, group=True):
            store.produce(spark.createDataFrame(pdf), "in")
        return _maxima(store, "in")

    v_in0 = store.latest_manifest("in")[0]
    v_out0 = store.latest_manifest("out")[0]
    n_trig0 = len(t.triggers())

    sent: list[dict] = []
    errors: list[Exception] = []

    def producer(t0: float) -> None:
        try:
            for k, pdf in enumerate(batches):
                due = t0 + (k + 1) * INTERVAL_S
                time.sleep(max(0.0, due - time.time()))
                start = time.time()
                maxima = produce(pdf, f"produce#{k}")
                sent.append({"due": due, "start": start, "end": time.time(), "maxima": maxima,
                             "rows": len(pdf)})
        except Exception as e:  # re-raised on the main thread
            errors.append(e)

    # batch k is due PHASE_S after the (k+1)-th grid tick from t0
    t0 = (np.floor((time.time() - PHASE_S) / INTERVAL_S) + 1) * INTERVAL_S + PHASE_S - INTERVAL_S
    th = threading.Thread(target=producer, args=(t0,), name="perfbench-producer")
    th.start()
    th.join()
    if errors:
        raise errors[0]
    bench.mark("schedule")
    versions_in = store.latest_manifest("in")[0] - v_in0
    t.wait_covered(sent[-1]["maxima"], "last batch")
    last = t.query.lastProgress["batchId"]
    t.query.stop()
    # the listener bus is asynchronous: wait for the final progress
    t.wait(lambda x: x and x[-1]["batch"] >= last, 30.0, "listener catch-up")
    trs = t.triggers()[n_trig0:]
    bench.attempted["trigger"] = len(trs)
    bench.mark("drain")

    # -- latency: due time -> end of the first covering trigger, less
    # the idle wait from when the pipeline was free to that trigger's start
    lat, parts = [], []
    for s in sent[UNMEASURED:]:
        i = next(i for i, tg in enumerate(trs) if _covers(tg["cursors"], s["maxima"]))
        cov = trs[i]
        free = max([s["end"]] + [tg["end"] for tg in trs[:i]])
        idle = max(0.0, cov["start"] - free)
        lat.append(cov["end"] - s["due"] - idle)
        parts.append({"late_s": s["start"] - s["due"], "produce_s": s["end"] - s["start"],
                      "queued_s": max(0.0, free - s["end"]), "idle_s": idle,
                      "trigger_s": cov["end"] - cov["start"]})
    q, tail_v, n = tail(lat, n_min=n_batches - UNMEASURED)
    busy = [tg for tg in trs if tg["rows"] > 0]
    late = [s["start"] - s["due"] for s in sent]

    # -- output checks (outside the timed region) ------------------------
    want = produced.drop_duplicates("event_id")
    got = _read_log(store, "out")
    bench.check(len(got) == len(want), f"out holds {len(got)} rows, want {len(want)} distinct events")
    bench.check(got["event_id"].is_unique, "out holds an event more than once")
    bench.check(row_hash(got) == row_hash(want), "out content differs from the distinct events sent")
    for b, g in got.groupby("bucket"):
        seqs = np.sort(g["seq"].to_numpy())
        bench.check(bool((seqs == np.arange(len(seqs))).all()), f"out bucket {b} seqs not dense")
    bench.check(not t.listener_errors, f"listener errors: {t.listener_errors[:1]}")
    n_dups = len(produced) - len(want)
    bench.mark("checks")

    e2e = {"latency_p50_s": statistics.median(lat), "latency_tail_s": tail_v}
    bench.layers["replay.total_s"] = replay.replay(bench, store, "in", produced)
    bench.info.update(
        latency_tail_percentile=q, latency_samples=n, latency_s=lat, latency_parts=parts,
        batches=len(sent),
        triggers=len(trs), rows_per_s=ROWS_PER_BATCH / INTERVAL_S, interval_s=INTERVAL_S,
        spec=dataclasses.asdict(spec),
        generated_duplicates=int(n_dups),
    )

    # -- per-layer -------------------------------------------------------
    L = bench.layers
    prod = [s["end"] - s["start"] for s in sent]
    L["sources.topics.produce.calls"] = len(sent)
    L["sources.topics.produce.rows"] = sum(s["rows"] for s in sent)
    L["sources.topics.produce.busy_s"] = sum(prod)
    L["sources.topics.produce.call_p50_s"] = statistics.median(prod)
    L["sources.topics.produce.manifest_versions"] = versions_in
    L["sources.datasource.first_trigger_s"] = first["end"] - first["start"]
    L["sources.datasource.trigger.count"] = len(trs)
    L["sources.datasource.trigger.empty_ratio"] = 1 - len(busy) / len(trs)
    L["sources.datasource.trigger.rows_p50"] = statistics.median(tg["rows"] for tg in busy)
    for ph in PHASES:
        L[f"sources.datasource.trigger.{ph}_ms_p50"] = statistics.median(
            tg["durations_ms"].get(ph, 0) for tg in busy)
    backlog = []
    for tg in trs:
        landed = sum(s["rows"] for s in sent if s["end"] <= tg["start"])
        admitted = sum(s["rows"] for s in sent if _covers(tg["cursors"], s["maxima"]))
        backlog.append(max(0, landed - admitted))
    L["sources.datasource.trigger.backlog_rows_max"] = max(backlog)
    v_out, m_out = store.latest_manifest("out")
    L["sources.datasink.manifest_versions_per_trigger"] = (v_out - v_out0) / len(busy)
    L["sources.datasink.files_per_trigger"] = len(m_out["files"]) / len(busy)
    states = [tg["state"] for tg in trs if tg["state"]]
    L["streaming.state.rows_total"] = states[-1]["numRowsTotal"]
    L["streaming.state.memory_bytes"] = max(s["memoryUsedBytes"] for s in states)
    L["streaming.state.commit_ms_p50"] = statistics.median(s["commitTimeMs"] for s in states)
    L["streaming.state.dropped_by_watermark"] = sum(s["numRowsDroppedByWatermark"] for s in states)
    L["streaming.state.duplicates_removed"] = sum(
        s["customMetrics"].get("numDroppedDuplicateRows", 0) for s in states)
    L["bench.generator_late_p50_s"] = statistics.median(late)
    L["bench.generator_late_max_s"] = max(late)
    if tr.enabled:
        for tg in trs:
            sid = tr.add("sources.datasource.trigger", f"trigger#{tg['batch']}", tg["start"], tg["end"])
            at = tg["start"]
            for ph in ("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets"):
                d = tg["durations_ms"].get(ph, 0) / 1000.0
                tr.add(f"sources.datasource.trigger.{ph}", f"trigger#{tg['batch']}", at, at + d, parent=sid)
                at += d
        groups = [g for g in tr.groups if g.endswith("/sources.topics.produce")]
        work = spark_work(spark.sparkContext, groups)
        L["sources.topics.produce.jobs"] = sum(work[g]["jobs"] for g in groups if g in work)
        L["sources.topics.produce.tasks"] = sum(work[g]["tasks"] for g in groups if g in work)
    return e2e

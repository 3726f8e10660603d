"""Span recording, Spark work attribution and trigger capture.

Everything here sits outside the engine: spans wrap the benchmark's
own calls into each layer's public functions, Spark work is read back
from the status store per job group, and streaming triggers come from a
benchmark-owned ``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import logging
import threading
import time
import traceback

log = logging.getLogger("perfbench")


class Tracer:
    """In-memory spans (name, trace id, span id, parent, start, end),
    written out once at the end of the run. Disabled, ``span`` only
    yields: untraced runs pay one ``if`` per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.groups: list[str] = []  # Spark job groups, in creation order
        self.bookkeeping_s = 0.0  # time spent recording spans
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._sc = None

    def bind(self, sc) -> None:
        """Attach the SparkContext whose job groups spans set."""
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, group: bool = False):
        """Record ``name`` around the block. ``trace`` starts a new trace
        (one per produced batch, poll, trigger or query); nested spans
        inherit it. ``group`` puts the Spark jobs the block runs into
        a job group named after the span, for :func:`spark_work`."""
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            self._next += 1
            sid = self._next
        rec = {
            "name": name,
            "trace": trace or (parent["trace"] if parent else f"{name}#{sid}"),
            "id": sid,
            "parent": parent["id"] if parent else None,
        }
        if group and self._sc is not None:
            gid = f"{rec['trace']}/{name}"
            self._sc.setJobGroup(gid, name)
            rec["group"] = gid
            with self._lock:
                self.groups.append(gid)
        stack.append(rec)
        t_in = time.perf_counter() - t_in
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            t_out = time.perf_counter()
            stack.pop()
            if group and self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += t_in + time.perf_counter() - t_out

    def add(self, name: str, trace: str, start: float, end: float, parent=None) -> int:
        """Record a span measured elsewhere (trigger phases)."""
        with self._lock:
            self._next += 1
            rec = {"name": name, "trace": trace, "id": self._next,
                   "parent": parent, "start": start, "end": end}
            self.spans.append(rec)
            return rec["id"]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval that its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def spark_work(sc, groups) -> dict[str, dict]:
    """Jobs, tasks, executor run time, shuffle read/write and spill per
    job group, read from the application status store. Streaming
    queries group their jobs under the query's run id."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    wanted = set(groups)
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for job in _scala_seq(store.jobsList(None)):
        g = job.jobGroup()
        g = g.get() if g.isDefined() else None
        if g not in wanted:
            continue
        acc = out.setdefault(g, {"jobs": 0, "tasks": 0, "executor_run_s": 0.0,
                                 "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                                 "spill_bytes": 0})
        acc["jobs"] += 1
        for sid in _scala_seq(job.stageIds()):
            stage_group[int(sid)] = g
    for sid, g in stage_group.items():
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue  # skipped stage (its shuffle output was reused): no attempt
        acc = out[g]
        acc["tasks"] += int(st.numCompleteTasks())
        acc["executor_run_s"] += st.executorRunTime() / 1000.0
        acc["shuffle_read_bytes"] += int(st.shuffleReadBytes())
        acc["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        acc["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
    return out


def _iso_s(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def trigger_listener(on_error):
    """A ``StreamingQueryListener`` that keeps every trigger's progress
    as a plain dict. Callback exceptions go to ``on_error`` with their
    traceback instead of vanishing on the listener bus."""
    from pyspark.sql.streaming import StreamingQueryListener

    class TriggerLog(StreamingQueryListener):
        def __init__(self):
            self.triggers: list[dict] = []
            self._lock = threading.Lock()

        def _guard(self, fn, event):
            try:
                fn(event)
            except Exception:  # listener-bus boundary: report, keep running
                msg = traceback.format_exc()
                log.error("streaming listener callback failed:\n%s", msg)
                on_error(msg)

        def onQueryStarted(self, event):  # noqa: N802
            pass  # nothing to record before the first trigger

        def onQueryIdle(self, event):  # noqa: N802
            pass  # idle polls carry no progress

        def onQueryProgress(self, event):  # noqa: N802
            self._guard(self._progress, event)

        def onQueryTerminated(self, event):  # noqa: N802
            pass  # a failed query is seen through query.exception()

        def _progress(self, event):
            p = json.loads(event.progress.json)
            d = p["durationMs"]
            start = _iso_s(p["timestamp"])
            src = p["sources"][0] if p["sources"] else {}
            end_off = src.get("endOffset") or {}
            if isinstance(end_off, str):
                end_off = json.loads(end_off)
            cursors = json.loads(end_off.get("cursors", "{}")) if end_off else {}
            rec = {
                "run_id": p["runId"],
                "batch": p["batchId"],
                "start": start,
                "end": start + d.get("triggerExecution", 0) / 1000.0,
                "durations_ms": d,
                "rows": p["numInputRows"],
                "cursors": {int(b): int(c) for b, c in cursors.items()},
                "state": p["stateOperators"][0] if p["stateOperators"] else None,
            }
            with self._lock:
                self.triggers.append(rec)

        def snapshot(self) -> list[dict]:
            with self._lock:
                return sorted(self.triggers, key=lambda r: (r["run_id"], r["batch"]))

    return TriggerLog()

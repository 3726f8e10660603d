"""Manifest-log races that need a forced interleaving: two creators
racing for version 1, and readers of a version whose slot the linkless
claim fallback has taken but whose bytes have not landed yet.

The interleavings are forced by wrapping the ``os`` primitives the
claim uses, so they are deterministic rather than timing-dependent.
"""

from __future__ import annotations

import errno
import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from ripple_server_spark.catalog import load_table
from ripple_server_spark.sources.topics import TopicStore


def _v1_path(root: str, topic: str) -> str:
    return os.path.join(root, "topics", topic, "_log", f"{1:020d}.json")


def test_create_topic_never_overwrites_a_concurrently_claimed_v1(
    spark, tmp_path, monkeypatch
):
    """A rival creator (another process's create_topic, or the sink's
    create_topic=true auto-create) claims v1 after this creator saw an
    empty log but before it publishes: the rival's committed v1 — its
    n_buckets and config — must stand, and this create_topic returns
    as the idempotent no-op it is for an existing topic."""
    st = TopicStore(spark, str(tmp_path / "race"))
    v1 = _v1_path(st.root, "t")
    rival = {
        "version": 1,
        "topic": "t",
        "n_buckets": 3,
        "files": [],
        "applied_batches": [],
        "maxima": {},
        "floors": {},
        "config": {"owner": "rival"},
    }
    fired: list[str] = []

    def rival_lands_first(real):
        def publish(src, dst, *a, **kw):
            if dst == v1 and not fired:
                fired.append(dst)
                with open(v1, "w") as f:
                    json.dump(rival, f)
            return real(src, dst, *a, **kw)

        return publish

    # whichever primitive publishes v1 (link claim or rename), the rival
    # gets there first
    monkeypatch.setattr(os, "link", rival_lands_first(os.link))
    monkeypatch.setattr(os, "replace", rival_lands_first(os.replace))
    st.create_topic("t", n_buckets=8, config={"owner": "late"})
    monkeypatch.undo()

    assert fired, "create_topic never published v1"
    meta = st.topic_meta("t")
    assert meta["n_buckets"] == 3
    assert meta["config"] == {"owner": "rival"}
    assert st._latest_version("t") == 1


def _linkless(monkeypatch, claimed: threading.Event | None = None, delay=0.05):
    """Force the linkless claim fallback (``os.link`` fails as on a mount
    without hard links). With ``claimed``, the fallback's O_EXCL-created
    manifest name stays EMPTY for ``delay`` seconds before its bytes
    land, and ``claimed`` fires when the empty name appears."""

    def no_link(src, dst, *a, **kw):
        raise OSError(errno.EPERM, "hard links not supported")

    monkeypatch.setattr(os, "link", no_link)
    if claimed is None:
        return
    real_open = os.open

    def slow_claim(p, flags, *a, **kw):
        fd = real_open(p, flags, *a, **kw)
        if flags & os.O_EXCL and str(p).endswith(".json"):
            claimed.set()
            time.sleep(delay)
        return fd

    monkeypatch.setattr(os, "open", slow_claim)


def _events(spark, sf_dir, lo, hi):
    ev = load_table(spark, sf_dir, "events")
    return ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))


def _read_pinned(st, v):
    return st.read_topic("t", version=v).count()


def _compact_pinned(st, v):
    st.compact("t", base_version=v)
    return st.read_topic("t").count()


@pytest.mark.parametrize("op", [_read_pinned, _compact_pinned])
def test_pinned_reads_retry_a_torn_linkless_manifest(
    spark, sf_dir, tmp_path, monkeypatch, op
):
    """read_topic(version=v) and compact(base_version=v) issued while
    v's slot is claimed but its bytes are ~50 ms from landing must wait
    the torn read out, not fail with JSONDecodeError."""
    st = TopicStore(spark, str(tmp_path / "torn"))
    st.create_topic("t", n_buckets=2)
    n = st.produce(_events(spark, sf_dir, 0, 40), "t")

    claimed = threading.Event()
    _linkless(monkeypatch, claimed)
    v = st._latest_version("t") + 1
    writer = threading.Thread(
        target=st.alter_topic_config, args=("t", {"note": "slow"})
    )
    writer.start()
    try:
        assert claimed.wait(10), "the slow claim never started"
        got = op(st, v)  # v exists, its bytes are still in flight
    finally:
        writer.join(10)
        monkeypatch.undo()
    assert not writer.is_alive(), "the slow commit never finished"
    assert got == n


def test_linkless_produce_compact_read_round_trip(spark, sf_dir, tmp_path, monkeypatch):
    """The whole write path on a filesystem without hard links: every
    commit takes the O_EXCL fallback and the log stays well-formed."""
    _linkless(monkeypatch)
    st = TopicStore(spark, str(tmp_path / "nolink"))
    st.create_topic("t", n_buckets=2)
    st.produce(_events(spark, sf_dir, 0, 50), "t", batch_id="a")
    st.produce(_events(spark, sf_dir, 50, 90), "t", batch_id="b")
    assert st.produce(_events(spark, sf_dir, 0, 50), "t", batch_id="a") == 0
    st.compact("t")
    df = st.read_topic("t")
    assert df.count() == 90
    for r in df.groupBy("bucket").agg(
        F.min("seq").alias("lo"), F.max("seq").alias("hi"), F.count("*").alias("n")
    ).collect():
        assert (r["lo"], r["hi"]) == (0, r["n"] - 1)
    assert [h["operation"] for h in st.history("t")] == [
        "create", "produce", "produce", "compact"
    ]
    log = os.path.join(st.root, "topics", "t", "_log")
    assert sorted(os.listdir(log)) == [f"{v:020d}.json" for v in range(1, 5)]

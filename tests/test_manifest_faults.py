"""Crash-injection sweep at the manifest seam.

Every topic-store mutation reaches disk state that matters through two
write calls of ``sources/manifest.py``: ``claim`` (the version-slot
commit) and ``write_json`` (the JSON documents beside the log). For
produce, the native sink's task append, compact and truncate, the sweep
makes the k-th such call crash, for every k the operation makes, in two
ways:

- ``before``: the process dies before the write takes effect. A killed
  ``claim`` leaves its staged tmp sibling in the log directory, as a
  kill between the tmp write and the link does.
- ``after``: the write lands, then the process dies before the caller
  learns of it.

A fresh ``TopicStore`` then reopens the root and the store's
guarantees must hold: per-bucket seqs contiguous, no unreferenced file
visible to ``read_topic`` or the ``ripple_topic`` source, a replayed
batch id landing exactly once, and ``vacuum(grace_s=0)`` reclaiming
every orphan.

The sink is driven through its task kernel (``datasink._task_append``)
in this process: a real write task runs in a Python worker, where a
driver-side monkeypatch cannot reach.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ripple_server_spark.catalog import load_table
from ripple_server_spark.sources import datasink, manifest
from ripple_server_spark.sources.datasource import RippleTopicDataSource
from ripple_server_spark.sources.topics import TopicStore

WRITE_CALLS = ("claim", "write_json")
TOPIC = "t"
BASE_ROWS = 60
BATCH_ROWS = 40


class Crash(Exception):
    """The injected process death."""


def _events(spark, sf_dir, lo, hi):
    ev = load_table(spark, sf_dir, "events")
    return ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))


@pytest.fixture(scope="module")
def base_root(spark, sf_dir, tmp_path_factory):
    """A topic with BASE_ROWS rows in two produces (batch ids b0a, b0b),
    so compact has several files per bucket to merge."""
    spark.dataSource.register(RippleTopicDataSource)
    root = str(tmp_path_factory.mktemp("faults") / "base")
    st = TopicStore(spark, root)
    st.create_topic(TOPIC, n_buckets=2)
    st.produce(_events(spark, sf_dir, 0, 30), TOPIC, batch_id="b0a")
    st.produce(_events(spark, sf_dir, 30, BASE_ROWS), TOPIC, batch_id="b0b")
    return root


def _batch(spark, sf_dir):
    return _events(spark, sf_dir, BASE_ROWS, BASE_ROWS + BATCH_ROWS)


def _produce(spark, sf_dir, root):
    return TopicStore(spark, root).produce(_batch(spark, sf_dir), TOPIC, batch_id="b1")


def _sink_append(spark, sf_dir, root):
    df = _batch(spark, sf_dir)
    # the recorded message schema exactly as the sink writer derives it
    fields = [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields]
    return datasink._task_append(
        root,
        TOPIC,
        "user_id",
        "dsw/job-faults/p0",
        df.toArrow().to_batches(),
        fields + ["seq:bigint"],
    ).rows


def _compact(spark, sf_dir, root):
    TopicStore(spark, root).compact(TOPIC)


def _truncate(spark, sf_dir, root):
    # ages out bucket 1's b0a file (seqs 0-8), keeps bucket 0's (0-20)
    assert TopicStore(spark, root).truncate(TOPIC, before_seq=10) == 1


# op -> (run, replay of the op's own batch id, or None when the op has none)
OPS = {
    "produce": (_produce, _produce),
    "sink_append": (_sink_append, _sink_append),
    "compact": (_compact, None),
    "truncate": (_truncate, None),
}


def _count_write_calls(monkeypatch) -> dict:
    calls = {"n": 0}
    for name in WRITE_CALLS:
        real = getattr(manifest, name)

        def counted(p, obj, _real=real):
            calls["n"] += 1
            return _real(p, obj)

        monkeypatch.setattr(manifest, name, counted)
    return calls


def _crash_at(monkeypatch, k: int, mode: str) -> None:
    calls = {"n": 0}
    for name in WRITE_CALLS:
        real = getattr(manifest, name)

        def faulty(p, obj, _real=real, _name=name):
            calls["n"] += 1
            if calls["n"] != k:
                return _real(p, obj)
            if mode == "after":
                _real(p, obj)
            elif _name == "claim":
                with open(f"{p}.tmp-killed", "w") as f:
                    json.dump(obj, f)
            raise Crash(f"{_name} call {k} ({mode})")

        monkeypatch.setattr(manifest, name, faulty)


def _copy(base_root, tmp_path, tag) -> str:
    root = str(tmp_path / tag)
    shutil.copytree(base_root, root)
    return root


def _referenced_rows(root: str, m: dict) -> int:
    data = manifest.data_dir(root, TOPIC)
    return sum(pq.ParquetFile(os.path.join(data, rel)).metadata.num_rows for rel in m["files"])


def _assert_invariants(spark, root: str) -> int:
    """Reopen the root and check the read-side guarantees; returns the
    topic's row count."""
    st = TopicStore(spark, root)
    _v, m = st.latest_manifest(TOPIC)
    rows = (
        st.read_topic(TOPIC)
        .select("bucket", "seq", F.input_file_name().alias("f"))
        .toPandas()
    )
    data = manifest.data_dir(root, TOPIC)
    live = {os.path.join(data, rel) for rel in m["files"]}
    used = {f.replace("file://", "") for f in rows["f"]}
    assert used <= live, f"read_topic served unreferenced files {used - live}"
    assert len(rows) == _referenced_rows(root, m)
    maxima = {int(b): x for b, x in m["maxima"].items()}
    for b, g in rows.groupby("bucket"):
        seqs = sorted(g["seq"])
        assert seqs == list(range(seqs[0], seqs[0] + len(seqs))), f"bucket {b} gap"
        assert seqs[-1] == maxima[int(b)]
    src = (
        spark.read.format("ripple_topic")
        .option("root", root)
        .option("topic", TOPIC)
        .load()
        .select("bucket", "seq")
        .toPandas()
    )
    assert sorted(map(tuple, src.values.tolist())) == sorted(
        map(tuple, rows[["bucket", "seq"]].values.tolist())
    ), "ripple_topic and read_topic disagree"
    return len(rows)


def _assert_vacuum_reclaims_orphans(spark, root: str, n_rows: int) -> None:
    st = TopicStore(spark, root)
    st.vacuum(TOPIC, grace_s=0.0)
    v, m = st.latest_manifest(TOPIC)
    data = manifest.data_dir(root, TOPIC)
    on_disk = {
        f"{b}/{fn}"
        for b in os.listdir(data)
        for fn in os.listdir(os.path.join(data, b))
    }
    assert on_disk == set(m["files"]), "vacuum left orphan data files"
    assert os.listdir(manifest.log_dir(root, TOPIC)) == [
        os.path.basename(manifest.path(root, TOPIC, v))
    ], "vacuum left stale manifests or killed-claim tmp files"
    assert st.read_topic(TOPIC).count() == n_rows


@pytest.mark.parametrize("op", sorted(OPS))
def test_crash_at_every_manifest_write(spark, sf_dir, tmp_path, monkeypatch, base_root, op):
    run, replay = OPS[op]

    clean = _copy(base_root, tmp_path, "clean")
    calls = _count_write_calls(monkeypatch)
    run(spark, sf_dir, clean)
    monkeypatch.undo()
    n_writes = calls["n"]
    assert n_writes >= 1, f"{op} made no manifest write"
    clean_rows = TopicStore(spark, clean).read_topic(TOPIC).count()
    v_base = manifest.latest_version(base_root, TOPIC)

    for k in range(1, n_writes + 1):
        for mode in ("before", "after"):
            root = _copy(base_root, tmp_path, f"k{k}-{mode}")
            _crash_at(monkeypatch, k, mode)
            with pytest.raises(Crash):
                run(spark, sf_dir, root)
            monkeypatch.undo()

            rows = _assert_invariants(spark, root)
            committed = manifest.latest_version(root, TOPIC) > v_base
            assert rows == (clean_rows if committed else BASE_ROWS)

            # replays are exactly-once: the op's own batch id for the
            # appends, an already-applied base batch for the others
            st = TopicStore(spark, root)
            if replay is not None:
                replay(spark, sf_dir, root)
                replay(spark, sf_dir, root)
                want = BASE_ROWS + BATCH_ROWS
            else:
                assert st.produce(_events(spark, sf_dir, 30, BASE_ROWS), TOPIC, batch_id="b0b") == 0
                want = rows
            assert _assert_invariants(spark, root) == want, (k, mode)
            _assert_vacuum_reclaims_orphans(spark, root, want)

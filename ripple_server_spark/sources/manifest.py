"""The topic manifest log: layout, reads and the commit protocol.

A topic IS its manifest log — the engine's ZooKeeper analog for topic
registration (the reference's CreateBucket) — and this module is the
only code that knows it. Layout::

    root/topics/<topic>/_log/<version>.json   # manifest log (20-digit versions)
    root/topics/<topic>/data/bucket=<n>/      # parquet files the manifests list
    root/offsets/<consumer_id>--<topic>.json  # committed per-bucket offsets

Every manifest is a FULL snapshot (live file list, per-bucket
``maxima``/``floors``, applied batch ids, schema, config, groups).
Every mutation commits by claiming version v+1 atomically
(:func:`claim`); a writer that loses the slot re-applies its edit to
the newer snapshot and retries (:func:`commit`). Readers retry a torn
read (:func:`load`), which only the linkless claim fallback can cause.

Stdlib-only: executor-side write tasks (``datasink``) import it, and
so does the driver-side ``TopicStore``.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import time
import uuid

# Optimistic-retry cap. Each lost round means ANOTHER producer's commit
# landed (the scheme is livelock-free), so a task writing alongside T
# siblings can legitimately lose up to T-1 rounds — the cap must
# comfortably exceed any plausible tasks-per-job, not be a small
# constant. Retries are cheap: a read + JSON parse.
RETRIES = 200


# -- layout -----------------------------------------------------------------


def topic_dir(root: str, topic: str) -> str:
    return os.path.join(root, "topics", topic)


def data_dir(root: str, topic: str) -> str:
    return os.path.join(topic_dir(root, topic), "data")


def log_dir(root: str, topic: str) -> str:
    return os.path.join(topic_dir(root, topic), "_log")


def path(root: str, topic: str, version: int) -> str:
    return os.path.join(log_dir(root, topic), f"{version:020d}.json")


def offsets_path(root: str, consumer_id: str, topic: str) -> str:
    return os.path.join(root, "offsets", f"{consumer_id}--{topic}.json")


# -- reads ------------------------------------------------------------------


def versions(root: str, topic: str) -> list[int]:
    """Committed versions, ascending — one directory listing, no file
    reads (the cheap cache-freshness probe). Raises FileNotFoundError
    for an unknown topic."""
    names = os.listdir(log_dir(root, topic))
    return sorted(int(n[:-5]) for n in names if n.endswith(".json"))


def latest_version(root: str, topic: str) -> int:
    try:
        vs = versions(root, topic)
    except FileNotFoundError:
        vs = []
    if not vs:
        raise FileNotFoundError(
            f"topic {topic!r} has no manifest — create_topic() first, or "
            "pass option('create_topic', 'true') to the ripple_topic sink"
        )
    return vs[-1]


def load(root: str, topic: str, version: int) -> dict:
    """Parse one committed manifest. A JSONDecodeError is retried
    briefly: impossible on the ``os.link`` claim (bytes precede the
    name), but the linkless fallback claims the name before copying
    the bytes in, leaving a short torn-read window."""
    p = path(root, topic, version)
    for attempt in range(5):
        try:
            with open(p) as f:
                return json.load(f)
        except json.JSONDecodeError:
            if attempt == 4:
                raise
            time.sleep(0.02 * (attempt + 1))
    raise AssertionError("unreachable")


def latest(root: str, topic: str) -> tuple[int, dict]:
    """(version, manifest) of the newest committed version."""
    v = latest_version(root, topic)
    return v, load(root, topic, v)


# -- commit protocol --------------------------------------------------------


def claim(p: str, manifest: dict) -> bool:
    """Atomically publish ``manifest`` at ``p`` iff the slot is free.

    Content is written to a sibling tmp file first, then the slot is
    claimed with ``os.link`` — link creation is atomic and fails if the
    name exists, AND the bytes are complete before the name appears, so
    a concurrent reader can never see a torn/empty manifest.

    On filesystems without hard-link support (some FUSE/object-store
    mounts), falls back to an ``O_CREAT|O_EXCL`` claim — equally atomic
    on the NAME, but content lands after it appears, so every reader
    goes through :func:`load`'s torn-read retry.
    """
    tmp = f"{p}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        os.link(tmp, p)
        return True
    except FileExistsError:
        return False
    except OSError:
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f, open(tmp) as src:
            f.write(src.read())
        return True
    finally:
        os.unlink(tmp)


def commit(root: str, topic: str, base_version: int, apply) -> dict:
    """Optimistic-concurrency commit of version+1: ``apply(manifest) ->
    manifest`` transforms the base snapshot and the slot claim is the
    commit point. On collision the edit is re-applied to the newer base
    and retried, so ``apply`` must be a self-contained rebase (add these
    files / drop those files / swap this subset); it may raise to abort."""
    v = base_version
    for _ in range(RETRIES):
        try:
            base = load(root, topic, v)
        except FileNotFoundError:
            # base manifest vacuumed away mid-commit: a newer version
            # exists by definition, so rebase onto latest
            v, base = latest(root, topic)
        new = apply(dict(base))
        new["version"] = v + 1
        if claim(path(root, topic, v + 1), new):
            return new
        v = latest_version(root, topic)
    raise RuntimeError(f"manifest commit contention on topic {topic!r}")


def create(root: str, topic: str, n_buckets: int, config: dict | None = None) -> None:
    """Register a topic: its data dir plus manifest v1, claimed like any
    other version. Concurrent creators (``create_topic``, every sink
    task's auto-create) race for the v1 slot; exactly one wins and the
    rest return onto the committed log, whose ``n_buckets``/``config``
    stand. Creating an existing topic is a no-op."""
    validate_topic_name(topic)
    os.makedirs(data_dir(root, topic), exist_ok=True)
    os.makedirs(log_dir(root, topic), exist_ok=True)
    if versions(root, topic):
        return  # also guards a log whose v1 vacuum already pruned
    claim(
        path(root, topic, 1),
        {
            "version": 1,
            "topic": topic,
            "n_buckets": n_buckets,
            "files": [],
            "applied_batches": [],
            "maxima": {},
            "floors": {},
            "config": dict(config or {}),
        },
    )


def prune(root: str, topic: str, below: int, cutoff: float) -> None:
    """Delete manifest versions older than ``below``, and the tmp files
    of claims killed before their link, last modified at or before
    ``cutoff`` (epoch seconds): an in-flight commit may still re-read
    its base version, and a pinned snapshot reader its pinned one."""
    d = log_dir(root, topic)
    for n in os.listdir(d):
        p = os.path.join(d, n)
        stale = (n.endswith(".json") and int(n[:-5]) < below) or ".json.tmp-" in n
        if stale and os.path.getmtime(p) <= cutoff:
            os.remove(p)


# -- manifest content policy ------------------------------------------------

_TOPIC_NAME_RE = re.compile(r"^[A-Za-z0-9._-]{1,249}$")


def validate_topic_name(topic: str) -> None:
    """Reject topic names that would break the storage layout. Kafka's
    character set and length cap ([A-Za-z0-9._-], <= 249), no bare
    ``.``/``..`` (path traversal through topic_dir), and no ``--`` —
    that token is the consumer-offsets filename separator
    (``<consumer>--<topic>.json``), and a topic name containing it
    would make delete_topic's suffix match ambiguous against another
    topic's offsets (review r11)."""
    if topic in (".", ".."):
        raise ValueError(f"invalid topic name {topic!r}")
    if not _TOPIC_NAME_RE.fullmatch(topic):
        raise ValueError(
            f"invalid topic name {topic!r}: use 1-249 chars from "
            "[A-Za-z0-9._-]"
        )
    if "--" in topic:
        raise ValueError(
            f"invalid topic name {topic!r}: '--' is reserved as the "
            "offsets-file separator"
        )
    if topic.startswith("-"):
        # a consumer id ending in '-' before the '--' separator would
        # make '<c->--<-b>.json' end with '--b.json' and alias topic
        # 'b' in delete_topic's offsets sweep (ADVICE r11)
        raise ValueError(
            f"invalid topic name {topic!r}: a leading '-' makes the "
            "offsets-file suffix ambiguous"
        )


def merge_schema(m: dict, fields: list[str]) -> None:
    """Manifest-tracked schema evolution, ONE policy for both producers
    (``TopicStore.produce`` and the sink's task append): the first
    writer establishes the schema; any set difference — including a
    strict-SUBSET write — appends the new columns and sets the evolved
    flag, so readers mergeSchema instead of adopting a narrow file's
    footer and re-materializing dropped columns as NULL."""
    prev = m.get("schema")
    if prev is None:
        m["schema"] = fields
    elif set(prev) != set(fields):
        m["schema"] = list(prev) + [f for f in fields if f not in prev]
        m["schema_evolved"] = True


# -- JSON documents beside the log ------------------------------------------


def write_json(p: str, obj: dict) -> None:
    """Atomic last-writer-wins JSON document (consumer offsets, rollup
    state): bytes go to a unique ``mkstemp`` sibling and are renamed
    over the target, so readers see the old or the new document, never
    a torn one, and concurrent writers never share a tmp path."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p))
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, p)


def read_offsets_doc(root: str, consumer_id: str, topic: str) -> dict:
    """A consumer's offsets document ``{"offsets": {b: o},
    "generations": {b: g}}`` — empty when it never registered or
    committed. The one reader for TopicStore and the ``ripple_topic``
    source's ``start_at=consumer:`` cursor, so a format change cannot
    diverge between the batch and streaming paths. Legacy flat
    ``{b: o}`` files (written before fenced commits stamped
    generations) are normalized on read."""
    try:
        with open(offsets_path(root, consumer_id, topic)) as f:
            doc = json.load(f)
    except FileNotFoundError:
        return {"offsets": {}, "generations": {}}
    if isinstance(doc.get("offsets"), dict):
        return {
            "offsets": dict(doc["offsets"]),
            "generations": dict(doc.get("generations", {})),
        }
    return {"offsets": dict(doc), "generations": {}}

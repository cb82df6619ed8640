"""Session-shared fixture directories for the registered queries (the
persisted indexes the serving queries read and the produced topic
trees the pipeline queries ingest), and the one writer of the
hand-built envelope files the streaming fixture queries stream.

A fixture path is keyed on the Spark application id plus a caller key,
so every query in one session shares one build, and a new session (a
fresh bench or oracle invocation) always rebuilds from its inputs:
fixture reuse never crosses a process or run boundary, which would be
cross-run result caching. Paths are reaped at interpreter exit.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import tempfile
import threading
import time

from pyspark.sql import SparkSession

from ecommerce_realtime_pipeline_spark import storage

#: fixture dirs created by THIS process, removed at interpreter exit —
#: session-scoped paths are never reused by a later invocation, so
#: leaving them would only fill the temp dir
_SESSION_DIRS: set[str] = set()


def _reap_session_dirs() -> None:  # pragma: no cover - exit hook
    for d in _SESSION_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_reap_session_dirs)


def session_path(spark: SparkSession, prefix: str, key: str) -> str:
    """Temp-dir path unique to (this Spark application, ``key``),
    registered for removal at interpreter exit."""
    app_id = spark.sparkContext.applicationId
    path = os.path.join(
        tempfile.gettempdir(),
        prefix + hashlib.md5(f"{app_id}|{key}".encode()).hexdigest()[:12],
    )
    _SESSION_DIRS.add(path)
    return path


def stamped_path(
    spark: SparkSession, sf_dir: str, src_name: str, prefix: str
) -> str:
    """:func:`session_path` keyed on the source file's size and mtime
    as well, so a regenerated corpus invalidates the fixture instead of
    serving stale state (production tracks a source snapshot id in the
    index manifest instead)."""
    try:
        st = os.stat(os.path.join(sf_dir, src_name))
        key = f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        key = sf_dir
    return session_path(spark, prefix, key)


#: per-path in-process build locks: two threads must not interleave one
#: fixture's build sequence, while builds of UNRELATED fixtures (e.g.
#: the hybrid queries' text and IVF deleted indexes) may overlap
_PATH_LOCKS: dict[str, threading.Lock] = {}
_PATH_LOCKS_GUARD = threading.Lock()

#: a crashed builder's leftover build lock is broken after this many
#: seconds (a full build at any test SF is well under it)
BUILD_LOCK_STALE_SECONDS = 900.0


def _path_lock(path: str) -> threading.Lock:
    with _PATH_LOCKS_GUARD:
        return _PATH_LOCKS.setdefault(path, threading.Lock())


def build_once(path: str, ready, build) -> None:
    """Build the fixture at ``path`` unless ``ready(path)`` holds, once
    across threads AND processes (a sweep beside a pytest run must not
    interleave a multi-flip build+delete sequence, which could land a
    manifest generation history the time-travel serves do not expect).
    The builder holds a ``<path>.build-lock`` :func:`storage.try_lock`
    file, broken after ``BUILD_LOCK_STALE_SECONDS``; other callers poll
    ``ready`` and never mutate, so a ready fixture stays immutable for
    the rest of every session. A half-built tree is cleared and
    rebuilt, never served."""
    with _path_lock(path):
        if ready(path):
            return
        lockfile = f"{path}.build-lock"
        while not storage.try_lock(lockfile, BUILD_LOCK_STALE_SECONDS):
            if ready(path):
                return  # the other process finished; the lock is theirs
            time.sleep(1.0)
        try:
            if not ready(path):
                shutil.rmtree(path, ignore_errors=True)
                build(path)
        finally:
            try:
                os.remove(lockfile)
            except OSError:
                pass


#: arrival time of the hand-built fixture envelopes
CONSUMED_AT = "2025-03-01T10:00:00Z"


def envelope_line(
    topic: str, offset: int, key: str, payload: dict, consumed_at: str = CONSUMED_AT
) -> str:
    """One ``RAW_ENVELOPE_SCHEMA`` JSON line on partition 0, with the
    payload JSON-encoded as a string (the Kafka message value)."""
    return json.dumps(
        {
            "topic": topic,
            "topic_partition": 0,
            "topic_offset": offset,
            "message_key": key,
            "payload": json.dumps(payload),
            "consumed_at": consumed_at,
        }
    )


def write_jsonl(dir: str, name: str, lines) -> None:
    """Write ``lines`` as the JSON-lines file ``dir/name`` (one record
    per line, newline-terminated), creating ``dir`` if needed."""
    os.makedirs(dir, exist_ok=True)
    with open(os.path.join(dir, name), "w") as f:
        f.write("\n".join(lines) + "\n")

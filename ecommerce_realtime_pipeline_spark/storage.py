"""Crash-safe commit and lock steps shared by the engine's exactly-once
protocols: the offsets ledger and sketch/aggregate snapshots
(:func:`swap_dir`), the contagg epoch ledger stamps and the dedup
journal stamps (:func:`replace_file` / :func:`read_file`), the index
``_CURRENT`` flip (:func:`replace_file` under :func:`try_lock`), and
the cross-process fixture build guard (:func:`try_lock`).

Each step has exactly one implementation here, so a crash at any of
its points is one code path to reason about (and to test). All of
them are local-filesystem primitives: ``os.rename``/``os.replace`` is
atomic within one filesystem, which is why every temp name is a
sibling of its target. On an object store each becomes a conditional
PUT of the same object, with the same protocol around it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame


def swap_dir(df: DataFrame, path: str) -> None:
    """Write ``df`` as a parquet snapshot at ``path`` via a sibling
    temp dir + rename. Between the two renames there is a short window
    where ``path`` does not exist — acceptable for the single-writer
    tables this backs (offsets ledger, aggregate versions, sketch
    registers); a multi-reader deployment swaps in a version pointer
    (write a versioned dir, flip a manifest) or a real table format."""
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)


def replace_file(dir: str, name: str, text: str) -> None:
    """Publish ``text`` as ``dir/name`` atomically: write a sibling
    ``<name>.tmp-<hex8>`` and ``os.replace`` it over the target, so a
    reader sees the old content or the new, never a torn file. A crash
    between write and replace leaves only the temp file behind
    (``indexfmt.vacuum`` reclaims those in index directories)."""
    os.makedirs(dir, exist_ok=True)
    tmp = os.path.join(dir, f"{name}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, os.path.join(dir, name))


def read_file(dir: str, name: str) -> str | None:
    """Stripped content of ``dir/name``, or None if it does not exist."""
    try:
        with open(os.path.join(dir, name)) as fh:
            return fh.read().strip()
    except FileNotFoundError:
        return None


def checkpoint_query_id(ckpt: str) -> str | None:
    """Streaming query id persisted in a checkpoint's ``metadata``
    file: stable across restarts of the same checkpoint, fresh for a
    recreated one. None if the checkpoint is new."""
    try:
        return str(json.loads(read_file(ckpt, "metadata") or "")["id"])
    except (ValueError, KeyError):
        return None


def try_lock(lockfile: str, stale_after_s: float) -> bool:
    """Take ``lockfile`` with ``O_CREAT|O_EXCL``; True if this caller
    now holds it (release by removing the file), False if a live
    holder has it.

    A lock older than ``stale_after_s`` is a crashed holder's leftover
    and is broken by RENAME, not remove: two breakers that both saw
    the stale lock could otherwise interleave so the second remove()
    deletes the first breaker's freshly re-acquired lock, letting both
    in. Rename is winner-takes-all — exactly one breaker moves the
    stale file aside (to ``<lockfile>.broken-<hex8>``), and the
    loser's retry sees the winner's fresh lock."""
    for _attempt in (0, 1):
        try:
            fd = os.open(lockfile, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lockfile)
            except OSError:
                continue  # holder released between open and stat: retry
            if age <= stale_after_s:
                return False
            broken = f"{lockfile}.broken-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(lockfile, broken)
            except OSError:
                continue  # another breaker won the rename: retry
            try:
                os.remove(broken)  # we own the moved-aside file
            except OSError:
                pass
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(f"pid={os.getpid()} t={time.time()}\n")
        return True
    return False

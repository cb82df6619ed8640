"""The engine's parquet read step and the crash-safe commit and lock
steps shared by its exactly-once protocols.

Every parquet read goes through :func:`read_parquet`. The engine's
mutable tables (silver, ``order_items``, the offsets ledger, the gold
marts) pass their declared schema (``schemas.py``); every other read
(testdata files, index segments and sidecars, snapshots replaced
whole, journals) has its schema inferred once per file version, so no
read path pays Spark's footer-reading inference job twice.
:func:`parquet_rows` counts a written directory's rows from its
footers without a job.

:func:`swap_dir` is the package's one directory swap. It commits
every mutable table: silver, ``order_items`` and their compaction per
``bucket=N`` child; the offsets ledger, the gold marts, the HLL
registers and the contagg base and versions whole. Its staging names
(``<unit>__tmp_<hex8>`` for the new data, ``<unit>__old_<hex8>`` for
the data it replaces) are known to this module only, and they are the
crash record :func:`recover` reads. The other commit steps back the
contagg epoch ledger stamps and the dedup journal stamps
(:func:`replace_file` / :func:`read_file`), the index ``_CURRENT``
flip (:func:`replace_file` under :func:`try_lock`), and the
cross-process fixture build guard (:func:`try_lock`).

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
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ecommerce_realtime_pipeline_spark.session import memo


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file or directory at
    ``path``, memoized per file version — ``(path, st_ino,
    st_mtime_ns, st_size)`` through :func:`session.memo` — so the
    footer-reading inference job runs once per version. Raises
    ``OSError`` when ``path`` cannot be stat'ed."""
    st = os.stat(path)
    return memo(
        spark,
        "parquet_schema",
        ("parquet_schema", path, st.st_ino, st.st_mtime_ns, st.st_size),
        lambda: spark.read.parquet(path).schema,
    )


def read_parquet(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """The package's one parquet read. With ``schema`` it is
    ``spark.read.schema(schema).parquet(path)``: no inference, and
    partition columns the schema leaves out are still discovered from
    the path. Without it, the read uses :func:`parquet_schema`: the
    schema Spark infers (one footer-reading Spark job) is memoized per
    file version, and every later read of that version starts no job.

    The memo suits paths whose schema is fixed once published: single
    files, published segment and sidecar directories, and directories
    replaced whole (a swap or an overwrite gives a new inode, and an
    entry added to or renamed in a directory moves its mtime). A file
    appended inside one of a directory's partitions moves none of the
    key, so the engine's mutable partitioned tables (silver,
    ``order_items``) and its ledgers and marts pass their declared
    schema instead. A path that cannot be stat'ed locally (missing, or
    a URI) is read as is, so Spark reports it in its own terms."""
    if schema is None:
        try:
            schema = parquet_schema(spark, path)
        except OSError:
            return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def parquet_rows(path: str) -> int:
    """Row count of an unpartitioned parquet directory, summed from its
    files' footers on the driver: no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, name)).num_rows
        for name in os.listdir(path)
        if name.endswith(".parquet") and not name.startswith((".", "_"))
    )


#: a swap's staging name: ``<unit>__tmp_<hex8>`` holds the new data,
#: ``<unit>__old_<hex8>`` the data it replaced
_STAGING = re.compile(r"(?P<unit>.+)__(?P<kind>tmp|old)_[0-9a-f]{8}")


def _staging(path: str, kind: str) -> str:
    return f"{path}__{kind}_{uuid.uuid4().hex[:8]}"


def swap_dir(df: DataFrame, path: str, buckets: list[int] | None = None) -> None:
    """Write ``df`` as parquet into a sibling temp dir of ``path``, then
    swap it in by rename: move the old data aside, move the new data
    in, drop the old copy.

    With ``buckets=None`` the unit swapped is ``path`` itself. With a
    bucket list, ``df`` (holding ONLY rows of ``buckets``) is written
    ``partitionBy("bucket")`` and each ``bucket=N`` child of the list
    is swapped on its own; the other children are not opened, rewritten
    or renamed, so their files stay byte-identical. A listed bucket
    with no rows is removed.

    A crash between the two renames of a unit leaves the unit missing
    and its old data under ``<unit>__old_<hex8>``. Every writer of the
    table calls :func:`recover` before its first read, which rolls such
    a unit back; the swap never finished, so the caller never committed
    its epoch and the epoch replays. Readers do not call it: they may
    run beside a live writer, whose in-flight swap a recovery would
    undo. Each table has a single writer at a time."""
    tmp = _staging(path, "tmp")
    writer = df.write.mode("overwrite")
    if buckets is None:
        writer.parquet(tmp)
        _swap_unit(tmp, path)
        return
    writer.partitionBy("bucket").parquet(tmp)
    os.makedirs(path, exist_ok=True)
    for b in buckets:
        _swap_unit(os.path.join(tmp, f"bucket={b}"), os.path.join(path, f"bucket={b}"))
    shutil.rmtree(tmp, ignore_errors=True)


def _swap_unit(src: str, dst: str) -> None:
    old = _staging(dst, "old")
    if os.path.exists(dst):
        os.rename(dst, old)
    if os.path.exists(src):
        os.rename(src, dst)
    shutil.rmtree(old, ignore_errors=True)


def recover(path: str) -> None:
    """Undo what a crashed :func:`swap_dir` of the table at ``path``
    left behind, using the staging names as the crash record: a
    ``<unit>__old_<hex8>`` whose ``<unit>`` is missing is renamed back,
    and every other ``__old_``/``__tmp_`` leftover is removed. A unit
    is ``path`` itself (a whole-directory swap) or one of its children
    (a per-bucket swap, a contagg version). In ``path``'s parent only
    names staged for ``path``'s own base name match, so a sibling
    table's in-flight staging is never touched.

    Rolling back is always safe: a swap that did not finish belongs to
    an epoch its caller never committed, and that epoch replays (a
    marts build or a compaction simply runs again). Only a table's
    writer calls this, before its first read of the table."""
    parent, base = os.path.split(path.rstrip("/"))
    for d, only in ((parent or ".", base), (path, None)):
        if not os.path.isdir(d):
            continue
        for name in sorted(os.listdir(d)):
            m = _STAGING.fullmatch(name)
            if m is None or only not in (None, m["unit"]):
                continue
            staged, unit = os.path.join(d, name), os.path.join(d, m["unit"])
            if m["kind"] == "old" and not os.path.exists(unit):
                os.rename(staged, unit)
            else:
                shutil.rmtree(staged, ignore_errors=True)


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

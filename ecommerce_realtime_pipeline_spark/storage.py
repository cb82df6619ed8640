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

The commit steps back the offsets ledger and sketch/aggregate snapshots
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

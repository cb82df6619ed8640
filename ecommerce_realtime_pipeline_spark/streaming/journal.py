"""Epoch journal: the exactly-once protocol of the streaming sinks whose
merge is not idempotent (the near-dup and embedding dedup indexes, the
Count-Min counters), and the generation binding that the continuous
aggregate's epoch ledger shares with them.

- **Append.** Each micro-batch appends its rows, tagged with
  ``batch_id`` = the foreachBatch epoch id, in ONE write job
  (:func:`append`), so the output committer publishes all of a batch's
  rows or none. A crash after that job commits but before the stream
  checkpoint does replays the batch; the readers dedup by epoch, so the
  replayed append is idempotent on read. A transactional sink makes the
  replay append itself a no-op in production.
- **Generation.** Epoch ids are only comparable within one checkpoint
  generation. A recreated checkpoint restarts epochs at 0 and
  re-delivers every source file, so an epoch-keyed reader can no longer
  recognize the replay. Each journal is therefore bound to the
  streaming query id that the checkpoint's ``metadata`` file records:
  :func:`start_bound` checks the binding before start and stamps it
  after start.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ecommerce_realtime_pipeline_spark import storage
from ecommerce_realtime_pipeline_spark.streaming.ingest import start_available_now

#: the generation stamp file: the query id the journal was written under
STAMP = "_journal_query_id"


def has_rows(path: str) -> bool:
    """True once a journal directory holds data files or partitions;
    its own ``_``-prefixed stamp and commit markers do not count."""
    return os.path.isdir(path) and any(
        not n.startswith(("_", ".")) for n in os.listdir(path)
    )


def append(rows: DataFrame, path: str, partition_by: str | None = None) -> None:
    """Append one micro-batch's ``batch_id``-tagged rows in one job."""
    writer = rows.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def _guard(stamp_dir: str, checkpoint: str, stamp: str, on_mismatch) -> None:
    """Refuse (or, with ``on_mismatch``, recover from) a checkpoint of
    a different generation than the one stamped in ``stamp_dir``.

    A missing stamp under a live checkpoint is adopted when there is no
    ``on_mismatch``: the stamp is written only after ``start()``
    returns, so a crash in that window leaves rows that were keyed by
    THIS checkpoint's epochs — the only generation that can have
    delivered them while its metadata file exists. A recreated
    checkpoint still trips the guard: recreation changes the metadata
    query id, and the adopted stamp then mismatches on the next run."""
    cp_id = storage.checkpoint_query_id(checkpoint)
    stamped = storage.read_file(stamp_dir, stamp) or None
    if cp_id is not None and cp_id == stamped:
        return
    if on_mismatch is not None:
        on_mismatch()
    elif stamped is None and cp_id is not None:
        storage.replace_file(stamp_dir, stamp, cp_id)
    else:
        raise RuntimeError(
            f"journal at {stamp_dir} was written under streaming query "
            f"{stamped}, but the checkpoint at {checkpoint} is "
            f"{'new' if cp_id is None else cp_id}: epoch ids are not "
            "comparable across checkpoint generations and a re-run "
            "would double-add journal rows. Clear the journal (the "
            "fresh checkpoint re-delivers every source file) or "
            "restore the original checkpoint."
        )


def start_bound(
    frame: DataFrame,
    checkpoint: str,
    handler,
    stamp_dir: str,
    bound: bool,
    stamp: str = STAMP,
    on_mismatch=None,
):
    """Start ``frame`` into the foreachBatch ``handler`` with its
    journal bound to the checkpoint generation. ``bound`` says the
    journal already holds epoch-keyed state; only then is the stamp in
    ``stamp_dir`` checked against the checkpoint (a refusal raises
    ``RuntimeError`` before anything runs). After start the stamp is
    (re)written with the query id, which the checkpoint's metadata file
    records from then on."""
    if bound:
        _guard(stamp_dir, checkpoint, stamp, on_mismatch)
    query = start_available_now(frame, checkpoint, handler)
    storage.replace_file(stamp_dir, stamp, str(query.id))
    return query

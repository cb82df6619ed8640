"""Streaming sketch maintenance: an HLL register table kept up to date
by `foreachBatch` max-merge — approximate distinct-counts over an
unbounded stream with BOUNDED state (group_cardinality × 2^p rows,
forever), no watermark needed because registers never need eviction.

Replay safety falls out of the algebra: max-merge is IDEMPOTENT, so a
crashed/replayed micro-batch re-merging the same registers converges
to the same table. A SUM-merged sketch is not: the Count-Min counters
ride the epoch journal the near-dup indexes use
(``streaming/journal.py``) — per-epoch deltas in one append, an
epoch-deduped fold, and the generation guard that refuses a recreated
checkpoint, whose re-delivered files would otherwise sum in twice.

At 100 TB the register table is still 256 rows per group: the state
IS the dashboard. Fold on read (`sketch.hll_fold`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ecommerce_realtime_pipeline_spark import storage
from ecommerce_realtime_pipeline_spark.operators import sketch as SK
from ecommerce_realtime_pipeline_spark.streaming import journal as EJ
from ecommerce_realtime_pipeline_spark.streaming.ingest import start_available_now

STREAM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ]
)


def merge_hll_batch(
    spark: SparkSession, batch_df: DataFrame, regs_path: str
) -> None:
    """foreachBatch hook: fold the micro-batch to registers, max-merge
    with the persisted table, atomically swap. Idempotent under batch
    replay (max of max)."""
    new = SK.hll_registers(batch_df, "user_id", ["event_type"])
    if os.path.exists(regs_path):
        old = storage.read_parquet(spark, regs_path)
        merged = SK.hll_merge([old, new], ["event_type"])
    else:
        merged = SK.hll_merge([new], ["event_type"])
    storage.swap_dir(merged, regs_path)


def run_hll_stream(
    spark: SparkSession, src: str, regs_path: str, ckpt: str
):
    """One availableNow pass of the user-event stream into the
    register table, after recovering it from a swap a crashed pass
    left unfinished (``storage.recover``)."""
    storage.recover(regs_path)
    return start_available_now(
        spark.readStream.schema(STREAM_SCHEMA).json(src),
        ckpt,
        lambda b, _eid: merge_hll_batch(spark, b, regs_path),
    )


def estimates(spark: SparkSession, regs_path: str) -> DataFrame:
    """Fold the maintained registers → per-type estimate."""
    regs = storage.read_parquet(spark, regs_path)
    return SK.hll_fold(regs, ["event_type"]).select(
        "event_type", F.round("hll_estimate", 2).alias("hll_estimate")
    )


# -- streaming Count-Min (journaled: SUM-merge needs replay protection) -----


def merge_cms_batch(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, journal_path: str
) -> None:
    """foreachBatch hook for the SUM-merged sketch: append this
    micro-batch's counter DELTAS tagged with the epoch id. Unlike the
    HLL max-merge, summing is NOT idempotent — a replayed batch would
    double-count — so the journal carries (batch_id, r, c, cnt) and
    the fold dedups by epoch first (the epoch journal's one-job append
    + replay-idempotent reader)."""
    EJ.append(
        SK.cms_counters(batch_df, "user_id").select(
            F.lit(int(batch_id)).alias("batch_id"), "_r", "_c", "cnt"
        ),
        journal_path,
    )


def run_cms_stream(spark: SparkSession, src: str, journal_path: str, ckpt: str):
    """One availableNow pass of the user-event stream into the
    counter journal, bound to the checkpoint generation (the stamp
    lives in the journal directory; a recreated checkpoint is refused
    with ``RuntimeError``)."""
    return EJ.start_bound(
        spark.readStream.schema(STREAM_SCHEMA).json(src),
        ckpt,
        lambda b, eid: merge_cms_batch(spark, b, eid, journal_path),
        journal_path,
        EJ.has_rows(journal_path),
    )


def cms_counters_from_journal(spark: SparkSession, journal_path: str) -> DataFrame:
    """Replay-idempotent fold: a re-appended epoch writes identical
    delta rows, so max-per-(epoch, r, c) dedups them exactly; the
    epoch sum then equals the true multiset counters."""
    j = storage.read_parquet(spark, journal_path)
    per_epoch = j.groupBy("batch_id", "_r", "_c").agg(F.max("cnt").alias("cnt"))
    return per_epoch.groupBy("_r", "_c").agg(F.sum("cnt").alias("cnt"))

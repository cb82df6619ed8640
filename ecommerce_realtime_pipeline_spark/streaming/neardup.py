"""Incremental near-duplicate dedup for a DOCUMENT STREAM against an
accumulating MinHash-LSH index — the dedup-new-crawl-against-history
pass every continuously-fed training-data pipeline needs (batch-mode
near-dup over a closed corpus is ``operators/dedup.py``; this module
is its streaming counterpart).

Per micro-batch:
  1. band the batch's MinHash signatures (``dedup.banded_signatures``),
  2. equi-join those band keys against the persisted index of every
     previously ACCEPTED doc (plus an in-batch self-join, min-id
     canonical),
  3. verify candidates with exact Jaccard over full shingle sets,
  4. append the batch's per-doc decisions AND the novel docs' band
     keys / texts to ONE kind-partitioned journal in a single write
     job.

Scale stance (100 TB): per-trigger work is |batch|·bands index rows
joined on (band, bucket) against the history index — an equi-join,
never batch × history on raw text; verification touches candidate
pairs only. The index is an append-only parquet journal here
(single-writer test scope — a deployment swaps in a transactional
table format and partitions the index by ``band`` so each trigger's
join prunes to the bucket files it needs, exactly like the bucketed
silver upsert in ``streaming/ingest.py``). Within-batch duplicate
marking is the standard greedy min-id-canonical rule; full transitive
clustering over the accepted corpus remains a batch job
(``dedup.neardup_clusters``).

Failure semantics: the file source's checkpoint gives exactly-once
BATCH delivery, and the journal write is ONE Spark job over the union
of decision + band + doc rows — the output-committer publishes all
three kinds at job commit, so a crash can no longer land a batch's
decisions without its index rows (the r3 layout's three sequential
appends had exactly that window). The remaining window is a crash
AFTER job commit but BEFORE the stream checkpoint commits, which
replays the whole batch: every journal row carries ``batch_id``, and
the readers dedup on (batch_id, doc_id[, band]) so the replayed
append is idempotent-on-read. A transactional sink makes the replay
append itself a no-op in production.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark import storage
from ecommerce_realtime_pipeline_spark.operators import dedup as DD

DOC_STREAM_SCHEMA = "doc_id long, text string"

#: one journal table, hive-partitioned by row kind so every reader
#: prunes to its own files: 'decision' (batch_id, doc_id, is_dup,
#: matched_id), 'band' (batch_id, doc_id, band, bucket), 'doc'
#: (batch_id, doc_id, text). Unused columns are null per kind.
_KINDS = ("decision", "band", "doc")


def journal_path(work_dir: str) -> str:
    return os.path.join(work_dir, "journal")


#: identity binding for the journal (the contagg ledger pattern):
#: journal rows are keyed by ``batch_id`` = the checkpoint's epoch id,
#: and epoch ids are only comparable WITHIN one checkpoint generation.
#: A recreated checkpoint restarts epochs at 0 AND re-delivers every
#: source file, so the (batch_id, id)-keyed read-side dedup can no
#: longer recognize the replay — docs originally journaled under
#: batches 1..n would append again under fresh batch ids, double-
#: counting decisions and re-admitting their index rows. The stamp
#: detects the generation change up front.
_JOURNAL_ID_FILE = "_journal_query_id"


def stamp_journal_query_id(work_dir: str, query_id: str) -> None:
    """Bind the journal at ``work_dir`` to streaming query ``query_id``."""
    storage.replace_file(work_dir, _JOURNAL_ID_FILE, query_id)


def guard_journal_generation(work_dir: str, checkpoint: str) -> None:
    """Refuse to run against a journal written under a DIFFERENT
    streaming-query generation (recreated/foreign checkpoint). Raises
    RuntimeError; recovery is clearing the journal so the fresh
    checkpoint's full re-delivery rebuilds it from scratch — the
    moral twin of ``contagg.rebase_from_silver``, except here the
    source replay IS the rebase. No-op while the journal is empty
    (nothing to double-add yet)."""
    if not os.path.exists(journal_path(work_dir)):
        return
    cp_id = storage.checkpoint_query_id(checkpoint)
    j_id = storage.read_file(work_dir, _JOURNAL_ID_FILE) or None
    if j_id is None and cp_id is not None:
        # missing stamp + live checkpoint: the stamp is written only
        # after start() returns, so a crash in that window (or a
        # pre-stamp-era journal) leaves journal rows that were keyed
        # by THIS checkpoint's epochs — the only generation that can
        # have delivered them while its metadata file exists. Adopt
        # the checkpoint id (one-time migration) instead of forcing a
        # journal rebuild. A recreated checkpoint still trips the
        # guard: recreation changes the metadata query id, and the
        # adopted stamp then mismatches on the next run.
        stamp_journal_query_id(work_dir, cp_id)
        return
    if cp_id is None or j_id is None or cp_id != j_id:
        raise RuntimeError(
            f"journal at {work_dir} was written under streaming query "
            f"{j_id}, but the checkpoint at {checkpoint} is "
            f"{'new' if cp_id is None else cp_id}: epoch ids are not "
            "comparable across checkpoint generations and a re-run "
            "would double-add journal rows. Clear the journal (the "
            "fresh checkpoint re-delivers every source file) or "
            "restore the original checkpoint."
        )


def has_kind(work_dir: str, kind: str) -> bool:
    return os.path.exists(os.path.join(journal_path(work_dir), f"kind={kind}"))


def read_kind(spark: SparkSession, work_dir: str, kind: str) -> DataFrame:
    return spark.read.parquet(journal_path(work_dir)).filter(
        F.col("kind") == kind
    )


def dedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    work_dir: str,
    batch_id: int,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
) -> None:
    """Process one micro-batch: decide dup/novel per doc, then journal
    the decisions plus the novel docs' index rows in one write job."""
    batch = batch.select("doc_id", "text").localCheckpoint()
    if batch.isEmpty():
        return
    banded = DD.banded_signatures(batch, num_hashes, bands, n).localCheckpoint()

    # in-batch candidates: newer (larger) id is the dup candidate, so
    # the earliest-seen doc of a cluster stays canonical
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") > F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
    )
    all_docs = batch
    if has_kind(work_dir, "band"):
        hist = read_kind(spark, work_dir, "band").select("doc_id", "band", "bucket")
        vs_hist = (
            banded.join(hist.withColumnRenamed("doc_id", "hist_id"), ["band", "bucket"])
            .filter(F.col("doc_id") != F.col("hist_id"))
            .select(F.col("doc_id").alias("doc_a"), F.col("hist_id").alias("doc_b"))
        )
        cand = cand.unionByName(vs_hist)
        # duplicate history rows (post-commit-crash replay) are harmless
        # here: dup band rows only repeat candidates (distinct'd below),
        # dup doc rows only repeat verified pairs (min-agg'd below)
        all_docs = batch.unionByName(
            read_kind(spark, work_dir, "doc").select("doc_id", "text")
        )
    verified = DD.verify_jaccard(cand.distinct(), all_docs, threshold, n)
    matches = verified.groupBy("doc_a").agg(F.min("doc_b").alias("matched_id"))

    decisions = (
        batch.join(matches, batch.doc_id == matches.doc_a, "left")
        .select(
            "doc_id",
            F.col("matched_id").isNotNull().alias("is_dup"),
            "matched_id",
        )
        .localCheckpoint()
    )
    novel = decisions.filter(~F.col("is_dup")).select("doc_id")

    bid = F.lit(batch_id).cast("long").alias("batch_id")
    nul = lambda name, t: F.lit(None).cast(t).alias(name)  # noqa: E731
    dec_rows = decisions.select(
        F.lit("decision").alias("kind"), bid, "doc_id", "is_dup", "matched_id",
        nul("band", "int"), nul("bucket", "long"), nul("text", "string"),
    )
    band_rows = banded.join(novel, "doc_id").select(
        F.lit("band").alias("kind"), bid, "doc_id",
        nul("is_dup", "boolean"), nul("matched_id", "long"),
        "band", "bucket", nul("text", "string"),
    )
    doc_rows = batch.join(novel, "doc_id").select(
        F.lit("doc").alias("kind"), bid, "doc_id",
        nul("is_dup", "boolean"), nul("matched_id", "long"),
        nul("band", "int"), nul("bucket", "long"), "text",
    )
    (
        dec_rows.unionByName(band_rows)
        .unionByName(doc_rows)
        .write.mode("append")
        .partitionBy("kind")
        .parquet(journal_path(work_dir))
    )


def run_neardup_stream(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    checkpoint: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
):
    """Drain all currently-available document files through the dedup
    pass (availableNow). Re-running with the same checkpoint processes
    only files that arrived since — the incremental crawl-snapshot
    loop."""

    guard_journal_generation(work_dir, checkpoint)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        dedup_batch(
            spark, batch_df, work_dir, epoch_id, threshold, num_hashes, bands, n
        )

    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(src_dir)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    # bind the journal to this checkpoint generation (q.id is the
    # persistent id the checkpoint's metadata file records)
    stamp_journal_query_id(work_dir, str(q.id))
    return q


def read_decisions(spark: SparkSession, work_dir: str) -> DataFrame:
    """Per-doc dedup decisions, deduped on (batch_id, doc_id) so a
    replayed batch (crash after journal commit, before checkpoint
    commit) cannot double-count."""
    return (
        read_kind(spark, work_dir, "decision")
        .select("batch_id", "doc_id", "is_dup", "matched_id")
        .dropDuplicates(["batch_id", "doc_id"])
    )


def read_index_docs(spark: SparkSession, work_dir: str) -> DataFrame:
    """Accepted (novel) docs currently in the index: (doc_id, text),
    deduped for the replayed-append case."""
    return (
        read_kind(spark, work_dir, "doc")
        .select("doc_id", "text")
        .dropDuplicates(["doc_id"])
    )

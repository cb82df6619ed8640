"""Incremental near-duplicate dedup for a DOCUMENT STREAM against an
accumulating MinHash-LSH index — the dedup-new-crawl-against-history
pass every continuously-fed training-data pipeline needs (batch-mode
near-dup over a closed corpus is ``operators/dedup.py``; this module
is its streaming counterpart). It also owns the banded-LSH stream-dedup
kernel (:func:`lsh_dedup_batch`) that ``streaming/embdedup.py`` runs
with sign-LSH buckets and a cosine verify.

Per micro-batch (the kernel):
  1. band the batch (here: the MinHash signatures,
     ``dedup.banded_signatures``) and self-join the band keys,
  2. equi-join those band keys against the persisted index of every
     previously ACCEPTED item,
  3. verify candidates exactly (here: Jaccard ≥ 0.5 over the full
     3-gram shingle sets),
  4. decide min-id canonical: a dup points at its smallest verified
     match, so the earliest-seen item of a cluster stays novel,
  5. append the batch's per-item decisions AND the novel items' band
     keys / payloads to ONE kind-partitioned epoch journal
     (``streaming/journal.py``) in a single write job.

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

Failure semantics are the journal's: the file source's checkpoint
gives exactly-once BATCH delivery; decisions, band keys and docs land
in one write job, so a crash cannot land a batch's decisions without
its index rows; a replayed batch is deduped on read by (batch_id,
doc_id[, band]); a recreated checkpoint is refused by the journal's
generation guard.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark import storage
from ecommerce_realtime_pipeline_spark.operators import dedup as DD
from ecommerce_realtime_pipeline_spark.streaming import journal as EJ

DOC_STREAM_SCHEMA = "doc_id long, text string"

#: one journal table, hive-partitioned by row kind so every reader
#: prunes to its own files: 'decision' (batch_id, doc_id, is_dup,
#: matched_id), 'band' (batch_id, doc_id, band, bucket), 'doc'
#: (batch_id, doc_id, text). Unused columns are null per kind.
_KINDS = ("decision", "band", "doc")

#: the journal's generation stamp, beside the journal in the work dir
_JOURNAL_ID_FILE = EJ.STAMP


def journal_path(work_dir: str) -> str:
    return os.path.join(work_dir, "journal")


def has_kind(work_dir: str, kind: str) -> bool:
    return os.path.exists(os.path.join(journal_path(work_dir), f"kind={kind}"))


def read_kind(spark: SparkSession, work_dir: str, kind: str) -> DataFrame:
    return storage.read_parquet(spark, journal_path(work_dir)).filter(
        F.col("kind") == kind
    )


def lsh_dedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    work_dir: str,
    batch_id: int,
    *,
    id_col: str,
    payload: str,
    band,
    band_cols: tuple[str, ...],
    verify,
    kinds: tuple[str, str, str],
) -> None:
    """The banded-LSH stream-dedup kernel: decide dup/novel per item of
    one micro-batch, then journal the decisions plus the novel items'
    index rows in one write job.

    Per family: ``batch`` rows are (``id_col``, ``payload``);
    ``band(batch)`` gives (``id_col``, *``band_cols``) band keys;
    ``verify(cand, items)`` keeps the true pairs of a candidate frame
    whose columns are ``id_col`` with its ``id`` suffix replaced by
    ``a`` and ``b`` (``doc_a``/``doc_b``); ``kinds`` names the
    decision, band-key and payload partitions of the journal."""
    batch = batch.select(id_col, payload).localCheckpoint()
    if batch.isEmpty():
        return
    banded = band(batch).localCheckpoint()
    keys = list(band_cols)
    a, b = (id_col.removesuffix("id") + s for s in "ab")
    decision_kind, band_kind, payload_kind = kinds

    # in-batch candidates: newer (larger) id is the dup candidate, so
    # the earliest-seen item of a cluster stays canonical
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), keys)
        .filter(F.col(f"x.{id_col}") > F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias(a), F.col(f"y.{id_col}").alias(b))
    )
    items = batch
    if has_kind(work_dir, band_kind):
        hist = read_kind(spark, work_dir, band_kind).select(id_col, *keys)
        vs_hist = (
            banded.join(hist.withColumnRenamed(id_col, "hist_id"), keys)
            .filter(F.col(id_col) != F.col("hist_id"))
            .select(F.col(id_col).alias(a), F.col("hist_id").alias(b))
        )
        cand = cand.unionByName(vs_hist)
        # duplicate history rows (post-commit-crash replay) are harmless
        # here: dup band rows only repeat candidates (distinct'd below),
        # dup payload rows only repeat verified pairs (min-agg'd below)
        items = batch.unionByName(
            read_kind(spark, work_dir, payload_kind).select(id_col, payload)
        )
    matches = verify(cand.distinct(), items).groupBy(a).agg(
        F.min(b).alias("matched_id")
    )
    decisions = (
        batch.join(matches, batch[id_col] == matches[a], "left")
        .select(
            id_col,
            F.col("matched_id").isNotNull().alias("is_dup"),
            "matched_id",
        )
        .localCheckpoint()
    )
    novel = decisions.filter(~F.col("is_dup")).select(id_col)

    # every kind carries every column (nulls where unused), in one order
    types = {
        "is_dup": "boolean",
        "matched_id": "long",
        **{c: banded.schema[c].dataType for c in keys},
        payload: batch.schema[payload].dataType,
    }

    def rows(kind: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(kind).alias("kind"),
            F.lit(batch_id).cast("long").alias("batch_id"),
            id_col,
            *(
                c if c in df.columns else F.lit(None).cast(t).alias(c)
                for c, t in types.items()
            ),
        )

    EJ.append(
        rows(decision_kind, decisions)
        .unionByName(rows(band_kind, banded.join(novel, id_col)))
        .unionByName(rows(payload_kind, batch.join(novel, id_col))),
        journal_path(work_dir),
        "kind",
    )


def dedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    work_dir: str,
    batch_id: int,
    num_hashes: int,
    bands: int,
) -> None:
    """Process one micro-batch of documents through the kernel: MinHash
    band keys, exact-Jaccard verify."""
    lsh_dedup_batch(
        spark,
        batch,
        work_dir,
        batch_id,
        id_col="doc_id",
        payload="text",
        band=lambda docs: DD.banded_signatures(docs, num_hashes, bands),
        band_cols=("band", "bucket"),
        verify=lambda cand, docs: DD.verify_jaccard(cand, docs, 0.5),
        kinds=_KINDS,
    )


def run_neardup_stream(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    checkpoint: str,
    num_hashes: int = 64,
    bands: int = 16,
):
    """Drain all currently-available document files through the dedup
    pass (availableNow). Re-running with the same checkpoint processes
    only files that arrived since — the incremental crawl-snapshot
    loop. A checkpoint of another generation than the journal's is
    refused with ``RuntimeError``."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        dedup_batch(spark, batch_df, work_dir, epoch_id, num_hashes, bands)

    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(src_dir)
    return EJ.start_bound(
        stream, checkpoint, handle, work_dir, EJ.has_rows(journal_path(work_dir))
    )


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

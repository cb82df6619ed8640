"""Incremental near-duplicate dedup for an EMBEDDING STREAM against an
accumulating sign-LSH index — the vector-space twin of the document
pass in ``streaming/neardup.py`` (same journal design, same failure
semantics), for pipelines whose dedup signal is embedding cosine
rather than n-gram Jaccard (semantic dedup of a continuously-embedded
crawl).

Per micro-batch:
  1. bucket the batch's vectors in ``n_tables`` sign-LSH tables
     (``similarity.bucket_udf`` — one Arrow matmul pass),
  2. equi-join those (table, bucket) keys against the persisted index
     of every previously ACCEPTED vector (plus an in-batch self-join,
     min-id canonical),
  3. verify candidates with EXACT cosine ≥ threshold over the full
     vectors,
  4. append the batch's per-vector decisions AND the novel vectors'
     bucket keys / embeddings to ONE kind-partitioned journal in a
     single write job.

Scale stance (100 TB): per-trigger work is |batch|·n_tables index rows
joined on (tbl, bucket) against the history index — an equi-join,
never batch × history on raw vectors; verification touches candidate
pairs only, and the bucket width would be sized by
``similarity.auto_lsh_params`` as the accepted corpus grows. Journal
format, replay idempotence, and the transactional-sink production swap
are identical to ``streaming/neardup.py`` (one write job per batch ⇒
decisions can't land without their index rows; replayed appends are
deduped on read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
from ecommerce_realtime_pipeline_spark.streaming.neardup import (
    guard_journal_generation,
    has_kind,
    journal_path,
    read_kind,
    stamp_journal_query_id,
)

EMB_STREAM_SCHEMA = "vec_id long, embedding array<float>"

#: journal kinds: 'decision' (batch_id, vec_id, is_dup, matched_id),
#: 'bucket' (batch_id, vec_id, tbl, bucket), 'vec' (batch_id, vec_id,
#: embedding). Unused columns are null per kind.


def _exact_cos_verify(
    cand: DataFrame, vecs: DataFrame, threshold: float
) -> DataFrame:
    """Exact-cosine verification of (vec_a, vec_b) candidates over the
    full vectors — no false positives, mirrors dedup.verify_jaccard."""
    sides = SIM.with_norm(vecs).select(
        "vec_id", F.col("embedding").alias("_v"), "_nrm"
    )
    return (
        cand.join(
            sides.select(
                F.col("vec_id").alias("vec_a"),
                F.col("_v").alias("_va"),
                F.col("_nrm").alias("_na"),
            ),
            "vec_a",
        )
        .join(
            sides.select(
                F.col("vec_id").alias("vec_b"),
                F.col("_v").alias("_vb"),
                F.col("_nrm").alias("_nb"),
            ),
            "vec_b",
        )
        .withColumn(
            "cos_sim",
            SIM.dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b")
    )


def dedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    work_dir: str,
    batch_id: int,
    threshold: float = 0.9,
    bits: int = 8,
    n_tables: int = 12,
    seed: int = 42,
) -> None:
    """Process one micro-batch: decide dup/novel per vector, then
    journal decisions plus the novel vectors' index rows in one job."""
    batch = batch.select("vec_id", "embedding").localCheckpoint()
    if batch.isEmpty():
        return
    dim = len(batch.select("embedding").first()[0])
    planes = SIM.hyperplanes(dim, bits * n_tables, seed)
    buckets = SIM.bucket_udf(planes, bits, n_tables)
    banded = batch.select(
        "vec_id", F.posexplode(buckets(F.col("embedding"))).alias("tbl", "bucket")
    ).localCheckpoint()

    # in-batch: newer (larger) id is the dup candidate — the earliest-
    # seen vector of a near-dup group stays canonical
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["tbl", "bucket"])
        .filter(F.col("x.vec_id") > F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
    )
    all_vecs = batch
    if has_kind(work_dir, "bucket"):
        hist = read_kind(spark, work_dir, "bucket").select("vec_id", "tbl", "bucket")
        vs_hist = (
            banded.join(hist.withColumnRenamed("vec_id", "hist_id"), ["tbl", "bucket"])
            .filter(F.col("vec_id") != F.col("hist_id"))
            .select(F.col("vec_id").alias("vec_a"), F.col("hist_id").alias("vec_b"))
        )
        cand = cand.unionByName(vs_hist)
        all_vecs = batch.unionByName(
            read_kind(spark, work_dir, "vec").select("vec_id", "embedding")
        )
    verified = _exact_cos_verify(cand.distinct(), all_vecs, threshold)
    matches = verified.groupBy("vec_a").agg(F.min("vec_b").alias("matched_id"))

    decisions = (
        batch.join(matches, batch.vec_id == matches.vec_a, "left")
        .select(
            "vec_id",
            F.col("matched_id").isNotNull().alias("is_dup"),
            "matched_id",
        )
        .localCheckpoint()
    )
    novel = decisions.filter(~F.col("is_dup")).select("vec_id")

    bid = F.lit(batch_id).cast("long").alias("batch_id")
    nul = lambda name, t: F.lit(None).cast(t).alias(name)  # noqa: E731
    dec_rows = decisions.select(
        F.lit("decision").alias("kind"), bid, "vec_id", "is_dup", "matched_id",
        nul("tbl", "int"), nul("bucket", "long"), nul("embedding", "array<float>"),
    )
    bucket_rows = banded.join(novel, "vec_id").select(
        F.lit("bucket").alias("kind"), bid, "vec_id",
        nul("is_dup", "boolean"), nul("matched_id", "long"),
        "tbl", "bucket", nul("embedding", "array<float>"),
    )
    vec_rows = batch.join(novel, "vec_id").select(
        F.lit("vec").alias("kind"), bid, "vec_id",
        nul("is_dup", "boolean"), nul("matched_id", "long"),
        nul("tbl", "int"), nul("bucket", "long"), "embedding",
    )
    (
        dec_rows.unionByName(bucket_rows)
        .unionByName(vec_rows)
        .write.mode("append")
        .partitionBy("kind")
        .parquet(journal_path(work_dir))
    )


def run_embdedup_stream(
    spark: SparkSession,
    src_dir: str,
    work_dir: str,
    checkpoint: str,
    threshold: float = 0.9,
    bits: int = 8,
    n_tables: int = 12,
):
    """Drain all currently-available embedding files through the dedup
    pass (availableNow); re-running with the same checkpoint processes
    only newly-arrived files."""
    # same run-identity binding as neardup: batch_id-keyed journal rows
    # are meaningless across checkpoint generations
    guard_journal_generation(work_dir, checkpoint)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        dedup_batch(spark, batch_df, work_dir, epoch_id, threshold, bits, n_tables)

    stream = spark.readStream.schema(EMB_STREAM_SCHEMA).parquet(src_dir)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    stamp_journal_query_id(work_dir, str(q.id))
    return q


def read_decisions(spark: SparkSession, work_dir: str) -> DataFrame:
    """Per-vector decisions, deduped on (batch_id, vec_id) for the
    replayed-append case."""
    return (
        read_kind(spark, work_dir, "decision")
        .select("batch_id", "vec_id", "is_dup", "matched_id")
        .dropDuplicates(["batch_id", "vec_id"])
    )


def read_index_vecs(spark: SparkSession, work_dir: str) -> DataFrame:
    """Accepted (novel) vectors currently in the index."""
    return (
        read_kind(spark, work_dir, "vec")
        .select("vec_id", "embedding")
        .dropDuplicates(["vec_id"])
    )

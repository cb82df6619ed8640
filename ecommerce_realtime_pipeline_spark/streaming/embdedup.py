"""Incremental near-duplicate dedup for an EMBEDDING STREAM against an
accumulating sign-LSH index — the vector-space twin of the document
pass in ``streaming/neardup.py``, for pipelines whose dedup signal is
embedding cosine rather than n-gram Jaccard (semantic dedup of a
continuously-embedded crawl).

Only the two family-specific steps live here: the bucketing (the
batch's vectors in the near-dup join's static sign-LSH tables,
``similarity.NEARDUP_BITS`` × ``NEARDUP_TABLES`` through
``similarity.bucket_udf`` — one Arrow matmul pass) and the verify
(EXACT cosine ≥ 0.9 over the full vectors). The rest of each micro-batch — in-batch self-join,
join against the history index of every accepted vector, min-id
canonical decision, one-job kind-partitioned append — is neardup's
banded-LSH kernel (``neardup.lsh_dedup_batch``) writing the shared
epoch journal (``streaming/journal.py``): same journal design, same
failure semantics, same generation guard.

Scale stance (100 TB): per-trigger work is |batch|·n_tables index rows
joined on (tbl, bucket) against the history index — an equi-join,
never batch × history on raw vectors; verification touches candidate
pairs only, and the bucket width would be sized by
``similarity.auto_lsh_params`` as the accepted corpus grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
from ecommerce_realtime_pipeline_spark.streaming import journal as EJ
from ecommerce_realtime_pipeline_spark.streaming import neardup as ND

EMB_STREAM_SCHEMA = "vec_id long, embedding array<float>"

#: journal kinds: 'decision' (batch_id, vec_id, is_dup, matched_id),
#: 'bucket' (batch_id, vec_id, tbl, bucket), 'vec' (batch_id, vec_id,
#: embedding). Unused columns are null per kind.
_KINDS = ("decision", "bucket", "vec")


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
    spark: SparkSession, batch: DataFrame, work_dir: str, batch_id: int
) -> None:
    """Process one micro-batch of vectors through the kernel: sign-LSH
    buckets, exact-cosine verify."""
    bits, n_tables = SIM.NEARDUP_BITS, SIM.NEARDUP_TABLES

    def band(vecs: DataFrame) -> DataFrame:
        dim = len(vecs.select("embedding").first()[0])
        planes = SIM.hyperplanes(dim, bits * n_tables, SIM.SEED)
        buckets = SIM.bucket_udf(planes, bits, n_tables)
        return vecs.select(
            "vec_id", F.posexplode(buckets(F.col("embedding"))).alias("tbl", "bucket")
        )

    ND.lsh_dedup_batch(
        spark,
        batch,
        work_dir,
        batch_id,
        id_col="vec_id",
        payload="embedding",
        band=band,
        band_cols=("tbl", "bucket"),
        verify=lambda cand, vecs: _exact_cos_verify(cand, vecs, 0.9),
        kinds=_KINDS,
    )


def run_embdedup_stream(
    spark: SparkSession, src_dir: str, work_dir: str, checkpoint: str
):
    """Drain all currently-available embedding files through the dedup
    pass (availableNow); re-running with the same checkpoint processes
    only newly-arrived files. A checkpoint of another generation than
    the journal's is refused with ``RuntimeError``."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        dedup_batch(spark, batch_df, work_dir, epoch_id)

    stream = spark.readStream.schema(EMB_STREAM_SCHEMA).parquet(src_dir)
    return EJ.start_bound(
        stream, checkpoint, handle, work_dir, EJ.has_rows(ND.journal_path(work_dir))
    )


def read_decisions(spark: SparkSession, work_dir: str) -> DataFrame:
    """Per-vector decisions, deduped on (batch_id, vec_id) for the
    replayed-append case."""
    return (
        ND.read_kind(spark, work_dir, "decision")
        .select("batch_id", "vec_id", "is_dup", "matched_id")
        .dropDuplicates(["batch_id", "vec_id"])
    )


def read_index_vecs(spark: SparkSession, work_dir: str) -> DataFrame:
    """Accepted (novel) vectors currently in the index."""
    return (
        ND.read_kind(spark, work_dir, "vec")
        .select("vec_id", "embedding")
        .dropDuplicates(["vec_id"])
    )

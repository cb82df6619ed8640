"""LLM-data-pipeline queries (SURVEY §2.9, driver-mandated) over the
``documents`` and ``embeddings`` testdata tables: dedup (exact, exact
n-gram Jaccard, MinHash-LSH, SimHash), similarity search (brute-force +
LSH ANN), text analysis (stats, quality, lang-ID, fingerprints), and
multimodal feature extraction.

Oracle policy: everything SQL-expressible ships a DuckDB oracle
(including the MinHash signature — built on md5, which both engines
share). Hash-seeded (xxhash64) candidate generation and the Pandas-UDF
multimodal pass are rows-only; their correctness is pinned by pytest
against exact counterparts instead.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import load_table
from ecommerce_realtime_pipeline_spark.operators import dedup as DD
from ecommerce_realtime_pipeline_spark.operators import indexfmt
from ecommerce_realtime_pipeline_spark.operators import model as MODEL
from ecommerce_realtime_pipeline_spark.operators import multimodal as MM
from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
from ecommerce_realtime_pipeline_spark.operators import text as TX
from ecommerce_realtime_pipeline_spark.plans import fixtures as FX
from ecommerce_realtime_pipeline_spark.session import overlapped
from ecommerce_realtime_pipeline_spark.streaming.ingest import start_available_now

N_QUERY_VECS = 10  # ANN query set: vec_id < 10 (deterministic)
KNN_K = 5
JACCARD_T = 0.5


# -- text analysis ----------------------------------------------------------


def docs_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: doc/char/token totals + exact distinct
    token count (explode + two-key agg; one shuffle each)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.round(F.sum(F.length("text")) / F.count("*"), 4).alias("avg_chars"),
        F.sum(TX.token_count("text")).alias("sum_tokens"),
    )
    distinct_toks = (
        docs.select("lang", F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("lang")
        .agg(F.countDistinct("tok").alias("n_distinct_tokens"))
    )
    return base.join(distinct_toks, "lang")


def docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features (pure projection, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.quality_features(docs).select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_bpe_tokens",
        "n_distinct_tokens",
        "distinct_ratio",
        "mean_token_len",
    )


def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID confusion matrix: (actual, predicted, n)."""
    docs = load_table(spark, sf_dir, "documents")
    pred = TX.predict_lang(TX.tokens("text"))
    return (
        docs.select(F.col("lang").alias("actual_lang"), pred.alias("pred_lang"))
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


def docs_fingerprint_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fingerprints: order-free md5 of normalized text, 4-hash
    md5-MinHash sketch, and an order-sensitive Rabin-Karp rolling hash
    over the token stream (engine-portable: DuckDB computes identical
    values for all three)."""
    docs = load_table(spark, sf_dir, "documents")
    base = TX.with_shingles(docs.select("doc_id", "text"), 3).withColumn(
        "_toks", TX.tokens("text")
    )
    mins = [
        F.array_min(
            F.transform(F.col("_sh"), lambda s: F.md5(F.concat(F.lit(f"{seed}|"), s)))
        ).alias(f"mh{seed}")
        for seed in range(4)
    ]
    return base.select(
        "doc_id",
        TX.fingerprint("text").alias("fingerprint"),
        TX.rolling_fingerprint(F.col("_toks")).alias("rolling_fp"),
        *mins,
    )


# -- dedup ------------------------------------------------------------------


def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary: corpus size, distinct normalized
    fingerprints, rows kept/dropped by keep-one-per-fingerprint dedup.
    One row, ONE scan: n_kept ≡ n_distinct and n_dropped ≡ n_docs −
    n_distinct by construction of ``DD.exact_dedup`` (keeps exactly the
    min-doc_id row per fingerprint; identity asserted in tests), so the
    counts collapse into a single conditional aggregate instead of
    running the 3-scan dedup pipeline to count its outputs."""
    docs = load_table(spark, sf_dir, "documents")
    fp = TX.fingerprint("text")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(fp).alias("n_distinct"),
        F.countDistinct(fp).alias("n_kept"),
        (F.count("*") - F.countDistinct(fp)).alias("n_dropped"),
    )


def docs_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard near-dup pairs (J ≥ 0.5) via the
    inverted-index set-similarity join."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.jaccard_pairs(docs, threshold=JACCARD_T, n=3)


#: Document-frequency cutoff for the web-scale Jaccard variant: at
#: crawl scale, boilerplate shingles with huge df make the inverted-
#: index join quadratic; dropping them from CANDIDATE GENERATION only
#: (full-set verify) bounds the join at df² per shingle.
MAX_SHINGLE_DF = 5


def docs_neardup_jaccard_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-cutoff Jaccard near-dup (J ≥ 0.5): shingles in more
    than MAX_SHINGLE_DF docs are excluded from candidate generation;
    surviving pairs are verified with exact Jaccard over FULL shingle
    sets, so the cutoff can only lose pairs whose every shared shingle
    is hot — never distort a score. The DuckDB oracle replicates
    filter → candidates → full-set verify."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.jaccard_pairs(
        docs, threshold=JACCARD_T, n=3, max_shingle_df=MAX_SHINGLE_DF
    )


def docs_neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard-verified (J ≥ 0.5).
    With the corpus's clean dup separation this equals the exact
    inverted-index result — asserted in tests; the driver records the
    same oracle as docs_neardup_jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(docs, threshold=JACCARD_T)


def docs_neardup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (32-bit, hamming ≤ 3, banded join). This
    driver-checked query runs ``portable_hash=True``: the md5-derived
    bit hash makes the sketch engine-portable, and the 4-chunk
    pigeonhole banding is EXACT for hamming ≤ 3 — so the all-pairs
    DuckDB oracle computes the identical pair set (the oracle may go
    all-pairs; the Spark path never does). Production default is the
    xxhash64 path (~2.4× faster, same banding math) — pair-set overlap
    between the two hashes on the planted corpus is pinned in tests."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.simhash_pairs(docs, max_hamming=3, portable_hash=True)


def docs_neardup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level fuzzy-dup pairs: Levenshtein ≤ 3 over the space-padded
    40-char prefix key, candidates via pigeonhole segment blocking
    (4 equal segments, equi-join on (segment_idx, segment) — exact for
    aligned/substitution edits, candidate-gen-only for indels; see
    ``dedup.edit_distance_pairs``). Completes the near-dup family with
    the character-edit metric the token-set measures dilute. Oracle
    replicates block → exact-levenshtein verify (both engines implement
    classic Levenshtein, so the distances hash-match bit-for-bit)."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.edit_distance_pairs(docs, max_dist=3, key_len=40).orderBy(
        "doc_a", "doc_b"
    )


def docs_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: exact-Jaccard pairs (J ≥ 0.5) → connected
    components via iterative min-label propagation → (doc_id,
    cluster_id). The canonical dedup endgame (keep one doc per
    cluster). Oracle: DuckDB recursive CTE computes the same reachable
    minimum per node — the one genuinely ITERATIVE algorithm in the
    suite, still oracle-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.jaccard_pairs(docs, threshold=JACCARD_T, n=3)
    return DD.neardup_clusters(pairs).orderBy("doc_id")


def docs_neardup_clusters_lss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering via LARGE-STAR/SMALL-STAR connected
    components (the O(log²)-round MapReduce CC algorithm) — the
    deep-chain scale path next to ``docs_neardup_clusters``'s min-label
    propagation (O(diameter) rounds). Same pair graph, same output
    contract, same recursive-CTE oracle; label equality between the two
    implementations is additionally pinned in tests."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.jaccard_pairs(docs, threshold=JACCARD_T, n=3)
    return DD.neardup_clusters_lss(pairs).orderBy("doc_id")


#: Near-dup cluster table memo (appId, sf_dir) — the cluster table is
#: immutable for a corpus and serves several downstream queries
#: (representative pick, leakage-safe split), so it is computed once
#: per session like the ANN quantizers. The clustering QUERIES
#: themselves stay unmemoized — the bench must keep measuring CC.
_CLUSTER_CACHE: dict = {}


def _clusters_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _CLUSTER_CACHE:
        return _CLUSTER_CACHE[key]
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.jaccard_pairs(docs, threshold=JACCARD_T, n=3)
    cl = DD.neardup_clusters_lss(pairs).localCheckpoint()
    _CLUSTER_CACHE[key] = cl
    return cl


def docs_cluster_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-YIELD report: histogram of near-dup cluster sizes —
    per size, how many clusters, how many docs they hold, and how many
    are droppable (size − 1 per cluster; the headline number a dedup
    pass reports at 100 TB). Rides the session-cached cluster table
    (`_clusters_cached` — computed once for the representatives/split/
    report consumers), so the marginal cost is two tiny aggregations.
    Same recursive-CTE oracle family as the other cluster consumers."""
    clusters = _clusters_cached(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
            (F.sum("cluster_size") - F.count("*")).alias("n_droppable"),
        )
        .orderBy("cluster_size")
    )


def docs_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint overlap detection (the MOSS scheme): build
    each doc's position-aware fingerprint set (rightmost-min of every
    w-window over k-gram hashes), then find the top-15 doc pairs by
    DISTINCT shared fingerprints — overlap detection that LOCALIZES
    shared runs, complementing the set-similarity dedup family
    (guarantee: any shared run of ≥ w+k-1 tokens produces a shared
    fingerprint, so long verbatim overlaps cannot hide).

    Scale: fingerprints are ~1/w of the gram stream; the pair join is
    an inverted-index equi-join on the fingerprint hash — never
    all-pairs. TakeOrdered top-k."""
    docs = load_table(spark, sf_dir, "documents")
    fps = TX.winnow_fingerprints(docs).select("doc_id", "h").distinct()
    a = fps.select(F.col("doc_id").alias("doc_a"), "h")
    b = fps.select(F.col("doc_id").alias("doc_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fps"))
    )
    return pairs.orderBy(F.desc("shared_fps"), "doc_a", "doc_b").limit(15)


def docs_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ENDGAME stage: per near-dup cluster, keep the
    best-quality member (here: longest doc, ties → smallest doc_id) —
    production dedup keeps the best representative, not the first
    seen. Clusters come from the large-star/small-star CC (the scale
    path); the pick is a per-cluster argmax via max(struct), no window
    over the corpus. Output: (cluster_id, n_members, rep_doc_id,
    rep_n_chars, n_dropped).

    Scale: the cluster table is dup-graph-sized (only docs with a
    near-dup edge), broadcast into the doc join; everything after is
    a cluster-keyed partial agg."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = _clusters_cached(spark, sf_dir)
    mem = docs.select("doc_id", "n_chars").join(F.broadcast(clusters), "doc_id")
    best = F.max(
        F.struct(F.col("n_chars").alias("nc"), (-F.col("doc_id")).alias("nid"))
    ).alias("_b")
    return (
        mem.groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"), best)
        .select(
            "cluster_id",
            "n_members",
            (-F.col("_b.nid")).alias("rep_doc_id"),
            F.col("_b.nc").alias("rep_n_chars"),
            (F.col("n_members") - 1).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


def docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split: hash on the NEAR-DUP
    CLUSTER id (min-label = the canonical member), not the doc id —
    so a document and its near-duplicates can never land on opposite
    sides of the train/test wall (the leakage mode a naive per-doc
    hash split silently commits, demonstrated in tests). Singleton
    docs hash on their own id; the cluster label IS the min member
    id, so the group key needs no extra canonicalization pass.

    Scale: the cluster table is dup-graph-sized and broadcast; the
    split stays a pure function of the group key (stable across
    engines/partitionings like `hash_split`)."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = _clusters_cached(spark, sf_dir)
    keyed = docs.select("doc_id").join(F.broadcast(clusters), "doc_id", "left")
    group_key = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    tagged = keyed.select(
        "doc_id",
        group_key.alias("group_key"),
        TX.hash_split(group_key).alias("split"),
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("group_key").alias("n_groups"),
        )
        .orderBy("split")
    )


def docs_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by md5(doc_id) —
    leakage-safe (membership is a pure function of the id, stable
    across engines/partitionings) — summarized per (split, lang)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", TX.hash_split("doc_id"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count("text")).alias("sum_tokens"),
        )
    )


def docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter pipeline: per-doc features → explicit-threshold
    keep/drop verdicts → corpus summary (the filter stage of a
    training-data pipeline; thresholds are parameters, never silent)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = TX.quality_features(docs)
    return (
        feats.withColumn("verdict", TX.quality_verdict())
        .groupBy("verdict")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


# -- similarity search ------------------------------------------------------


def _query_vectors(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < N_QUERY_VECS)


def emb_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the 10 lowest vec_ids."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_bruteforce(emb, _query_vectors(emb), k=KNN_K)


def emb_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH ANN top-5 (OR-amplified bucket equi-join +
    exact rerank). Oracle-checked: the hyperplanes are a deterministic
    function of (dim, bits, tables, seed), so the oracle embeds the
    IDENTICAL plane constants as a VALUES literal and replicates
    bucket assignment, candidate generation, and rerank in SQL — both
    engines share the exact candidate set, so even recall < 1 matches.
    Recall vs brute force additionally asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_lsh(
        emb, _query_vectors(emb), k=KNN_K,
        dim=SIM.embedding_dim(emb, cache_key=f"{sf_dir}/embeddings"),
    )


def emb_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN top-5 (coarse quantizer + n_probe cells + exact
    rerank). The md5-ordered centroid pick is engine-portable, so the
    DuckDB oracle replicates the full quantize→probe→rerank pipeline
    and checks the exact result set (its quantizer may cross-join
    n×16; the Spark path broadcasts centroids into one Arrow matmul).
    n_probe=8 of 16 cells suits the tiny isotropic test corpus (the
    sf0.001 slice has ~3 vectors per cell); a production index scales
    n_centroids ~√n with n_probe ≪ n_centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_ivf(
        emb, _query_vectors(emb), k=KNN_K, n_probe=8,
        cache_key=f"{sf_dir}/embeddings",
    )


def emb_knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED index lifecycle: build the IVF-flat index ONCE to
    parquet posting-list directories (partitioned by cell, vectors
    inline), then serve top-5 by loading centroids, probing, and
    partition-pruned cell reads — write→load→probe→rerank, the
    production serving path where the index outlives the session.
    Same quantizer parameters as ``emb_knn_ivf`` ⇒ bit-identical
    results ⇒ shares its DuckDB oracle verbatim."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _persisted_ivf_path(spark, sf_dir, emb)
    return SIM.knn_ivf_from_index(
        spark, path, _query_vectors(emb), k=KNN_K, n_probe=8
    )


def emb_knn_ivf_wide_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIDE-PROBE serve from the persisted IVF index: n_probe=16 —
    above ``indexfmt.SEEK_LIST_THRESHOLD`` (8) — so the cell seek's
    BATCHED existence probe fires (ONE listing per segment instead of
    16 serialized per-directory HEADs, r13; the ANN twin of
    `docs_bm25_search_wide`) and that branch is on the driver's hash
    gate. At the fixture's 16 cells a 16-probe covers every cell, so
    the result is the recall ceiling of the probe knob — candidates =
    the whole live set — while the ranking still runs the production
    seeked plan end-to-end (manifest resolution, per-cell directory
    opens, rerank).

    Scale: probe cost is min(n_probe HEADs, 1 LIST) per segment at
    any probe width; candidate volume is Σ|probed cells| — the n/k
    occupancy argument, with n_probe the recall/cost dial."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _persisted_ivf_path(spark, sf_dir, emb)
    return SIM.knn_ivf_from_index(
        spark, path, _query_vectors(emb), k=KNN_K, n_probe=16
    )


#: the source table each index format is built from — the file whose
#: size and mtime stamp a fixture's path (:func:`fixtures.stamped_path`)
_FIXTURE_SOURCE = {
    TX.TEXT_INDEX_FORMAT: "documents.parquet",
    TX.POS_INDEX_FORMAT: "documents.parquet",
    SIM.IVF_INDEX_FORMAT: "embeddings.parquet",
}


def _index_fixture(
    spark: SparkSession,
    sf_dir: str,
    fmt: str,
    prefix: str,
    shape: tuple[int, int, bool],
    *steps,
) -> str:
    """Build-once path of a session-shared index fixture: the index of
    format ``fmt`` over ``sf_dir``'s source table, keyed on the app id
    and the source's size and mtime (:func:`fixtures.stamped_path`).
    ``steps`` run in order on the fixture path — a build, then any
    merge or delete — and land the pinned generation history ``shape``
    = (live version, live segments, live tombstones?): (1, 1, False)
    for a plain build, (2, 1, True) for build + delete, where v1 is
    what ``version=1`` time travel serves, (2, 2, False) for build +
    merge. The ready check requires exactly that shape, so a
    half-built tree from a crashed process is cleared and rebuilt,
    never served (:func:`fixtures.build_once`, which also keeps a
    concurrent process from interleaving a multi-flip build), and a
    build that lands any other shape fails loudly. Fixtures are
    serving-only: a query that mutates an index takes a
    :func:`_mutable_index_copy`."""
    path = FX.stamped_path(spark, sf_dir, _FIXTURE_SOURCE[fmt], prefix)

    def ready(p):
        if not indexfmt.has_index(p):
            return False
        m = indexfmt.read_manifest(p, fmt)
        got = (int(m["version"]), len(m["segments"]), bool(m.get("tombstones")))
        return got == shape

    def build(p):
        for step in steps:
            step(p)

    FX.build_once(path, ready, build)
    if not ready(path):
        raise RuntimeError(
            f"index fixture {path} did not land as (version, segments, "
            f"tombstones) {shape}"
        )
    return path


def _persisted_ivf_path(spark: SparkSession, sf_dir: str, emb: DataFrame) -> str:
    """The full-corpus IVF index, shared by every query that SERVES
    from the canonical index (`emb_knn_ivf_persisted`,
    `emb_ivf_index_health`)."""
    return _index_fixture(
        spark, sf_dir, SIM.IVF_INDEX_FORMAT, "spark_graft_ivf_", (1, 1, False),
        lambda p: SIM.write_ivf_index(emb, p, cache_key=f"{sf_dir}/embeddings"),
    )


def _persisted_text_path(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> str:
    """The full-corpus TEXT index — the BM25 twin of
    `_persisted_pos_path`, for queries that SERVE from the canonical
    index."""
    return _index_fixture(
        spark, sf_dir, TX.TEXT_INDEX_FORMAT, "spark_graft_text_", (1, 1, False),
        lambda p: TX.write_text_index(docs, p),
    )


def _persisted_ivf_deleted_path(
    spark: SparkSession, sf_dir: str, emb: DataFrame
) -> str:
    """Full IVF index + odd vec_ids tombstoned, shared by the
    deleted/hybrid/time-travel serving family: v1 = the full-corpus
    build (what ``version=1`` time travel serves), v2 = live
    tombstones on the odd ids (what the masked serves read)."""
    return _index_fixture(
        spark, sf_dir, SIM.IVF_INDEX_FORMAT, "spark_graft_ivfdel_", (2, 1, True),
        lambda p: SIM.write_ivf_index(emb, p, cache_key=f"{sf_dir}/embeddings"),
        lambda p: SIM.delete_from_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 1).select("vec_id"), p
        ),
    )


def _persisted_text_deleted_path(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> str:
    """Text twin of :func:`_persisted_ivf_deleted_path`: full-corpus
    ``write_text_index`` + odd doc_ids tombstoned. v1 = full build
    (time travel), v2 = live tombstones (masked BM25 serves with
    deliberately-stale idf/avgdl — the documented Lucene semantics)."""
    return _index_fixture(
        spark, sf_dir, TX.TEXT_INDEX_FORMAT, "spark_graft_textdel_", (2, 1, True),
        lambda p: TX.write_text_index(docs, p),
        lambda p: TX.delete_from_text_index(
            docs.filter(F.col("doc_id") % 2 == 1).select("doc_id"), p
        ),
    )


def _persisted_pos_deleted_path(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> str:
    """Positional twin of :func:`_persisted_text_deleted_path`: full
    ``write_positional_index`` + every doc_id ≡ 0 (mod 7) tombstoned
    (the family's delete-gate fixture shape). v1 = full build, v2 =
    live tombstones."""
    return _index_fixture(
        spark, sf_dir, TX.POS_INDEX_FORMAT, "spark_graft_posdel_", (2, 1, True),
        lambda p: TX.write_positional_index(docs, p),
        lambda p: TX.delete_from_positional_index(
            docs.filter(F.col("doc_id") % 7 == 0).select("doc_id"), p
        ),
    )


def _deleted_fixture_pair(
    spark: SparkSession, sf_dir: str, docs: DataFrame, emb: DataFrame
) -> tuple[str, str]:
    """Both deleted serving fixtures (text + IVF) for the hybrid
    queries, built CONCURRENTLY when cold (guide §2.6 — the two
    build+delete sequences are independent multi-job chains; submitting
    them from a 2-thread pool lets one build's task tail back-fill with
    the other's tasks instead of serializing the two builds). Warm
    path: both submits return immediately off the session memo, so the
    pool costs microseconds. The per-path build locks are what make
    the overlap real."""
    return tuple(
        overlapped(
            lambda: _persisted_text_deleted_path(spark, sf_dir, docs),
            lambda: _persisted_ivf_deleted_path(spark, sf_dir, emb),
        )
    )


def _mutable_index_copy(base: str, prefix: str) -> tuple[str, str]:
    """Private MUTABLE copy of a session-shared index fixture, for
    queries whose point is the mutation itself (compact, delete,
    policy retrain): copy the memoized base instead of re-running its
    multi-job build — the manifests store path-RELATIVE child names
    (test-pinned in test_indexfmt), so an index directory is
    relocatable byte-for-byte, and the shipped fixtures are ≤ a few
    MB, so the copy is milliseconds against the multi-second build it
    replaces. Returns ``(tmpdir, index_path)``; the CALLER owns the
    tmpdir (``shutil.rmtree`` in its ``finally``)."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    path = os.path.join(tmp, "index")
    shutil.copytree(base, path)
    return tmp, path


def _ivf_even_path(spark: SparkSession, sf_dir: str, emb: DataFrame) -> str:
    """The HALF-CORPUS (even vec_ids) IVF index — the frozen-quantizer
    base every drift-family fixture starts from. The even-trained
    quantizer itself is additionally memoized under the ``#even``
    cache key, shared with the oracle chain."""
    return _index_fixture(
        spark, sf_dir, SIM.IVF_INDEX_FORMAT, "spark_graft_ivfeven_", (1, 1, False),
        lambda p: SIM.write_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0),
            p,
            cache_key=f"{sf_dir}/embeddings#even",
        ),
    )


def _ivf_drifted_path(spark: SparkSession, sf_dir: str, emb: DataFrame) -> str:
    """The DRIFTED IVF index — quantizer frozen on the even half, odd
    half merged in under it (v1 = even build, v2 = odd-batch segment
    append). This exact 2-segment state is the shared prefix of the
    whole drift family (`emb_knn_ivf_merged` serves it as-is;
    requantize/policy queries take a :func:`_mutable_index_copy` and
    retrain their own copy)."""
    return _index_fixture(
        spark, sf_dir, SIM.IVF_INDEX_FORMAT, "spark_graft_ivfdrift_", (2, 2, False),
        lambda p: shutil.copytree(_ivf_even_path(spark, sf_dir, emb), p),
        lambda p: SIM.merge_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), p),
    )


def _merged_text_path(spark: SparkSession, sf_dir: str, docs: DataFrame) -> str:
    """The MERGED text index — even doc_ids built, odd doc_ids merged
    as a second immutable segment (v1 = build, v2 = merge). The shared
    prefix of the merge-lifecycle family: `docs_bm25_index_merge`
    serves it as-is; compaction/stats queries mutate a
    :func:`_mutable_index_copy`."""
    return _index_fixture(
        spark, sf_dir, TX.TEXT_INDEX_FORMAT, "spark_graft_textmrg_", (2, 2, False),
        lambda p: TX.write_text_index(docs.filter(F.col("doc_id") % 2 == 0), p),
        lambda p: TX.merge_text_index(docs.filter(F.col("doc_id") % 2 == 1), p),
    )


def _merged_pos_median_path(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> str:
    """The MEDIAN-SPLIT positional index: first half of the doc_id
    range built, second half merged as a second segment —
    `docs_phrase_search_indexed`'s fixture shape (v1 = build, v2 =
    merge)."""
    def build(p):
        mid = docs.agg(
            F.percentile_approx("doc_id", 0.5, 10000).alias("m")
        ).collect()[0]["m"]
        TX.write_positional_index(docs.filter(F.col("doc_id") <= mid), p)
        TX.merge_positional_index(docs.filter(F.col("doc_id") > mid), p)

    return _index_fixture(
        spark, sf_dir, TX.POS_INDEX_FORMAT, "spark_graft_posmrg_", (2, 2, False),
        build,
    )


def _merged_pos_evenodd_path(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> str:
    """The EVEN/ODD merged positional index (even doc_ids built, odd
    merged — the `docs_pos_index_stats` lifecycle prefix, v1 = build,
    v2 = merge); its consumer deletes on a :func:`_mutable_index_copy`."""
    return _index_fixture(
        spark, sf_dir, TX.POS_INDEX_FORMAT, "spark_graft_posmeo_", (2, 2, False),
        lambda p: TX.write_positional_index(docs.filter(F.col("doc_id") % 2 == 0), p),
        lambda p: TX.merge_positional_index(docs.filter(F.col("doc_id") % 2 == 1), p),
    )


def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: every vector → 16 sub-codes
    (argmin squared-L2 codebook entry per 4-dim subspace, on the unit
    sphere) + the per-subspace quantization distance — the 16×
    compressed representation an IVF-PQ index scans at 100 TB.
    Codebook = the md5-ordered training pick normalized and sliced per
    subspace, so the oracle rebuilds the identical codebook in SQL;
    distances are DECIMAL-exact, so code assignment (incl. tie-breaks)
    is engine-exact, not ulp-lucky."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes = SIM.pq_encode(emb, cache_key=f"{sf_dir}/embeddings")
    return codes.select(
        "vec_id",
        "subspace",
        "code",
        F.round(F.col("_qd"), 6).cast("double").alias("qdist"),
    )


def emb_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + ADC ANN top-5: per-query (m × ksub) distance lookup table,
    compressed-domain ADC scan over the m-byte codes (full vectors
    untouched), top-40 refine by exact-decimal ADC, exact cosine
    rerank. Same output contract as the other ANN paths; the oracle
    replicates codebook → codes → LUT → ADC → rerank entirely in SQL.
    Recall vs brute force pinned in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_pq_adc(
        emb, _query_vectors(emb), k=KNN_K, cache_key=f"{sf_dir}/embeddings"
    )


def emb_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite IVF-PQ ANN top-5 — the production 100 TB serving
    shape: IVF cells bound WHICH vectors are scanned (8/16 cells),
    PQ codes bound WHAT is read per vector (16 bytes), ADC ranks in
    the compressed domain, top-40 refine gets the exact cosine rerank.
    The oracle replicates the entire quantize→probe→encode→ADC→rerank
    pipeline in SQL (both quantizers are md5-deterministic, all
    distances DECIMAL-exact). Recall vs brute force pinned in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_ivfpq(
        emb, _query_vectors(emb), k=KNN_K, cache_key=f"{sf_dir}/embeddings"
    )


def emb_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations refining the md5-sampled quantizer (the
    IVF/PQ training step): DECIMAL-exact assignment distances make the
    argmin engine-deterministic, centroid means are exact decimal sums
    with one double division — so the oracle replicates both
    iterations CTE-for-CTE and hash-checks the refined centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.kmeans_refine(emb, cache_key=f"{sf_dir}/embeddings").orderBy("cid")


def emb_knn_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 served from the Lloyd-refined quantizer — the
    train→index→probe→rerank production lifecycle in one query, every
    stage engine-deterministic (decimal assignment, min-cid ties) and
    replicated in the SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_ivf_refined(
        emb, _query_vectors(emb), k=KNN_K, cache_key=f"{sf_dir}/embeddings"
    )


def _with_planted_dups(emb: DataFrame) -> DataFrame:
    """Corpus ∪ deterministic perturbed copies of every 10th vector
    (first component doubled, id offset by 1e6). The perturbation keeps
    cosine in [0.9428, 1] analytically — min of (1+t)/√(1+3t) — while
    natural pairs sit far below (max ≈0.51 in this corpus), so
    near-dup(0.9) must return exactly the planted pairs. DuckDB builds
    the identical corpus in SQL → the oracle diff doubles as a
    100%-recall gate on the LSH path."""
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) * 2).cast("float")),
            F.slice("embedding", 2, F.size("embedding") - 1),
        ).alias("embedding"),
        "label",
    )
    return emb.unionByName(planted)


def emb_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: plant perturbed duplicates, find
    them with sign-LSH self-join + exact verify (cos ≥ 0.9). Pair ids
    only (float cos is engine-sensitive in the last ulp; membership is
    not, given the 0.94-vs-0.51 margin)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # materialize the planted test corpus once: the LSH self-join + two
    # rerank joins otherwise re-scan (and re-plant) the input 8×
    corpus = _with_planted_dups(emb).localCheckpoint()
    pairs = SIM.cosine_neardup_pairs(
        corpus, threshold=0.9,
        dim=SIM.embedding_dim(emb, cache_key=f"{sf_dir}/embeddings"),
        # corpus size drives occupancy-pinned LSH width (linear-in-n
        # candidates); the count is ~free on the checkpointed frame
        n=corpus.count(),
    )
    return pairs.select("vec_a", "vec_b").orderBy("vec_a", "vec_b")


def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup over the planted-dup corpus: quantizer
    cells (md5-sampled from the RAW corpus — the production
    train-on-sample/assign-everything split) bound which pairs get
    exact cosine; cos ≥ 0.9 against a lower-id cell-mate drops the
    vector. The planted perturbed copies (cos ≥ 0.9428 to their
    source) are the expected drop set wherever source and copy land in
    one cell; the oracle replays sampling, assignment, and the
    intra-cell compare CTE-for-CTE, so it also pins WHICH planted
    pairs the cell partition finds — SemDeDup's published
    boundary-miss mode is thereby exact, not hand-waved.

    ``max_exact_cells=0`` pins the SAMPLED-quantizer kernel at every
    scale factor (round-7: the r6 form switched kernels at k > 16, so
    its fixed-16 Lloyd oracle was only valid for n ≤ 1024 — green at
    the sf0.01 driver gate but rows-mismatched at the sf0.1 sweep).
    With one kernel and a scale-aware oracle (k = max(16, n//64)
    computed in SQL), the pair is hash-exact at sf0.001/0.01/0.1 —
    verified in SWEEPS_r07. The Lloyd-refined exact kernel remains
    available on the operator for callers that want refined cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    # localCheckpoint: the assignment + both pair sides re-scan the
    # corpus; blocks are released by the bench harness post-query
    corpus = _with_planted_dups(emb).localCheckpoint()
    drops = SIM.semdedup_drops(
        corpus,
        threshold=0.9,
        train=emb,
        cache_key=f"{sf_dir}/embeddings",
        # auto-sized cells: k = max(16, n/64) — the count is ~free on
        # the checkpointed frame; keeps Σ|cell|² linear in n
        n=corpus.count(),
        max_exact_cells=0,
    )
    return drops.orderBy("vec_id")


SEM_DECON_EVAL = 50  # eval set: vec_id < 50
SEM_DECON_T = 0.9


def emb_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement of
    the 8-gram `docs_decontaminate`: flag training vectors whose
    cosine to ANY eval-set vector reaches 0.9 (paraphrase-level
    contamination that n-gram overlap misses). The planted perturbed
    copies of eval members are the analytic positives (cos ≥ 0.9428
    to their source vs ≤ ~0.51 for naturals).

    Scale stance: eval sets are SMALL by nature, so the right 100 TB
    plan is exact — broadcast the eval vectors and run one narrow
    cosine pass over the corpus (no LSH, no shuffle, no recall loss);
    the corpus side streams through in one scan. Output: flagged
    (vec_id, closest_eval, n_matches)."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = _with_planted_dups(emb)
    eval_set = emb.filter(F.col("vec_id") < SEM_DECON_EVAL).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("_ev"),
    )
    train = corpus.filter(F.col("vec_id") >= SEM_DECON_EVAL)
    ev = eval_set.withColumn("_en", SIM.norm(F.col("_ev")))
    tr = SIM.with_norm(train).select("vec_id", F.col("embedding").alias("_tv"), "_nrm")
    cos = SIM.dot(F.col("_tv"), F.col("_ev")) / (F.col("_nrm") * F.col("_en"))
    hits = tr.crossJoin(F.broadcast(ev)).filter(cos >= SEM_DECON_T)
    return (
        hits.groupBy("vec_id")
        .agg(
            F.min("eval_id").alias("closest_eval"),
            F.count("*").alias("n_matches"),
        )
        .orderBy("vec_id")
    )


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus
    (4× storage cut for the ANN index). Engine-exact: the scale is a
    widened float32 (no arithmetic) and codes use floor(x+0.5) half-up
    — the same IEEE op sequence in both engines, so every code
    hash-matches. Emitted LONG-FORM (vec_id, scale, pos, code) — one
    row per code — because value-hash harnesses canonicalize by
    sorting rows and array columns aren't sortable keys; the wide
    array<int> layout remains ``SIM.quantize_int8``'s output (that IS
    the 4×-smaller storage format), this query just posexplodes it."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = SIM.quantize_int8(emb)
    return q.select(
        "vec_id", "scale", F.posexplode("q").alias("pos", "code")
    )


def emb_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING drift monitor — the vector twin of
    `customers_segment_drift`: per label, the L2 distance between the
    old corpus centroid and the new snapshot's (corpus ∪ planted
    perturbed copies, the `_with_planted_dups` fixture), plus the count
    movement. The alarm for a shifted upstream encoder or a skewed
    refresh batch.

    Exactness: per-(label, pos) component means come from DECIMAL-exact
    sums (the `label_centroids` contract) divided once in double;
    squared diffs are cast back to DECIMAL and summed exactly, so the
    distance is partition-order independent and hash-matches.

    Scale: two posexplode partial-agg shuffles of skinny decimal rows
    (labels × dim keys) + a labels-sized join — at 100 TB the old side
    is the already-materialized centroid table, i.e. free."""
    emb = load_table(spark, sf_dir, "embeddings")
    new = _with_planted_dups(emb)

    def per_label_means(df: DataFrame, mean_name: str) -> DataFrame:
        comp = df.select(
            "label", F.posexplode("embedding").alias("pos", "v")
        ).select(
            "label", "pos", F.col("v").cast("decimal(20,10)").alias("vd")
        )
        return comp.groupBy("label", "pos").agg(
            (
                F.sum("vd").cast("double") / F.count("*")
            ).alias(mean_name),
            F.count("*").alias(f"_n_{mean_name}"),
        )

    old_m = per_label_means(emb, "m_old")
    new_m = per_label_means(new, "m_new")
    j = old_m.join(new_m, ["label", "pos"])
    d = F.col("m_new") - F.col("m_old")
    return (
        j.groupBy("label")
        .agg(
            F.max("_n_m_old").alias("n_old"),
            F.max("_n_m_new").alias("n_new"),
            F.round(
                F.sqrt(F.sum((d * d).cast("decimal(28,14)")).cast("double")),
                6,
            ).alias("centroid_l2_drift"),
        )
        .orderBy("label")
    )


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid stats with exact decimal component sums."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.label_centroids(emb)


# -- multimodal -------------------------------------------------------------


def mm_feature_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction (Arrow mapInPandas) rolled up
    per source. Oracle-checked: the payload is the UTF-8 encoding of an
    all-ASCII corpus, so DuckDB reproduces the byte statistics exactly
    from per-char codepoints (byte == codepoint for ASCII); the oracle
    therefore value-gates the whole Pandas pass, not just its shape."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.feature_summary(docs)


def mm_decode_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode round-trip: synthesize a PPM (even ids) or BMP
    (odd ids) payload per doc with md5-derived pixels, decode it with
    the pure-Python codecs (header parse, BMP bottom-up row order +
    4-byte padding), and roll up decoded shape + pixel stats per
    format. Oracle-checked: pixels are ASCII md5 hex bytes, so DuckDB
    recomputes the exact stream (string_agg of md5 blocks → unicode()
    per char) without ever seeing the binary — the decode path is
    value-gated end to end, not shape-checked.

    Scale: two 1:1 Arrow passes + one tiny groupBy(format); at 100 TB
    the encode pass disappears (payloads come from parquet binary) and
    decode remains a single mapInPandas over pruned columns."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synthesize_media(docs)
    feats = MM.decode_features(media)
    per_doc_mean = (F.col("px_sum").cast("double") / (F.col("n_px") * 3)).cast(
        "decimal(20,10)"
    )
    return (
        feats.groupBy("format")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("n_px").cast("long").alias("total_pixels"),
            (F.sum("n_px") * 3).cast("long").alias("total_bytes"),
            F.round(
                F.sum(per_doc_mean).cast("double") / F.count("*"), 4
            ).alias("avg_mean_px"),
            F.max("max_px").alias("max_px"),
            F.min("min_px").alias("min_px"),
        )
        .orderBy("format")
    )


def mm_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pass value-gated: treat each payload as 16-byte
    frames, sample ≤4 evenly-strided frames per doc (the video-demux
    fan-out shape), and aggregate count/bytes/content checksum per
    source frame index. Oracle-checked: payloads are the ASCII corpus
    bytes, so DuckDB recomputes the stride arithmetic AND the exact
    frame byte sums from substr/unicode — a wrong stride, boundary, or
    byte slice breaks the hash, not just the row count."""
    docs = load_table(spark, sf_dir, "documents")
    frames = MM.sample_frames(MM.attach_binary(docs))
    return (
        frames.groupBy("frame_idx")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.sum("byte_sum").cast("long").alias("sum_content"),
        )
        .orderBy("frame_idx")
    )


def docs_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-quality scoring by unigram surprisal: per doc, the mean
    negative log-likelihood of its tokens under the corpus's own
    unigram distribution — the classic cheap perplexity proxy for
    quality filtering (gibberish and boilerplate sit at the two
    extremes). Output: top-20 most surprising docs.

    Scale: ONE token explode feeding both the count shuffle and the
    per-doc join; the unigram table is vocabulary-sized (≤ a few M
    entries at 100 TB) → broadcast side; corpus total N is a 1-row
    broadcast. TakeOrdered top-k, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    total = uni.agg(F.sum("tf").alias("n_total"))
    scored = (
        toks.join(F.broadcast(uni), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                -F.avg(F.log(F.col("tf") / F.col("n_total"))), 4
            ).alias("mean_surprisal"),
        )
    )
    return scored.orderBy(F.desc("mean_surprisal"), "doc_id").limit(20)


LR_ITERS = 4  # full-batch GD steps for the quality classifier
LR_RATE = 4.0
LR_MIN_TOKENS = 50  # the explicit quality rule being distilled
LR_FEATURES = ["x_distinct", "x_len", "x_tokens", "x_markers"]
_EN_MARKERS = ("the", "a", "of", "and", "is")


def _lr_features(docs: DataFrame) -> DataFrame:
    """Quality features as plain double expressions (identical IEEE
    arithmetic in both engines): distinct-token ratio, scaled mean
    token length, scaled token count, stopword-marker density. Label:
    the explicit length-based quality rule (n_tokens ≥ 50) — the
    classifier DISTILLS the rule filter into a smooth linear model
    (the weak-supervision recipe: train on rule labels, serve the
    model where the rule's inputs are unavailable or the margin
    matters). The corpus's `lang` column is deliberately NOT the
    target: it is metadata over one shared vocabulary, unlearnable
    from text by construction."""
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    markers = F.array(*[F.lit(m) for m in _EN_MARKERS])
    return docs.select(
        F.when(n_tok >= LR_MIN_TOKENS, 1).otherwise(0).alias("y"),
        (F.size(F.array_distinct(toks)) / n_tok).alias("x_distinct"),
        ((F.length("text") - n_tok + 1) / n_tok / F.lit(10)).alias("x_len"),
        (n_tok / F.lit(100)).alias("x_tokens"),
        (F.size(F.array_intersect(markers, toks)) / n_tok).alias("x_markers"),
    )


def docs_quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality classification trained IN the engine:
    LR_ITERS full-batch GD steps of logistic regression over the
    quality features (the fastText-classifier role in published
    pretraining recipes), distilling the explicit length rule into a
    smooth model, then a scoring pass — output is the learned weight
    vector + training accuracy, one row (accuracy lands well above
    the majority baseline; pinned in tests). The whole train→score
    pipeline is a single declarative DAG (no driver collect); the
    oracle replays every GD step CTE-for-CTE with the same
    DECIMAL-exact gradient sums."""
    docs = load_table(spark, sf_dir, "documents")
    feats = _lr_features(docs)
    w = MODEL.logistic_train(feats, LR_FEATURES, "y", iters=LR_ITERS, lr=LR_RATE)
    scored = MODEL.logistic_score(feats, w, LR_FEATURES)
    correct = F.when((F.col("z") >= 0) == (F.col("y") == 1), 1).otherwise(0)
    agg = scored.agg(
        F.count("*").alias("n_docs"),
        *[F.first(f"_w_{c}").alias(f"_w_{c}") for c in ["bias", *LR_FEATURES]],
        F.sum(correct).cast("long").alias("_n_correct"),
    )
    return agg.select(
        "n_docs",
        F.round("_w_bias", 6).alias("w_bias"),
        F.round("_w_x_distinct", 6).alias("w_distinct"),
        F.round("_w_x_len", 6).alias("w_len"),
        F.round("_w_x_tokens", 6).alias("w_tokens"),
        F.round("_w_x_markers", 6).alias("w_markers"),
        F.round(F.col("_n_correct") / F.col("n_docs"), 4).alias("accuracy"),
    )


N_BPE_MERGES = 8  # learned merge rounds for the tokenizer-training query


def docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer TRAINING: learn the first 8 BPE merges from the
    corpus (frequency-weighted adjacent-pair counts over the word
    vocabulary, argmax-merge-repeat). The output IS the training
    artifact — the ordered merge table a BPE tokenizer replays at
    encode time.

    Scale: state collapses to the word vocabulary immediately (one
    corpus token explode + groupBy), so the 8 rounds each shuffle
    vocab-sized data only; the per-round argmax is a 1-row bounded
    collect (BPE is inherently sequential in the merge index — same
    class as the Lloyd centroid pick). The oracle replays all 8
    rounds CTE-for-CTE with the identical two-pass padded replace.
    """
    words = _corpus_words(spark, sf_dir)
    return TX.bpe_learn_merges(
        words, N_BPE_MERGES, cache_key=f"{sf_dir}/bpe"
    ).orderBy("merge_round")


def _corpus_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def docs_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer SERVING: encode the corpus with the merges learned by
    :func:`docs_bpe_merges` (session-cached trained state — the same
    build-once/serve-many split as the IVF quantizer) and roll up
    per-source token statistics: BPE unit counts versus whitespace
    word counts (units_per_word is the tokenizer-fertility metric
    pretraining pipelines budget by).

    Scale: encoding factors through the WORD VOCABULARY (merges never
    cross the </w> boundary), so the corpus pass is one explode + a
    broadcast join against the vocab-sized (word → n_units) table —
    no per-document merge replay. The oracle extends the training CTE
    chain with the same join."""
    words = _corpus_words(spark, sf_dir)
    enc = TX.bpe_encoded_vocab(words, N_BPE_MERGES, cache_key=f"{sf_dir}/bpe")
    docs = load_table(spark, sf_dir, "documents")
    doc_words = docs.select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    return (
        doc_words.join(F.broadcast(enc.select("word", "n_units")), "word")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("total_words"),
            F.sum("n_units").cast("long").alias("total_units"),
            F.round(
                F.sum("n_units").cast("long") / F.count("*"), 4
            ).alias("units_per_word"),
        )
        .orderBy("source")
    )


def _bpe_oracle_sql(n_merges: int = N_BPE_MERGES) -> str:
    """Chained-CTE DuckDB replica of bpe_learn_merges: per round,
    pair counts from the previous sequence table, a 1-row argmax CTE
    (count desc, pair asc), and the sequence rewrite cross-joined
    against it — the same two-pass space-padded replace."""
    ctes = [
        """words AS (
        SELECT tok AS word, count(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
    )""",
        """seq0 AS (
        SELECT word, freq,
               trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' </w>' AS seq
        FROM words
    )""",
    ]
    for r in range(1, n_merges + 1):
        ctes.append(f"""p{r} AS (
        SELECT syms[i] AS w1, syms[i + 1] AS w2,
               CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM (SELECT freq, syms,
                     unnest(generate_series(1, len(syms) - 1)) AS i
              FROM (SELECT freq, string_split(seq, ' ') AS syms FROM seq{r - 1}))
        GROUP BY 1, 2
    )""")
        ctes.append(f"""m{r} AS (
        SELECT {r} AS merge_round, w1, w2, w1 || w2 AS merged, pair_count
        FROM p{r} ORDER BY pair_count DESC, w1, w2 LIMIT 1
    )""")
        ctes.append(f"""seq{r} AS (
        SELECT word, freq,
               trim(replace(replace(' ' || seq || ' ',
                                    ' ' || w1 || ' ' || w2 || ' ',
                                    ' ' || w1 || w2 || ' '),
                            ' ' || w1 || ' ' || w2 || ' ',
                            ' ' || w1 || w2 || ' ')) AS seq
        FROM seq{r - 1}, m{r}
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, n_merges + 1))
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT CAST(merge_round AS INT) AS merge_round, w1, w2, merged,"
        f" pair_count FROM ({union}) ORDER BY merge_round"
    )


BIGRAM_LAMBDA = 0.8  # interpolation weight on the bigram term


def docs_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-quality scoring, one order up from unigram: per-doc mean
    surprisal under a Jelinek-Mercer-interpolated bigram model trained
    on the corpus itself — P(w2|w1) = λ·c(w1,w2)/c(w1) + (1-λ)·c(w2)/N.
    Bigram surprisal separates 'rare words' (unigram catches those)
    from 'implausible word ORDER' (shuffled/boilerplate text), the
    standard cheap step toward perplexity filtering. Output: top-20
    most-surprising docs.

    Scale: bigrams come from a pure array expression (transform over
    the token array — no posexplode self-join), so the plan is one
    explode feeding (a) the bigram-count shuffle and (b) the per-doc
    scoring join. Count tables are vocabulary-sized: broadcast here;
    at 100 TB a bigram table can outgrow the driver, in which case the
    joins fall back to shuffle joins on w1/w2 — the plan shape is
    unchanged, it is written as plain equi-joins. TakeOrdered top-k.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("syms"))
    big = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(syms)-2),"
                " i -> struct(syms[i] as w1, syms[i+1] as w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("tf"))
    )
    total = uni.agg(F.sum("tf").cast("long").alias("n_total"))
    bigc = big.groupBy("w1", "w2").agg(F.count("*").alias("bf"))
    lam = F.lit(BIGRAM_LAMBDA)
    c1 = uni.select(F.col("tok").alias("w1"), F.col("tf").alias("c1_tf"))
    c2 = uni.select(F.col("tok").alias("w2"), F.col("tf").alias("c2_tf"))
    p = lam * (F.col("bf") / F.col("c1_tf")) + (F.lit(1.0) - lam) * (
        F.col("c2_tf") / F.col("n_total")
    )
    scored = (
        big.join(F.broadcast(bigc), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(-F.avg(F.log(p)), 4).alias("mean_surprisal"),
        )
    )
    return scored.orderBy(F.desc("mean_surprisal"), "doc_id").limit(20)


PMI_MIN_COUNT = 5  # collocation support floor (kills noise pairs)


def docs_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (phrase detection, the word2vec-phrases
    pass): top-20 adjacent token pairs by pointwise mutual
    information, PMI = ln(c12·N / (c1·c2)), with a support floor of
    5 — the standard corpus-statistics step that decides which token
    pairs a tokenizer/phraser should fuse. Reuses the bigram explode;
    count tables are vocabulary-sized broadcasts; TakeOrdered top-k.
    Determinism: counts are integers, ONE ln over an exact integer
    ratio expression per pair, 4dp round before the ordered cut."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("syms"))
    big = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(syms)-2),"
                " i -> struct(syms[i] as w1, syms[i+1] as w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("tf"))
    )
    total = big.agg(F.count("*").cast("long").alias("n"))  # 1-row broadcast
    bigc = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= PMI_MIN_COUNT)
    )
    c1 = uni.select(F.col("tok").alias("w1"), F.col("tf").alias("c1"))
    c2 = uni.select(F.col("tok").alias("w2"), F.col("tf").alias("c2"))
    pmi = F.round(
        F.log(
            F.col("c12").cast("double")
            * F.col("n")
            / (F.col("c1").cast("double") * F.col("c2"))
        ),
        4,
    )
    scored = (
        bigc.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(20)


def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode round-trip: synthesize a PCM WAV per doc
    (mono/stereo + sample rate by id parity, signed-int16 samples from
    md5 DIGEST bytes — high bytes ≥ 0x80 exercise the sign path),
    decode with the RIFF chunk-walking parser, and roll up exact
    sample statistics per channel layout. The oracle rebuilds each
    digest byte from its two hex chars (strpos arithmetic) and the
    int16 little-endian reassembly in SQL — value-gating the audio
    codec end to end."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synthesize_audio(docs)
    feats = MM.decode_audio_features(media)
    per_doc_mean = (
        F.col("sample_sum").cast("double")
        / (F.col("n_frames") * F.col("channels"))
    ).cast("decimal(20,10)")
    return (
        feats.groupBy("channels")
        .agg(
            F.first("sample_rate").alias("sample_rate"),
            F.count("*").alias("n_clips"),
            F.sum("n_frames").cast("long").alias("total_frames"),
            F.round(
                F.sum(per_doc_mean).cast("double") / F.count("*"), 4
            ).alias("avg_mean_sample"),
            F.max("max_sample").alias("max_sample"),
            F.min("min_sample").alias("min_sample"),
        )
        .orderBy("channels")
    )


def mm_audio_decimate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio transform round-trip — the audio twin of
    `mm_resize_stats`: synthesize WAVs, decimate by 2 (keep even
    frames, halve the rate), decode AGAIN, roll up exact sample stats
    per channel layout. The oracle selects exactly the even-frame
    int16 samples out of the md5 digest stream — a wrong frame
    stride, channel interleave, or re-encode header breaks the hash.
    Exercises decode→transform→encode→decode for the audio codec."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.decimate_audio(MM.synthesize_audio(docs), 2)
    feats = MM.decode_audio_features(media)
    per_doc_mean = (
        F.col("sample_sum").cast("double")
        / (F.col("n_frames") * F.col("channels"))
    ).cast("decimal(20,10)")
    return (
        feats.groupBy("channels")
        .agg(
            F.first("sample_rate").alias("sample_rate"),
            F.count("*").alias("n_clips"),
            F.sum("n_frames").cast("long").alias("total_frames"),
            F.round(
                F.sum(per_doc_mean).cast("double") / F.count("*"), 4
            ).alias("avg_mean_sample"),
            F.max("max_sample").alias("max_sample"),
            F.min("min_sample").alias("min_sample"),
        )
        .orderBy("channels")
    )


def mm_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize round-trip: synthesize PPM/BMP payloads, decode,
    nearest-neighbor resample to 4×4 (integer sample grid:
    src = (r·h//4, c·w//4)), re-encode as PPM, decode AGAIN, and roll
    up the resampled pixel stats per source format. The oracle picks
    the identical sample positions out of the md5 pixel stream in SQL
    — a wrong resample grid, row order, or re-encode breaks the hash.
    Exercises decode→transform→encode→decode, i.e. every codec path
    twice."""
    docs = load_table(spark, sf_dir, "documents")
    resized = MM.resize_image(MM.synthesize_media(docs), 4, 4)
    feats = MM.decode_features(resized)
    src_fmt = F.when(F.col("doc_id") % 2 == 0, F.lit("ppm")).otherwise(F.lit("bmp"))
    per_doc_mean = (F.col("px_sum").cast("double") / (F.col("n_px") * 3)).cast(
        "decimal(20,10)"
    )
    return (
        feats.withColumn("src_format", src_fmt)
        .groupBy("src_format")
        .agg(
            F.count("*").alias("n_images"),
            F.round(
                F.sum(per_doc_mean).cast("double") / F.count("*"), 4
            ).alias("avg_mean_px"),
            F.max("max_px").alias("max_px"),
            F.min("min_px").alias("min_px"),
        )
        .orderBy("src_format")
    )


MIX_ALPHA = 0.7  # mixture temperature (UnifiedQA/PaLM-style T=1/alpha)
MIX_TOKEN_BUDGET = 10_000  # target tokens drawn across the mixture


def docs_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source mixture weighting for pretraining: per source,
    weight ∝ tokens^alpha (temperature-flattened — alpha < 1 upweights
    small sources relative to proportional sampling), normalized, then
    converted to a per-source sampling rate against a token budget
    (capped at 1 — no upsampling without repetition here; the
    hash-Bernoulli sampler consumes these rates). One scan + a
    20-row aggregate; the budget arithmetic is all on the tiny
    per-source frame."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(TX.token_count("text")).cast("long").alias("sum_tokens"),
    )
    w = per.withColumn("_pw", F.pow(F.col("sum_tokens").cast("double"), MIX_ALPHA))
    # normalizer as a global window over the ~|sources|-row aggregate —
    # ONE scan of documents (an agg+crossJoin re-reads the source)
    weight = F.col("_pw") / F.sum("_pw").over(W.partitionBy())
    return (
        w.select(
            "source",
            "n_docs",
            "sum_tokens",
            F.round(weight, 6).alias("mix_weight"),
            F.round(
                F.least(
                    F.lit(1.0),
                    weight * MIX_TOKEN_BUDGET / F.col("sum_tokens"),
                ),
                6,
            ).alias("sample_rate"),
        )
        .orderBy("source")
    )


def docs_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span fraction per doc (ExactSubstr-lite): share of a
    doc's distinct 8-grams appearing in any other document — the
    within-corpus duplication signal that survives doc-level dedup
    (boilerplate, mirrored passages). One exploded-gram pass feeds the
    df count and the per-doc rollup; never doc×doc."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.duplicate_span_stats(docs, n=8)


def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train-split docs sharing any 8-token
    n-gram with the test split (hash_split of doc_id) — the long-n-gram
    overlap check every pre-training pipeline runs before shipping a
    corpus. Scale: inverted-index equi-join against the (small,
    distinct) eval n-gram side; never doc×doc."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.decontaminate(docs, n=8)


def docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc intra-document repetition signals (Gopher-style quality
    cuts): duplicate-2-gram fraction + mode-token share. One Arrow pass
    for the counters, JVM arithmetic for the fractions."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.repetition_features(docs)


PACK_WINDOW = 512  # tokens per packed training sequence


def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style): docs are laid end
    to end in doc_id order within each language shard and sliced into
    fixed 512-token context windows; per doc, the chunk span it lands
    in. Pure window arithmetic over a per-shard running token sum.

    Scale: ONE shuffle+sort on (lang, doc_id). The running sum is per
    language shard — there is no global cumsum barrier, so shards pack
    independently exactly like a 1000-executor run would want. (A
    production pipeline shards finer — e.g. pmod(hash(id), k) within
    lang — same plan shape.)
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    n_tok = TX.token_count("text")
    cum = F.sum(n_tok).over(w)
    start = F.floor((cum - n_tok) / PACK_WINDOW)
    end = F.floor((cum - 1) / PACK_WINDOW)
    return docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        start.alias("start_chunk"),
        end.alias("end_chunk"),
        (end - start + 1).alias("n_chunks"),
    )


def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping chunking of the corpus (64-token chunks,
    stride 48 → 16-token overlap): the retrieval-context preparation
    pass. One row per chunk with a value-verifiable md5 of the chunk
    text (see ``text.chunk_tokens``). ORDER BY is for the driver's
    row-hash only.

    Scale: narrow map + explode, NO shuffle — emits ~n_tokens/48 rows
    straight off the scan; the downstream embed/index stage partitions
    on (doc_id, chunk_idx)."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.chunk_tokens(docs, size=64, stride=48).orderBy("doc_id", "chunk_idx")


#: Weighted-sample size and salt (docs_weighted_sample).
WSAMPLE_K = 20
WSAMPLE_SALT = "ws7"


def docs_stratified_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k-per-stratum sampling (the reservoir complement of the
    Bernoulli `docs_stratified_sample`, which only hits its rate in
    expectation): rank every doc inside its language stratum by a
    deterministic md5 key and keep the k smallest — a uniform exact-k
    draw per group, engine-portable (hex-string comparison, no floats)
    and stable under any repartitioning.

    Scale: ONE shuffle on the stratum key for the rank window over
    (id, hash) — the same exchange any per-group operation pays; no
    per-group reservoir state, no RNG. At 100 TB with a heavy-tailed
    stratum this is the window form; the TakeOrdered-per-group
    rewrite (aggregate min-k heaps) drops even the sort."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("lang", "doc_id", h.alias("h"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 8)
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "rk")
    )


def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-Res): each doc gets key = ln(u)/w with u a deterministic
    md5-derived uniform and w = n_chars; the k largest keys are a
    exact weighted k-sample without replacement. Deterministic (no RNG
    state) and engine-portable: u is exact integer arithmetic; the
    only float ops are one ln and one divide, shared by the oracle.
    The emitted columns are id/weight/rank — the float key itself
    stays internal so last-ulp libm differences can't touch the hash
    (they could reorder only keys within ~1e-15, far below the
    corpus's key spacing).

    Scale: ONE scan, no per-group state, TakeOrdered top-k (per-
    partition heaps + driver merge of k) — the standard way to draw a
    quality-weighted subset from 100 TB without a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    u_int = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(WSAMPLE_SALT), F.col("doc_id").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("double")
    # 13 hex chars = 52 bits — exactly representable in a double; +0.5
    # keeps u strictly inside (0, 1) so ln(u) is finite.
    u = (u_int + 0.5) / float(1 << 52)
    key = F.log(u) / F.col("n_chars").cast("double")
    top = (
        docs.select("doc_id", "n_chars", key.alias("_k"))
        .orderBy(F.desc("_k"), "doc_id")
        .limit(WSAMPLE_K)
    )
    from pyspark.sql import Window as W

    rank = F.row_number().over(W.orderBy(F.desc("_k"), "doc_id"))
    return top.select(
        "doc_id", "n_chars", rank.cast("int").alias("sample_rank")
    ).orderBy("sample_rank")


#: Training-order shuffle: shard count + salt (docs_training_order).
SHUF_SHARDS = 8
SHUF_SALT = "shuf42"


def docs_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic GLOBAL training-data shuffle: every doc gets a
    position in one corpus-wide pseudo-random order (key = md5 of
    salt‖doc_id), realized WITHOUT a global sort barrier — the shard
    id is the key's first hex nibble bucketed into 8 ranges, so
    (shard, key) order IS key order; positions within a shard are a
    per-shard window, and shard offsets come from an 8-row cumulative
    join. global_pos = shard_offset + shard_pos. Emits the first 50
    docs of the epoch ordering (the driver-hashable head); the full
    mapping is the same frame without the limit.

    Scale: this is the distributed total order recipe — range-
    partition on a key prefix, sort within partitions, prefix-sum the
    8 (or 8192) shard counts driver-side/broadcast. No single-reducer
    global window anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(SHUF_SALT), F.col("doc_id").cast("string")))
    # first hex char ∈ [0,16) → 8 equal ranges: monotone prefix bucket
    shard = (F.conv(F.substring(key, 1, 1), 16, 10).cast("int") / 2).cast("int")
    keyed = docs.select("doc_id", key.alias("k"), shard.alias("shard"))
    from pyspark.sql import Window as W

    shard_pos = F.row_number().over(W.partitionBy("shard").orderBy("k"))
    pos = keyed.select("doc_id", "k", "shard", shard_pos.alias("shard_pos"))
    counts = keyed.groupBy("shard").agg(F.count("*").alias("n"))
    offs = counts.select(
        "shard",
        (
            F.sum("n").over(
                W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
            )
        ).alias("off"),
    ).fillna(0, subset=["off"])
    out = pos.join(F.broadcast(offs), "shard").select(
        (F.col("off") + F.col("shard_pos")).cast("long").alias("global_pos"),
        F.col("shard").cast("int").alias("shard"),
        F.col("shard_pos").cast("int").alias("shard_pos"),
        "doc_id",
    )
    return out.orderBy("global_pos").limit(50)


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 tokens by occurrence count with
    document frequency — the vocab-building / stopword-audit pass.
    Scale: classic word-count (explode → partial-agg groupBy, one
    shuffle on token); the top-k is TakeOrdered, not a global sort.
    Deterministic total order: (count desc, token asc)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.tokens("text")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(100)
    )


#: BM25 keyword-search query: fixed mid-frequency terms + the standard
#: Lucene parameters. Terms are scored in THIS order (one column per
#: term, added left-to-right) so the float sum is partition-order
#: independent and hash-matches the oracle.
BM25_TERMS: tuple[str, ...] = ("spark", "join", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
#: WIDE query (r13): 12 mid-frequency terms — above
#: indexfmt.SEEK_LIST_THRESHOLD (8), so the persisted-index serve
#: takes the BATCHED one-listing-per-segment probe branch of the
#: term seeks, putting that branch on the driver's hash gate. All 12
#: terms exist in the corpus vocabulary at every test SF.
BM25_WIDE_TERMS: tuple[str, ...] = (
    "value", "line", "key", "join", "merge", "query",
    "group", "vector", "hash", "filter", "batch", "table",
)


def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword relevance search (Lucene-style idf) over the token
    inverted index: top-20 docs for a fixed 3-term query.

    Scale: ONE scan of the corpus text — doc length and query-term
    matches come from the same materialized narrow projection, so the
    stats / postings / df branches never re-read text; term filtering
    happens inside that scan (array filter), so nothing off-query ever
    shuffles; corpus stats (N, sum dl) are a 1-row broadcast, per-term
    df a |terms|-row broadcast; the final top-k is a TakeOrdered, not a
    global sort. Per-term scores are assembled as fixed-order columns
    (never a float SUM across terms) so results are deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    # ONE scan of the corpus text: doc length + the query-term matches
    # come out of the same projection, materialized narrow (id, int,
    # tiny array) so the stats/postings branches below don't each
    # re-scan 100 TB of text (Catalyst has no cross-branch subplan
    # reuse; this is the fan-out localCheckpoint pattern).
    base = docs.select(
        "doc_id",
        TX.token_count("text").alias("dl"),
        F.filter(TX.tokens("text"), lambda _t: _t.isin(*BM25_TERMS)).alias("_hits"),
    ).localCheckpoint()
    stats = base.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    postings = (
        base.select("doc_id", "dl", F.explode("_hits").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = postings.groupBy("token").agg(F.count("*").alias("df"))
    return _bm25_rank(postings, dfreq, stats)


def _bm25_rank(
    postings: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    terms: tuple[str, ...] = BM25_TERMS,
) -> DataFrame:
    """Shared BM25 serve-side scoring over (doc_id, token, tf, dl)
    postings + |terms|-row df broadcast + 1-row stats broadcast —
    used identically by the in-session search and the persisted-index
    serve so both share one oracle. Per-term scores are fixed-order
    columns (never a float SUM across terms) for determinism; the
    term tuple parameterizes the column set (default = the canonical
    3-term query, `BM25_WIDE_TERMS` for the wide serve)."""
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    # tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)) — parenthesized
    # identically in the oracle SQL so both engines round the same way.
    norm = (
        F.col("tf")
        * F.lit(BM25_K1 + 1)
        / (
            F.col("tf")
            + F.lit(BM25_K1) * (F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl)
        )
    )
    scored = (
        postings.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("_s", idf * norm)
    )
    per = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_terms_matched"),
        *[
            F.coalesce(
                F.sum(F.when(F.col("token") == t, F.col("_s"))), F.lit(0.0)
            ).alias(f"_s{i}")
            for i, t in enumerate(terms)
        ],
    )
    score = F.col("_s0")
    for i in range(1, len(terms)):
        score = score + F.col(f"_s{i}")
    return (
        per.select("doc_id", "n_terms_matched", F.round(score, 4).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


def _bm25_top20_indexed(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    terms: tuple[str, ...] = BM25_TERMS,
) -> DataFrame:
    """The shared SEEK-path BM25 serve (r12 rewire of every persisted
    text-index query): the query terms' postings come through
    `text.seek_text_postings` — direct (term, segment) directory opens
    off the manifest, row-identical to the pruned discovery read
    (test-pinned) WITHOUT Spark's partition discovery listing every
    token directory first (|vocab|-linear driver metadata per query;
    measured 0.9 s vs 0.25 s for identical rows at a mere 310-token
    vocab, r11 lifecycle split) — dfreq/stats straight off the
    manifest (`read_text_index_meta`), scoring the SHARED `_bm25_rank`.
    Result is bit-identical to `docs_bm25_search`, so every caller
    keeps sharing its oracle."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        read_text_index_meta,
        seek_text_postings,
    )

    dfreq, stats = read_text_index_meta(spark, path, version=version)
    return _bm25_rank(
        seek_text_postings(spark, path, list(terms), version=version),
        dfreq.filter(F.col("token").isin(*terms)),
        stats,
        terms=terms,
    )


def docs_bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the PERSISTED inverted text index
    (`text.write_text_index` — token-partitioned postings, atomic
    publication): the keyword-search index lifecycle next to
    `emb_knn_ivf_persisted`'s ANN one. The serve is the SEEK path
    (`_bm25_top20_indexed`): |terms| directory opens per segment off
    the manifest — never a |vocab|-directory discovery pass — df/stats
    ride broadcasts, and the scoring is the shared `_bm25_rank`, so
    the result is bit-identical to `docs_bm25_search` and shares its
    oracle. Serves from the session-shared full-corpus fixture
    (:func:`_persisted_text_path`) — built once per session."""
    docs = load_table(spark, sf_dir, "documents")
    path = _persisted_text_path(spark, sf_dir, docs)
    return _bm25_top20_indexed(spark, path)


def docs_bm25_search_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIDE BM25 serve from the persisted text index: a 12-term query
    (`BM25_WIDE_TERMS`) — above ``indexfmt.SEEK_LIST_THRESHOLD`` — so
    the term seek's BATCHED existence probe fires (ONE segment
    listing instead of 12 serialized per-directory HEADs, r13) and
    that branch sits on the driver's hash gate, not just pytest.
    Everything else is `docs_bm25_from_index`'s plan: seeked
    postings, manifest dfreq/stats broadcasts, the shared
    `_bm25_rank` with one fixed-order score column per term.

    Scale: k=12 directory opens per segment via one LIST each — the
    probe cost is min(k HEADs, 1 LIST) per segment at any query
    width; scoring stays |postings(terms)|-row with 1-row/|terms|-row
    broadcasts and a TakeOrdered top-20."""
    docs = load_table(spark, sf_dir, "documents")
    path = _persisted_text_path(spark, sf_dir, docs)
    return _bm25_top20_indexed(spark, path, terms=BM25_WIDE_TERMS)


#: Deterministic PII-bearing rows unioned into the corpus by
#: docs_pii_redact — the synthetic corpus contains no organic PII, so
#: the scrub pass is exercised on planted rows (same precedent as the
#: planted near-dup embeddings). Mirrored verbatim in the oracle SQL.
_PII_PLANTED: list[tuple[int, str, str, str]] = [
    (
        1000000001,
        "contact alice@example.com or bob.smith+spam@mail.co for details",
        "en",
        "planted",
    ),
    (
        1000000002,
        "call 555-123-4567 or +1 800-555-0100 now",
        "en",
        "planted",
    ),
    (
        1000000003,
        "mixed row carol@web.org phone 212-555-9876 end",
        "en",
        "planted",
    ),
]


def docs_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: email/phone detection counts + md5 fingerprint
    of the redacted text, over the corpus with deterministic planted
    PII rows unioned in; emits only docs containing PII. Pure
    regexp_replace/extract chain — whole-stage codegen, no UDF, linear
    at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    planted = spark.createDataFrame(
        [(i, t, lang, src, len(t)) for (i, t, lang, src) in _PII_PLANTED],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    all_docs = docs.unionByName(planted)
    n_em, n_ph = TX.pii_counts("text")
    return (
        all_docs.select(
            "doc_id",
            n_em.alias("n_emails"),
            n_ph.alias("n_phones"),
            F.md5(TX.redact_pii("text")).alias("redacted_fp"),
        )
        .filter((F.col("n_emails") > 0) | (F.col("n_phones") > 0))
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_SHINGLES = (
    "list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])"
)

_JACCARD_SQL = f"""
    WITH sh AS (
        SELECT doc_id,
               unnest({_SHINGLES}) AS shingle,
               len({_SHINGLES}) AS n_sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS inter,
               any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(inter * 1.0 / (n_a + n_b - inter), 4) AS jaccard
    FROM pairs
    WHERE ROUND(inter * 1.0 / (n_a + n_b - inter), 4) >= 0.5
"""

# Cutoff variant: candidates from the df-filtered index, verification
# over FULL shingle sets — mirrors dedup.jaccard_pairs(max_shingle_df).
_JACCARD_CUTOFF_SQL = f"""
    WITH sh AS (
        SELECT doc_id,
               unnest({_SHINGLES}) AS shingle,
               len({_SHINGLES}) AS n_sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
    kept AS (
        SELECT s.doc_id, s.shingle FROM sh s
        JOIN freq f USING (shingle) WHERE f.df <= {MAX_SHINGLE_DF}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b, count(*) AS inter,
               any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(inter * 1.0 / (n_a + n_b - inter), 4) AS jaccard
    FROM verified
    WHERE ROUND(inter * 1.0 / (n_a + n_b - inter), 4) >= {JACCARD_T}
"""


def _lsh_oracle_sql(dim: int = 64, bits: int = 4, n_tables: int = 12, seed: int = 42) -> str:
    """Generate the emb_knn_lsh oracle: the hyperplane matrix is a
    pure function of (dim, bits, n_tables, seed), so its exact float64
    constants are inlined as a VALUES literal (repr round-trips
    doubles) — no RNG or libm divergence between engines. The oracle
    then mirrors the Spark pipeline: per-(vector, plane) dot products →
    sign bits → per-table bucket ids → bucket equi-join candidates →
    exact cosine rerank. The testdata embeddings are 64-dim (all SFs);
    the Spark query derives dim dynamically and agrees."""
    planes = SIM.hyperplanes(dim, bits * n_tables, seed)
    rows = ",".join(
        f"({i},{j},{w!r})" for i, p in enumerate(planes) for j, w in enumerate(p)
    )
    return f"""
        WITH pl(i, j, w) AS (VALUES {rows}),
        comp AS (
            SELECT vec_id,
                   unnest(embedding::DOUBLE[]) AS v,
                   unnest(range(0, {dim})) AS j
            FROM embeddings
        ),
        dots AS (
            SELECT c.vec_id, p.i, SUM(c.v * p.w) AS d
            FROM comp c JOIN pl p ON c.j = p.j
            GROUP BY 1, 2
        ),
        buckets AS (
            SELECT vec_id, i // {bits} AS tbl,
                   SUM(CASE WHEN d >= 0 THEN (1::BIGINT << (i % {bits}))
                       ELSE 0 END) AS bucket
            FROM dots GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM buckets q
            JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
            WHERE q.vec_id < {N_QUERY_VECS} AND c.vec_id <> q.vec_id
        ),
        base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos_sim
            FROM cand
            JOIN base q ON q.vec_id = cand.query_id
            JOIN base n ON n.vec_id = cand.neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank,
                   cos_sim
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
               ROUND(cos_sim, 4) AS cos_sim
        FROM ranked WHERE rank <= {KNN_K}
    """


LLM_ORACLES: dict[str, str] = {
    "emb_knn_lsh": _lsh_oracle_sql(),
    "docs_text_stats": """
        WITH base AS (
            SELECT lang, count(*) AS n_docs,
                   CAST(SUM(len(text)) AS BIGINT) AS sum_chars,
                   ROUND(SUM(len(text)) * 1.0 / count(*), 4) AS avg_chars,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
            FROM documents GROUP BY 1
        ),
        dt AS (
            SELECT lang, count(DISTINCT tok) AS n_distinct_tokens
            FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
            GROUP BY 1
        )
        SELECT base.*, dt.n_distinct_tokens FROM base JOIN dt USING (lang)
    """,
    "docs_quality": r"""
        SELECT doc_id,
               CAST(len(text) AS INT) AS n_chars,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT)
                   AS n_bpe_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens,
               ROUND(len(list_distinct(string_split(text, ' '))) * 1.0
                     / len(string_split(text, ' ')), 4) AS distinct_ratio,
               ROUND((len(text) - len(string_split(text, ' ')) + 1) * 1.0
                     / len(string_split(text, ' ')), 4) AS mean_token_len
        FROM documents
    """,
    "docs_lang_id": """
        WITH scored AS (
            SELECT lang AS actual_lang,
                   len(list_intersect(string_split(text, ' '),
                       ['the','a','of','and','is'])) AS s_en,
                   len(list_intersect(string_split(text, ' '),
                       ['der','die','und','ist','ein'])) AS s_de,
                   len(list_intersect(string_split(text, ' '),
                       ['le','la','et','est','un'])) AS s_fr,
                   len(list_intersect(string_split(text, ' '),
                       ['el','la','y','es','un'])) AS s_es,
                   len(list_intersect(string_split(text, ' '),
                       ['de5','shi4','he2','zai4','le5'])) AS s_zh
            FROM documents
        ),
        pred AS (
            SELECT actual_lang,
                   CASE
                     WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
                     WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
                     WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
                     WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
                     WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
                     ELSE 'zh'
                   END AS pred_lang
            FROM scored
        )
        SELECT actual_lang, pred_lang, count(*) AS n_docs
        FROM pred GROUP BY 1, 2
    """,
    "docs_fingerprint_minhash": f"""
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
               list_reduce(
                   list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)),
                   (acc, x) -> (acc * 31 + x) % 1000000000000000
               ) AS rolling_fp,
               list_min(list_transform({_SHINGLES}, s -> md5('0|' || s))) AS mh0,
               list_min(list_transform({_SHINGLES}, s -> md5('1|' || s))) AS mh1,
               list_min(list_transform({_SHINGLES}, s -> md5('2|' || s))) AS mh2,
               list_min(list_transform({_SHINGLES}, s -> md5('3|' || s))) AS mh3
        FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    """,
    "docs_exact_dedup": """
        SELECT
          (SELECT count(*) FROM documents) AS n_docs,
          (SELECT count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
             FROM documents) AS n_distinct,
          (SELECT count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
             FROM documents) AS n_kept,
          (SELECT count(*) FROM documents)
            - (SELECT count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
               FROM documents) AS n_dropped
    """,
    "docs_neardup_jaccard": _JACCARD_SQL,
    "docs_neardup_jaccard_cutoff": _JACCARD_CUTOFF_SQL,
    # connected components of the J>=0.5 pair graph: recursive CTE
    # computes each node's minimum reachable label — same fixpoint the
    # Spark min-label propagation converges to.
    "docs_neardup_clusters": f"""
        WITH RECURSIVE sh AS (
            SELECT doc_id,
                   unnest({_SHINGLES}) AS shingle,
                   len({_SHINGLES}) AS n_sh
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        ),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS inter,
                   any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        jp AS (
            SELECT doc_a, doc_b FROM cand
            WHERE ROUND(inter * 1.0 / (n_a + n_b - inter), 4) >= 0.5
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM jp
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM jp
        ),
        reach AS (
            SELECT DISTINCT src AS node, src AS r FROM edges
            UNION
            SELECT e.src AS node, reach.r AS r
            FROM edges e JOIN reach ON e.dst = reach.node
        )
        SELECT node AS doc_id, MIN(r) AS cluster_id
        FROM reach GROUP BY node
    """,
    "docs_train_split": """
        WITH tagged AS (
            SELECT lang,
                   len(string_split(text, ' ')) AS n_toks,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 100 AS bucket
            FROM documents
        )
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               lang,
               count(*) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS sum_tokens
        FROM tagged GROUP BY 1, 2
    """,
    "docs_quality_filter": """
        WITH feats AS (
            SELECT len(string_split(text, ' ')) AS n_tokens,
                   ROUND(len(list_distinct(string_split(text, ' '))) * 1.0
                         / len(string_split(text, ' ')), 4) AS distinct_ratio,
                   ROUND((len(text) - len(string_split(text, ' ')) + 1) * 1.0
                         / len(string_split(text, ' ')), 4) AS mean_token_len
            FROM documents
        )
        SELECT CASE WHEN n_tokens < 5 THEN 'dropped:short'
                    WHEN distinct_ratio < 0.3 THEN 'dropped:repetitive'
                    WHEN mean_token_len > 12.0 THEN 'dropped:gibberish'
                    ELSE 'kept' END AS verdict,
               count(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        FROM feats GROUP BY 1
    """,
    # MinHash-LSH verified output equals the exact result on this corpus
    # (clean J separation; asserted in tests) → same oracle:
    "docs_neardup_minhash": _JACCARD_SQL,
    # 4-chunk pigeonhole banding is EXACT for hamming ≤ 3, so the
    # all-pairs oracle reproduces the banded Spark result identically;
    # the 32-bit hash is the first 8 md5 hex chars → shared by both
    # engines bit-for-bit.
    "docs_neardup_simhash": f"""
        WITH sh AS (
            SELECT doc_id, unnest({_SHINGLES}) AS tok
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        ),
        h AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h
            FROM sh
        ),
        votes AS (
            SELECT doc_id, i,
                   SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS i) bits
            GROUP BY 1, 2
        ),
        sim AS (
            SELECT doc_id,
                   SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS simhash
            FROM votes GROUP BY 1
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    # block → verify replicated exactly: same padded 40-char key, same
    # 4-segment pigeonhole equi-join, same classic-Levenshtein verify.
    "docs_neardup_editdist": """
        WITH k AS (
            SELECT doc_id, rpad(substr(text, 1, 40), 40, ' ') AS key
            FROM documents
        ),
        segs AS (
            SELECT doc_id, key, unnest([0, 1, 2, 3]) AS seg_idx FROM k
        ),
        s2 AS (
            SELECT doc_id, key, seg_idx,
                   substr(key, seg_idx * 10 + 1, 10) AS seg
            FROM segs
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.key AS ka, b.key AS kb
            FROM s2 a
            JOIN s2 b
              ON a.seg_idx = b.seg_idx AND a.seg = b.seg
                 AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, levenshtein(ka, kb) AS dist
        FROM cand
        WHERE levenshtein(ka, kb) <= 3
        ORDER BY doc_a, doc_b
    """,
    # md5-ordered centroid pick → the oracle replicates the IVF
    # quantizer, probes, and exact rerank (all-pairs against 16
    # centroids is fine for an oracle; the Spark path never cross-joins
    # the corpus itself).
    "emb_knn_ivf": """
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        cents AS (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
                   ) - 1 AS cid,
                   v AS cv, nrm AS cn
            FROM base
            ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
            LIMIT 16
        ),
        cell_sims AS (
            SELECT b.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY list_dot_product(b.v, c.cv) / (b.nrm * c.cn) DESC,
                                c.cid ASC
                   ) AS rn
            FROM base b CROSS JOIN cents c
        ),
        assign AS (SELECT vec_id, cid FROM cell_sims WHERE rn = 1),
        probes AS (
            SELECT vec_id AS query_id, cid FROM cell_sims
            WHERE rn <= 8 AND vec_id < 10
        ),
        cand AS (
            SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
            FROM probes p JOIN assign a USING (cid)
            WHERE a.vec_id <> p.query_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos_sim
            FROM cand
            JOIN base q ON q.vec_id = cand.query_id
            JOIN base n ON n.vec_id = cand.neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank,
                   cos_sim
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
               ROUND(cos_sim, 4) AS cos_sim
        FROM ranked WHERE rank <= 5
    """,
    "emb_knn_bruteforce": """
        WITH q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id < 10
        ),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   list_dot_product(q.qv, e.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
                       AS cos_sim
            FROM embeddings e, q
            WHERE e.vec_id <> q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank,
                   cos_sim
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
               ROUND(cos_sim, 4) AS cos_sim
        FROM ranked WHERE rank <= 5
    """,
    "emb_cosine_neardup": """
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        planted AS (
            SELECT vec_id + 1000000 AS vec_id,
                   list_concat([v[1] * 2], v[2:]) AS v
            FROM base WHERE vec_id % 10 = 0
        ),
        allv AS (
            SELECT * FROM base UNION ALL SELECT * FROM planted
        ),
        n AS (
            SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM allv
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9
        ORDER BY 1, 2
    """,
    "emb_quantize_int8": """
        WITH s AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                       AS scale
            FROM embeddings
        ),
        q AS (
            SELECT vec_id, scale,
                   list_transform(v, x -> CAST(
                       CASE WHEN scale = 0 THEN 0
                            ELSE floor(x / scale * 127 + 0.5) END AS INT))
                       AS codes
            FROM s
        )
        SELECT vec_id, scale,
               CAST(unnest(range(0, len(codes))) AS INT) AS pos,
               unnest(codes) AS code
        FROM q
    """,
    # emb_label_drift: per-(label,pos) means from DECIMAL-exact sums,
    # one double divide, squared diffs re-summed in DECIMAL — the same
    # fixed IEEE chain as the Spark side; the planted snapshot reuses
    # the cosine-neardup perturbation CTE.
    "emb_label_drift": """
        WITH base AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        newsnap AS (
            SELECT label, v FROM base
            UNION ALL
            SELECT label, list_concat([v[1] * 2], v[2:]) AS v
            FROM base WHERE vec_id % 10 = 0
        ),
        old_comp AS (
            SELECT label, unnest(range(1, len(v) + 1)) AS pos,
                   CAST(unnest(v) AS DECIMAL(20,10)) AS vd
            FROM base
        ),
        new_comp AS (
            SELECT label, unnest(range(1, len(v) + 1)) AS pos,
                   CAST(unnest(v) AS DECIMAL(20,10)) AS vd
            FROM newsnap
        ),
        old_m AS (
            SELECT label, pos,
                   CAST(SUM(vd) AS DOUBLE) / COUNT(*) AS m_old,
                   COUNT(*) AS n_old
            FROM old_comp GROUP BY 1, 2
        ),
        new_m AS (
            SELECT label, pos,
                   CAST(SUM(vd) AS DOUBLE) / COUNT(*) AS m_new,
                   COUNT(*) AS n_new
            FROM new_comp GROUP BY 1, 2
        )
        SELECT label,
               CAST(MAX(n_old) AS BIGINT) AS n_old,
               CAST(MAX(n_new) AS BIGINT) AS n_new,
               ROUND(sqrt(CAST(SUM(CAST((m_new - m_old) * (m_new - m_old)
                                        AS DECIMAL(28,14))) AS DOUBLE)), 6)
                   AS centroid_l2_drift
        FROM old_m JOIN new_m USING (label, pos)
        GROUP BY label
        ORDER BY label
    """,
    "emb_label_centroids": """
        WITH comp AS (
            SELECT label,
                   unnest(range(1, len(embedding) + 1)) AS pos,
                   CAST(unnest(embedding) AS DECIMAL(20,10)) AS vd
            FROM embeddings
        ),
        per_pos AS (
            SELECT label, pos,
                   CAST(SUM(vd) AS DECIMAL(14,10)) AS s, count(*) AS n
            FROM comp GROUP BY 1, 2
        )
        SELECT label,
               CAST(any_value(n) AS BIGINT) AS n_vecs,
               ROUND(sqrt(CAST(SUM(CAST(s * s AS DECIMAL(38,20))) AS DOUBLE))
                     / any_value(n), 4) AS centroid_norm,
               ROUND(CAST(SUM(s) AS DOUBLE) / (any_value(n) * count(*)), 6)
                   AS mean_component,
               ROUND(CAST(MIN(s) AS DOUBLE) / any_value(n), 6) AS min_component,
               ROUND(CAST(MAX(s) AS DOUBLE) / any_value(n), 6) AS max_component
        FROM per_pos
        GROUP BY label
    """,
}


# --- oracles for the round-3 training-data operators ---

_SPLIT_BUCKET = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"
)

_SHINGLES_8 = (
    "list_distinct([array_to_string(toks[i:i+7], ' ') "
    "for i in range(1, len(toks)-6)])"
)

_PII_VALUES = ", ".join(
    f"({i}, '{t}')" for (i, t, _lang, _src) in _PII_PLANTED
)

LLM_ORACLES.update(
    {
        "docs_decontaminate": f"""
            WITH split AS (
                SELECT doc_id, string_split(text, ' ') AS toks,
                       {_SPLIT_BUCKET} AS bucket
                FROM documents
            ),
            sh AS (
                SELECT doc_id, bucket, unnest({_SHINGLES_8}) AS shingle
                FROM split
            )
            SELECT t.doc_id, count(DISTINCT t.shingle) AS n_shared
            FROM (SELECT doc_id, shingle FROM sh WHERE bucket < 80) t
            JOIN (SELECT DISTINCT shingle FROM sh WHERE bucket >= 90) e
              USING (shingle)
            GROUP BY 1
        """,
        "docs_repetition": """
            WITH tok AS (
                SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ),
            t AS (SELECT doc_id, unnest(toks) AS w FROM tok),
            per_tok AS (
                SELECT doc_id, w, count(*) AS n FROM t GROUP BY 1, 2
            ),
            tstats AS (
                SELECT doc_id, CAST(sum(n) AS INT) AS n_tokens,
                       CAST(max(n) AS INT) AS top_n
                FROM per_tok GROUP BY 1
            ),
            g AS (
                SELECT doc_id,
                       [array_to_string(toks[i:i+1], ' ')
                        for i in range(1, len(toks))] AS gs
                FROM tok
            ),
            gstats AS (
                SELECT doc_id, len(gs) AS n_g, len(list_distinct(gs)) AS n_dg
                FROM g
            )
            SELECT s.doc_id, s.n_tokens,
                   CASE WHEN n_g > 0
                        THEN ROUND(1.0 - n_dg * 1.0 / n_g, 6)
                        ELSE 0.0 END AS dup_2gram_frac,
                   ROUND(top_n * 1.0 / s.n_tokens, 6) AS top_token_frac
            FROM tstats s JOIN gstats USING (doc_id)
        """,
        "docs_pack_sequences": """
            WITH tok AS (
                SELECT doc_id, lang,
                       len(string_split(text, ' ')) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, lang, n_tokens,
                       SUM(n_tokens) OVER (
                           PARTITION BY lang ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS cum
                FROM tok
            )
            SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
                   CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT)
                       AS start_chunk,
                   CAST(FLOOR((cum - 1) / 512.0) AS BIGINT) AS end_chunk,
                   CAST(FLOOR((cum - 1) / 512.0)
                        - FLOOR((cum - n_tokens) / 512.0) + 1 AS BIGINT)
                       AS n_chunks
            FROM c
        """,
        "vocab_top_terms": """
            WITH t AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
            )
            SELECT token, count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs
            FROM t GROUP BY 1
            ORDER BY n_occurrences DESC, token
            LIMIT 100
        """,
        "docs_pii_redact": f"""
            WITH planted(doc_id, text) AS (VALUES {_PII_VALUES}),
            all_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id, text FROM planted
            ),
            scored AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text,
                           '{{EMAIL}}')) AS INT) AS n_emails,
                       CAST(len(regexp_extract_all(text,
                           '{{PHONE}}')) AS INT) AS n_phones,
                       md5(regexp_replace(regexp_replace(text,
                           '{{EMAIL}}', '<EMAIL>', 'g'),
                           '{{PHONE}}', '<PHONE>', 'g')) AS redacted_fp
                FROM all_docs
            )
            SELECT * FROM scored WHERE n_emails > 0 OR n_phones > 0
        """.replace("{EMAIL}", TX.EMAIL_RE).replace("{PHONE}", TX.PHONE_RE),
    }
)


def _bm25_search_sql(terms: tuple[str, ...]) -> str:
    """The BM25 oracle chain parameterized by the term tuple — one
    fixed-order score column per term, mirroring `_bm25_rank`'s
    column assembly exactly (r13: the wide-term serve reuses the
    whole chain with `BM25_WIDE_TERMS`)."""
    terms_in = ", ".join(f"'{t}'" for t in terms)
    cols = ",\n                   ".join(
        f"COALESCE(SUM(sc) FILTER (token = '{t}'), 0.0) AS s{i}"
        for i, t in enumerate(terms)
    )
    score_sum = " + ".join(f"s{i}" for i in range(len(terms)))
    return f"""
    WITH dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
    postings AS (
        SELECT doc_id, token, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        WHERE token IN ({terms_in})
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT token, count(*) AS df FROM postings GROUP BY 1),
    scored AS (
        SELECT p.doc_id, p.token,
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (p.tf * {BM25_K1 + 1!r}
                  / (p.tf + {BM25_K1!r} * ({1 - BM25_B!r}
                     + {BM25_B!r} * l.dl
                       / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS sc
        FROM postings p
        JOIN dfreq d USING (token)
        CROSS JOIN stats s
        JOIN dl l USING (doc_id)
    ),
    agg AS (
        SELECT doc_id, count(*) AS n_terms_matched,
               {cols}
        FROM scored GROUP BY 1
    )
    SELECT doc_id, n_terms_matched, ROUND({score_sum}, 4) AS score
    FROM agg
    ORDER BY score DESC, doc_id
    LIMIT 20
"""


_BM25_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)
_BM25_COLS = ",\n                   ".join(
    f"COALESCE(SUM(sc) FILTER (token = '{t}'), 0.0) AS s{i}"
    for i, t in enumerate(BM25_TERMS)
)
_BM25_SUM = " + ".join(f"s{i}" for i in range(len(BM25_TERMS)))
LLM_ORACLES["docs_bm25_search"] = _bm25_search_sql(BM25_TERMS)

# persisted-index serve is bit-identical to the in-session search
# (shared _bm25_rank scoring) -> same oracle.
LLM_ORACLES["docs_bm25_from_index"] = LLM_ORACLES["docs_bm25_search"]
# the wide serve is the same chain over the 12-term query
LLM_ORACLES["docs_bm25_search_wide"] = _bm25_search_sql(BM25_WIDE_TERMS)



# The multimodal payload is encode(text,'UTF-8') over an all-ASCII
# corpus (asserted in tests), so byte value == unicode codepoint and
# the Arrow mapInPandas byte statistics are exactly reproducible in
# SQL. avg_mean_byte mirrors Spark's DECIMAL(20,10) accumulation of
# per-doc double means, rounding identically.
# Large-star/small-star CC computes the same per-component minimum as
# min-label propagation — identical fixpoint, identical oracle.
LLM_ORACLES["docs_neardup_clusters_lss"] = LLM_ORACLES["docs_neardup_clusters"]

# Two Lloyd iterations as a finite CTE chain: d{t} = decimal-exact
# squared-L2 to the iteration-(t-1) centroids, a{t} = argmin with
# MIN(cid) tie-break, c{t} = member means (exact decimal sum, one
# double division per component). Mirrors kmeans_refine step for step.
_KMEANS_CTES = """
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    comp AS (
        SELECT vec_id, unnest(range(0, len(v))) AS pos, unnest(v) AS x
        FROM base
    ),
    train AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
               ) - 1 AS cid, v
        FROM base
        ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
        LIMIT 16
    ),
    c0 AS (
        SELECT CAST(cid AS INT) AS cid,
               unnest(range(0, len(v))) AS pos, unnest(v) AS y
        FROM train
    ),
    d1 AS (
        SELECT comp.vec_id, c0.cid,
               SUM(CAST((comp.x - c0.y) * (comp.x - c0.y)
                        AS DECIMAL(28,14))) AS d
        FROM comp JOIN c0 USING (pos) GROUP BY 1, 2
    ),
    m1 AS (SELECT vec_id, MIN(d) AS md FROM d1 GROUP BY 1),
    a1 AS (
        SELECT d1.vec_id, MIN(d1.cid) AS cid
        FROM d1 JOIN m1 ON d1.vec_id = m1.vec_id AND d1.d = m1.md
        GROUP BY 1
    ),
    c1 AS (
        SELECT a1.cid, comp.pos,
               CAST(SUM(CAST(comp.x AS DECIMAL(28,14))) AS DOUBLE)
                   / COUNT(*) AS y
        FROM comp JOIN a1 USING (vec_id) GROUP BY 1, 2
    ),
    d2 AS (
        SELECT comp.vec_id, c1.cid,
               SUM(CAST((comp.x - c1.y) * (comp.x - c1.y)
                        AS DECIMAL(28,14))) AS d
        FROM comp JOIN c1 USING (pos) GROUP BY 1, 2
    ),
    m2 AS (SELECT vec_id, MIN(d) AS md FROM d2 GROUP BY 1),
    a2 AS (
        SELECT d2.vec_id, MIN(d2.cid) AS cid
        FROM d2 JOIN m2 ON d2.vec_id = m2.vec_id AND d2.d = m2.md
        GROUP BY 1
    ),
    c2 AS (
        SELECT a2.cid, comp.pos,
               CAST(SUM(CAST(comp.x AS DECIMAL(28,14))) AS DOUBLE)
                   / COUNT(*) AS y
        FROM comp JOIN a2 USING (vec_id) GROUP BY 1, 2
    )
"""

LLM_ORACLES["emb_kmeans_refine"] = _KMEANS_CTES + """
    ,
    nv AS (SELECT cid, count(*) AS n_vecs FROM a2 GROUP BY 1),
    stats AS (
        SELECT cid,
               ROUND(sqrt(CAST(SUM(CAST(y * y AS DECIMAL(28,14)))
                               AS DOUBLE)), 4) AS centroid_norm,
               ROUND(CAST(SUM(CAST(y AS DECIMAL(28,14))) AS DOUBLE)
                     / COUNT(*), 6) AS mean_component
        FROM c2 GROUP BY 1
    )
    SELECT s.cid, nv.n_vecs, s.centroid_norm, s.mean_component
    FROM stats s JOIN nv USING (cid)
    ORDER BY s.cid
"""

# Refined-IVF serving: assignment and probing re-run the same decimal
# squared-L2 kernel against c2 (the shipped quantizer), then exact
# cosine rerank — train→index→probe→rerank replicated end to end.
LLM_ORACLES["emb_knn_ivf_refined"] = _KMEANS_CTES + """
    ,
    d3 AS (
        SELECT comp.vec_id, c2.cid,
               SUM(CAST((comp.x - c2.y) * (comp.x - c2.y)
                        AS DECIMAL(28,14))) AS d
        FROM comp JOIN c2 USING (pos) GROUP BY 1, 2
    ),
    m3 AS (SELECT vec_id, MIN(d) AS md FROM d3 GROUP BY 1),
    a3 AS (
        SELECT d3.vec_id AS neighbor_id, MIN(d3.cid) AS cid
        FROM d3 JOIN m3 ON d3.vec_id = m3.vec_id AND d3.d = m3.md
        GROUP BY 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY d ASC, cid ASC
                   ) AS rn
            FROM d3 WHERE vec_id < 10
        ) WHERE rn <= 4
    ),
    cand AS (
        SELECT DISTINCT p.query_id, a3.neighbor_id
        FROM probes p JOIN a3 USING (cid)
        WHERE a3.neighbor_id <> p.query_id
    ),
    nb AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos_sim
        FROM cand
        JOIN nb q ON q.vec_id = cand.query_id
        JOIN nb n ON n.vec_id = cand.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rank,
               cos_sim
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           ROUND(cos_sim, 4) AS cos_sim
    FROM ranked WHERE rank <= 5
"""

# Mixture weights: pow(x, 0.7) is libm on both engines and the
# normalized ratio is rounded to 6dp — same float stance as surprisal.
LLM_ORACLES["docs_mixture_weights"] = """
    WITH per AS (
        SELECT source, count(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
        FROM documents GROUP BY 1
    ),
    w AS (
        SELECT *, pow(CAST(sum_tokens AS DOUBLE), 0.7) AS pw FROM per
    ),
    tot AS (SELECT SUM(pw) AS s FROM w)
    SELECT source, n_docs, sum_tokens,
           ROUND(pw / s, 6) AS mix_weight,
           ROUND(least(1.0, (pw / s) * 10000 / sum_tokens), 6)
               AS sample_rate
    FROM w, tot
    ORDER BY source
"""

# Duplicate-span fraction: same distinct-8-gram explode as the
# decontamination oracle, df>=2 marks a gram as shared; k*1.0/m is
# the same IEEE double division Spark's long/int division performs.
LLM_ORACLES["docs_duplicate_spans"] = f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES_8}) AS shingle,
               len({_SHINGLES_8}) AS n_sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
    marked AS (
        SELECT sh.doc_id, sh.n_sh,
               CASE WHEN d.df >= 2 THEN 1 ELSE 0 END AS hit
        FROM sh JOIN dfreq d USING (shingle)
    )
    SELECT doc_id,
           CAST(any_value(n_sh) AS INT) AS n_grams,
           CAST(SUM(hit) AS BIGINT) AS n_shared,
           ROUND(SUM(hit) * 1.0 / any_value(n_sh), 4) AS dup_frac
    FROM marked GROUP BY 1
"""

# Shared PQ pipeline CTEs: md5-ordered 32-vector training pick (same
# md5 ordering as the IVF oracle), sliced into 16 × 4-dim
# sub-codebooks;
# per-(vector, subspace, code) squared-L2 distances summed as
# DECIMAL(28,14) — engine-exact, so argmin code assignment and ADC
# ranking (incl. MIN(c) tie-breaks) match Spark bit-for-bit.
_PQ_CTES = """
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    basen AS (
        SELECT vec_id, v,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                   AS nv
        FROM base
    ),
    train AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
               ) - 1 AS c, nv
        FROM basen
        ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
        LIMIT 32
    ),
    cb AS (
        SELECT CAST(least(i // 4, 15) AS INT) AS s, c, i, y
        FROM (
            SELECT c, unnest(range(0, len(nv))) AS i, unnest(nv) AS y
            FROM train
        )
    ),
    comp AS (
        SELECT vec_id, unnest(range(0, len(nv))) AS i,
               unnest(nv) AS x
        FROM basen
    ),
    dists AS (
        SELECT comp.vec_id, cb.s, cb.c,
               SUM(CAST((comp.x - cb.y) * (comp.x - cb.y)
                        AS DECIMAL(28,14))) AS d
        FROM comp JOIN cb USING (i)
        GROUP BY 1, 2, 3
    ),
    mind AS (
        SELECT vec_id, s, MIN(d) AS md FROM dists GROUP BY 1, 2
    ),
    codes AS (
        SELECT dists.vec_id, dists.s, MIN(dists.c) AS code,
               any_value(mind.md) AS qd
        FROM dists
        JOIN mind ON dists.vec_id = mind.vec_id AND dists.s = mind.s
                 AND dists.d = mind.md
        GROUP BY 1, 2
    )
"""

LLM_ORACLES["emb_pq_codes"] = _PQ_CTES + """
    SELECT vec_id, s AS subspace, code,
           CAST(ROUND(qd, 6) AS DOUBLE) AS qdist
    FROM codes
"""

# Composite IVF-PQ: the IVF oracle's cosine cell assignment/probing
# (raw vectors) + the PQ oracle's normalized codebook/codes/LUT, with
# ADC restricted to cell-pruned pairs.
LLM_ORACLES["emb_knn_ivfpq"] = _PQ_CTES + """
    ,
    nb AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base
    ),
    cents AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
               ) - 1 AS cid,
               v AS cv, nrm AS cn
        FROM nb
        ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
        LIMIT 16
    ),
    cell_sims AS (
        SELECT b.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.v, c.cv) / (b.nrm * c.cn) DESC,
                            c.cid ASC
               ) AS rn
        FROM nb b CROSS JOIN cents c
    ),
    assign AS (SELECT vec_id, cid FROM cell_sims WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, cid FROM cell_sims
        WHERE rn <= 8 AND vec_id < 10
    ),
    cellcand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assign a USING (cid)
        WHERE a.vec_id <> p.query_id
    ),
    lut AS (
        SELECT comp.vec_id AS query_id, cb.s, cb.c,
               SUM(CAST((comp.x - cb.y) * (comp.x - cb.y)
                        AS DECIMAL(28,14))) AS d
        FROM comp JOIN cb USING (i)
        WHERE comp.vec_id < 10
        GROUP BY 1, 2, 3
    ),
    adc AS (
        SELECT cc.query_id, cc.neighbor_id, SUM(l.d) AS adc
        FROM cellcand cc
        JOIN codes ON codes.vec_id = cc.neighbor_id
        JOIN lut l ON l.query_id = cc.query_id
                  AND l.s = codes.s AND l.c = codes.code
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY adc ASC, neighbor_id ASC
                   ) AS rn
            FROM adc
        ) WHERE rn <= 40
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos_sim
        FROM cand
        JOIN nb q ON q.vec_id = cand.query_id
        JOIN nb n ON n.vec_id = cand.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rank,
               cos_sim
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           ROUND(cos_sim, 4) AS cos_sim
    FROM ranked WHERE rank <= 5
"""

LLM_ORACLES["emb_knn_pq"] = _PQ_CTES + """
    ,
    lut AS (
        SELECT comp.vec_id AS query_id, cb.s, cb.c,
               SUM(CAST((comp.x - cb.y) * (comp.x - cb.y)
                        AS DECIMAL(28,14))) AS d
        FROM comp JOIN cb USING (i)
        WHERE comp.vec_id < 10
        GROUP BY 1, 2, 3
    ),
    adc AS (
        SELECT l.query_id, codes.vec_id AS neighbor_id, SUM(l.d) AS adc
        FROM codes
        JOIN lut l ON l.s = codes.s AND l.c = codes.code
        WHERE codes.vec_id <> l.query_id
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY adc ASC, neighbor_id ASC
                   ) AS rn
            FROM adc
        ) WHERE rn <= 40
    ),
    nb AS (
        SELECT vec_id,
               v,
               sqrt(list_dot_product(v, v)) AS nrm
        FROM base
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos_sim
        FROM cand
        JOIN nb q ON q.vec_id = cand.query_id
        JOIN nb n ON n.vec_id = cand.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rank,
               cos_sim
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           ROUND(cos_sim, 4) AS cos_sim
    FROM ranked WHERE rank <= 5
"""

# mm_frame_stats: the frame sampler's stride math (total = L//16,
# take = min(4, total), fi = int(j * total/take)) and the exact frame
# byte content are both recomputed in SQL from the ASCII corpus —
# unicode(substr(...)) per in-frame position reproduces the Pandas
# byte slice bit-for-bit.
LLM_ORACLES["mm_frame_stats"] = """
    WITH d AS (
        SELECT doc_id, text, octet_length(encode(text)) AS L,
               greatest(1, octet_length(encode(text)) // 16) AS total
        FROM documents WHERE octet_length(encode(text)) > 0
    ),
    par AS (
        SELECT doc_id, text, L, total, least(4, total) AS take FROM d
    ),
    j AS (
        SELECT doc_id, text, L, total, take,
               unnest(range(take)) AS jj
        FROM par
    ),
    fr AS (
        SELECT doc_id, text, L,
               CAST(floor(jj * (CAST(total AS DOUBLE) / take)) AS INT) AS fi
        FROM j
    ),
    nb AS (
        SELECT doc_id, text, fi, least(16, L - fi * 16) AS nbytes FROM fr
    ),
    pos AS (
        SELECT doc_id, fi, nbytes, text,
               fi * 16 + unnest(range(nbytes)) AS o
        FROM nb
    ),
    bs AS (
        SELECT doc_id, fi, any_value(nbytes) AS nbytes,
               SUM(unicode(substr(text, CAST(o AS INT) + 1, 1))) AS bsum
        FROM pos GROUP BY doc_id, fi
    )
    SELECT fi AS frame_idx,
           count(*) AS n_frames,
           CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
           CAST(SUM(bsum) AS BIGINT) AS sum_content
    FROM bs GROUP BY 1 ORDER BY 1
"""

# docs_unigram_surprisal: ln() is IEEE libm on both engines and the
# per-doc mean is rounded to 4dp before the top-k order (ties broken
# by doc_id), so the float path is deterministic in practice — same
# stance as the other rounded-double oracles.
LLM_ORACLES["docs_unigram_surprisal"] = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    uni AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_total FROM uni),
    scored AS (
        SELECT doc_id, count(*) AS n_tokens,
               ROUND(-AVG(ln(CAST(tf AS DOUBLE) / n_total)), 4)
                   AS mean_surprisal
        FROM toks JOIN uni USING (tok), tot
        GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, mean_surprisal
    FROM scored
    ORDER BY mean_surprisal DESC, doc_id
    LIMIT 20
"""

def _lr_oracle_sql(iters: int = LR_ITERS, lr: float = LR_RATE) -> str:
    """CTE-for-CTE replay of logistic_train + the scoring pass: same
    feature expressions (int/int division → DOUBLE on both engines),
    same left-associated w·x order, libm exp sigmoid, DECIMAL(28,14)
    gradient casts before summing, one double division per weight."""
    marker_list = "[" + ", ".join(f"'{m}'" for m in _EN_MARKERS) + "]"
    sig = (
        "1 / (1 + exp(-(wb + wd * x_distinct + wl * x_len"
        " + wt * x_tokens + wm * x_markers)))"
    )
    ctes = [
        f"""f AS (
        SELECT CASE WHEN len(string_split(text, ' ')) >= {LR_MIN_TOKENS}
                    THEN 1 ELSE 0 END AS y,
               len(list_distinct(string_split(text, ' ')))
                   / len(string_split(text, ' ')) AS x_distinct,
               (length(text) - len(string_split(text, ' ')) + 1)
                   / len(string_split(text, ' ')) / 10 AS x_len,
               len(string_split(text, ' ')) / 100 AS x_tokens,
               len(list_filter({marker_list},
                               m -> list_contains(string_split(text, ' '), m)))
                   / len(string_split(text, ' ')) AS x_markers
        FROM documents
    )""",
        "nn AS (SELECT COUNT(*) AS n FROM f)",
        """w0 AS (
        SELECT CAST(0.0 AS DOUBLE) AS wb, CAST(0.0 AS DOUBLE) AS wd,
               CAST(0.0 AS DOUBLE) AS wl, CAST(0.0 AS DOUBLE) AS wt,
               CAST(0.0 AS DOUBLE) AS wm
    )""",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""g{i} AS (
        SELECT wb, wd, wl, wt, wm,
               SUM(CAST((y - {sig}) AS DECIMAL(28,14))) AS gb,
               SUM(CAST((y - {sig}) * x_distinct AS DECIMAL(28,14))) AS gd,
               SUM(CAST((y - {sig}) * x_len AS DECIMAL(28,14))) AS gl,
               SUM(CAST((y - {sig}) * x_tokens AS DECIMAL(28,14))) AS gt,
               SUM(CAST((y - {sig}) * x_markers AS DECIMAL(28,14))) AS gm
        FROM f, w{i - 1}
        GROUP BY wb, wd, wl, wt, wm
    )""")
        ctes.append(f"""w{i} AS (
        SELECT wb + CAST({lr} AS DOUBLE) * (CAST(gb AS DOUBLE) / n) AS wb,
               wd + CAST({lr} AS DOUBLE) * (CAST(gd AS DOUBLE) / n) AS wd,
               wl + CAST({lr} AS DOUBLE) * (CAST(gl AS DOUBLE) / n) AS wl,
               wt + CAST({lr} AS DOUBLE) * (CAST(gt AS DOUBLE) / n) AS wt,
               wm + CAST({lr} AS DOUBLE) * (CAST(gm AS DOUBLE) / n) AS wm
        FROM g{i}, nn
    )""")
    ctes.append(f"""scored AS (
        SELECT y, wb, wd, wl, wt, wm,
               wb + wd * x_distinct + wl * x_len + wt * x_tokens
                  + wm * x_markers AS z
        FROM f, w{iters}
    )""")
    return (
        "WITH " + ",\n    ".join(ctes)
        + """
    SELECT COUNT(*) AS n_docs,
           ROUND(wb, 6) AS w_bias, ROUND(wd, 6) AS w_distinct,
           ROUND(wl, 6) AS w_len, ROUND(wt, 6) AS w_tokens,
           ROUND(wm, 6) AS w_markers,
           ROUND(CAST(SUM(CASE WHEN (z >= 0) = (y = 1) THEN 1 ELSE 0 END)
                      AS BIGINT) / COUNT(*), 4) AS accuracy
    FROM scored
    GROUP BY wb, wd, wl, wt, wm
"""
    )


LLM_ORACLES["docs_quality_lr"] = _lr_oracle_sql()

# docs_winnow_overlap: the same three-step winnowing (window min →
# rightmost argmin join-back → distinct) CTE-for-CTE; 1-based DuckDB
# list slices mirror the 0-based Spark `slice` grams exactly.
LLM_ORACLES["docs_winnow_overlap"] = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    base AS (
        SELECT doc_id, t, len(t) AS n FROM toks
        WHERE len(t) >= {TX.WINNOW_K + TX.WINNOW_W - 1}
    ),
    idx AS (
        SELECT doc_id, t, n,
               unnest(generate_series(1, n - {TX.WINNOW_K} + 1)) AS i
        FROM base
    ),
    grams AS (
        SELECT doc_id, n - {TX.WINNOW_K} + 1 AS ng, i - 1 AS p,
               ('0x' || substr(md5(
                   array_to_string(t[i:i + {TX.WINNOW_K - 1}], ' ')), 1, 8)
               )::BIGINT AS h
        FROM idx
    ),
    widx AS (
        SELECT doc_id, p, h,
               unnest(generate_series(greatest(0, p - {TX.WINNOW_W} + 1),
                                      least(p, ng - {TX.WINNOW_W}))) AS j
        FROM grams
    ),
    wmin AS (SELECT doc_id, j, MIN(h) AS minh FROM widx GROUP BY 1, 2),
    sel AS (
        SELECT w.doc_id, w.j, MAX(w.p) AS p
        FROM widx w
        JOIN wmin m ON w.doc_id = m.doc_id AND w.j = m.j AND w.h = m.minh
        GROUP BY 1, 2
    ),
    fps AS (
        SELECT DISTINCT s.doc_id, g.h
        FROM sel s JOIN grams g ON g.doc_id = s.doc_id AND g.p = s.p
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
        FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared_fps
    FROM pairs ORDER BY shared_fps DESC, doc_a, doc_b LIMIT 15
"""

# emb_knn_ivf_persisted: same quantizer (seed/k/n_probe) as the
# in-session IVF ⇒ identical cells, candidates, and rerank — the
# persisted path is a storage-layout change, not a semantic one.
LLM_ORACLES["emb_knn_ivf_persisted"] = LLM_ORACLES["emb_knn_ivf"]


def _ivf_wide_probe_sql() -> str:
    """The emb_knn_ivf oracle chain with the probe cut widened to 16
    (r13 — the batched-cell-probe driver gate): only the rn cut
    changes; quantizer, assignment, rerank are byte-identical."""
    sql = LLM_ORACLES["emb_knn_ivf"]
    anchor = "WHERE rn <= 8 AND vec_id < 10"
    assert sql.count(anchor) == 1
    return sql.replace(anchor, "WHERE rn <= 16 AND vec_id < 10")


LLM_ORACLES["emb_knn_ivf_wide_probe"] = _ivf_wide_probe_sql()

# docs_cluster_representatives: the recursive-CTE cluster oracle with
# a member join + per-cluster argmax (n_chars desc, doc_id asc) on top.
_cl = LLM_ORACLES["docs_neardup_clusters"]
_cl_head, _cl_tail = _cl.split("SELECT node AS doc_id", 1)
LLM_ORACLES["docs_cluster_representatives"] = _cl_head + """,
        cl AS (
            SELECT node AS doc_id, MIN(r) AS cluster_id
            FROM reach GROUP BY node
        ),
        mem AS (
            SELECT cl.cluster_id, cl.doc_id, d.n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY cl.cluster_id
                       ORDER BY d.n_chars DESC, cl.doc_id ASC
                   ) AS rn
            FROM cl JOIN documents d USING (doc_id)
        )
        SELECT cluster_id,
               COUNT(*) AS n_members,
               MIN(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc_id,
               MIN(CASE WHEN rn = 1 THEN n_chars END) AS rep_n_chars,
               COUNT(*) - 1 AS n_dropped
        FROM mem GROUP BY cluster_id ORDER BY cluster_id
    """
# docs_leakage_safe_split: same recursive-CTE clusters; split buckets
# on COALESCE(cluster_id, doc_id) exactly like text.hash_split.
LLM_ORACLES["docs_leakage_safe_split"] = _cl_head + """,
        cl AS (
            SELECT node AS doc_id, MIN(r) AS cluster_id
            FROM reach GROUP BY node
        ),
        keyed AS (
            SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS gk
            FROM documents d LEFT JOIN cl USING (doc_id)
        ),
        tagged AS (
            SELECT gk,
                   CAST('0x' || substr(md5(CAST(gk AS VARCHAR)), 1, 8) AS BIGINT)
                       % 100 AS bucket
            FROM keyed
        )
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT gk) AS n_groups
        FROM tagged GROUP BY 1 ORDER BY 1
    """

# docs_cluster_size_distribution: same recursive-CTE clusters; group
# cluster sizes into the dedup-yield histogram.
LLM_ORACLES["docs_cluster_size_distribution"] = _cl_head + """,
        cl AS (
            SELECT node AS doc_id, MIN(r) AS cluster_id
            FROM reach GROUP BY node
        ),
        sizes AS (
            SELECT cluster_id, COUNT(*) AS cluster_size
            FROM cl GROUP BY cluster_id
        )
        SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
               COUNT(*) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
               CAST(SUM(cluster_size) - COUNT(*) AS BIGINT) AS n_droppable
        FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """
del _cl, _cl_head, _cl_tail

# emb_decontaminate: planted corpus + all-pairs vs the 50-vector eval
# set (small side — the oracle mirrors the broadcast-exact plan), id
# output only (0.9428-vs-0.51 analytic margin).
LLM_ORACLES["emb_decontaminate"] = f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    planted AS (
        SELECT vec_id + 1000000 AS vec_id,
               list_concat([v[1] * 2], v[2:]) AS v
        FROM base WHERE vec_id % 10 = 0
    ),
    allv AS (
        SELECT vec_id, v FROM base UNION ALL SELECT vec_id, v FROM planted
    ),
    ev AS (
        SELECT vec_id AS eval_id, v,
               sqrt(list_dot_product(v, v)) AS nrm
        FROM base WHERE vec_id < {SEM_DECON_EVAL}
    ),
    tr AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        FROM allv WHERE vec_id >= {SEM_DECON_EVAL}
    ),
    hits AS (
        SELECT tr.vec_id, ev.eval_id
        FROM tr, ev
        WHERE list_dot_product(tr.v, ev.v) / (tr.nrm * ev.nrm)
              >= {SEM_DECON_T}
    )
    SELECT vec_id, MIN(eval_id) AS closest_eval, COUNT(*) AS n_matches
    FROM hits GROUP BY vec_id ORDER BY vec_id
"""

# docs_collocations: integer counts, one ln per surviving pair over
# the identical (c12·N)/(c1·c2) double expression, 4dp round.
LLM_ORACLES["docs_collocations"] = f"""
    WITH toks AS (SELECT string_split(text, ' ') AS syms FROM documents),
    idx AS (
        SELECT syms, unnest(generate_series(1, len(syms) - 1)) AS i FROM toks
    ),
    big AS (SELECT syms[i] AS w1, syms[i + 1] AS w2 FROM idx),
    uni AS (
        SELECT tok, count(*) AS tf
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM big),
    bigc AS (
        SELECT w1, w2, count(*) AS c12 FROM big
        GROUP BY 1, 2 HAVING count(*) >= {PMI_MIN_COUNT}
    ),
    scored AS (
        SELECT w1, w2, c12,
               ROUND(ln(CAST(c12 AS DOUBLE) * n
                        / (CAST(c1.tf AS DOUBLE) * c2.tf)), 4) AS pmi
        FROM bigc
        JOIN uni c1 ON bigc.w1 = c1.tok
        JOIN uni c2 ON bigc.w2 = c2.tok, tot
    )
    SELECT w1, w2, c12, pmi FROM scored
    ORDER BY pmi DESC, w1, w2 LIMIT 20
"""

LLM_ORACLES["docs_bpe_merges"] = _bpe_oracle_sql()

# docs_bpe_encode: the training chain's final seq table, joined back
# to the exploded corpus — unit counts per word, aggregated per source.
LLM_ORACLES["docs_bpe_encode"] = (
    _bpe_oracle_sql().split("SELECT CAST(merge_round")[0]
    + f""",
    enc AS (
        SELECT word, len(string_split(seq, ' ')) AS n_units
        FROM seq{N_BPE_MERGES}
    ),
    dw AS (
        SELECT source, doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS total_words,
           CAST(SUM(n_units) AS BIGINT) AS total_units,
           ROUND(CAST(SUM(n_units) AS BIGINT) / COUNT(*), 4) AS units_per_word
    FROM dw JOIN enc USING (word)
    GROUP BY source
    ORDER BY source
"""
)

# emb_semdedup: SCALE-AWARE replay of the sampled-quantizer kernel
# (round-7 rewrite — the old fixed-16 Lloyd oracle was only valid for
# n ≤ 1024 and rows-mismatched at the sf0.1 sweep): k = max(16, n//64)
# is computed IN SQL from the planted corpus, the k centroids are the
# md5-ordered raw-corpus sample (the emb_knn_ivf pick, verbatim), and
# assignment is argmax cosine with the (sim DESC, cid ASC) tie-break
# the Arrow matmul's argsort produces. Pair membership at cos ≥ 0.9
# has the analytic planted-dup margin (≥ 0.9428 vs ≤ ~0.51 natural),
# so no float column is output and summation-order ulps cannot flip a
# pair — only a cell assignment, and only at a true cosine near-tie
# (none at any tested SF; the emb_knn_ivf oracle banks on the same
# argmax equality corpus-wide at sf0.1).
LLM_ORACLES["emb_semdedup"] = """
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    planted AS (
        SELECT vec_id + 1000000 AS vec_id,
               list_concat([v[1] * 2], v[2:]) AS v
        FROM base WHERE vec_id % 10 = 0
    ),
    allv AS (
        SELECT vec_id, v FROM base UNION ALL SELECT vec_id, v FROM planted
    ),
    kk AS (SELECT GREATEST(16, COUNT(*) // 64) AS k FROM allv),
    cents AS (
        SELECT * FROM (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
                   ) - 1 AS cid,
                   v AS cv,
                   sqrt(list_dot_product(v, v)) AS cn
            FROM base
        ) WHERE cid < (SELECT k FROM kk)
    ),
    nall AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM allv
    ),
    asd AS (
        SELECT vec_id, cid FROM (
            SELECT a.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.v, c.cv) / (a.nrm * c.cn)
                                DESC,
                                c.cid ASC
                   ) AS rn
            FROM nall a CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    hits AS (
        SELECT sb.vec_id AS vec_id, sb.cid AS cid, sa.vec_id AS other
        FROM asd sa
        JOIN asd sb ON sa.cid = sb.cid AND sa.vec_id < sb.vec_id
        JOIN nall na ON na.vec_id = sa.vec_id
        JOIN nall nb ON nb.vec_id = sb.vec_id
        WHERE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) >= 0.9
    )
    SELECT vec_id, cid, MIN(other) AS first_match, COUNT(*) AS n_matches
    FROM hits GROUP BY 1, 2 ORDER BY vec_id
"""

# docs_bigram_surprisal: same determinism stance as unigram (IEEE ln +
# 4dp round before the ordered top-k). The interpolation arithmetic is
# written with the identical op order on both sides, all terms DOUBLE
# (0.8 would otherwise be DECIMAL in DuckDB), and DuckDB's `/` on
# BIGINTs already yields DOUBLE like Spark's.
LLM_ORACLES["docs_bigram_surprisal"] = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS syms FROM documents
    ),
    flat AS (SELECT doc_id, unnest(syms) AS tok FROM toks),
    uni AS (SELECT tok, count(*) AS tf FROM flat GROUP BY tok),
    tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_total FROM uni),
    idx AS (
        SELECT doc_id, syms,
               unnest(generate_series(1, len(syms) - 1)) AS i
        FROM toks
    ),
    big AS (SELECT doc_id, syms[i] AS w1, syms[i + 1] AS w2 FROM idx),
    bigc AS (SELECT w1, w2, count(*) AS bf FROM big GROUP BY w1, w2),
    scored AS (
        SELECT doc_id, count(*) AS n_bigrams,
               ROUND(-AVG(ln(
                   {BIGRAM_LAMBDA}::DOUBLE * (bf / c1.tf)
                   + {1.0 - BIGRAM_LAMBDA}::DOUBLE * (c2.tf / n_total)
               )), 4) AS mean_surprisal
        FROM big
        JOIN bigc USING (w1, w2)
        JOIN uni c1 ON big.w1 = c1.tok
        JOIN uni c2 ON big.w2 = c2.tok, tot
        GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, mean_surprisal
    FROM scored
    ORDER BY mean_surprisal DESC, doc_id
    LIMIT 20
"""

# mm_decode_image_stats: the synthetic pixel stream is the ASCII bytes
# of md5("{doc_id}:{block}") hex blocks (32 chars each) truncated to
# w*h*3; dims/format are pure functions of doc_id (synth_dims). The
# oracle rebuilds the identical stream in SQL and aggregates the same
# integer pixel stats the Spark decode pass extracts from the decoded
# raster — so a codec bug (row order, padding, BGR swap dropping/
# duplicating bytes, header off-by-one) breaks the hash match.
LLM_ORACLES["mm_decode_image_stats"] = """
    WITH need AS (
        SELECT doc_id,
               4 + doc_id % 5 AS w,
               4 + doc_id % 3 AS h,
               CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
               (4 + doc_id % 5) * (4 + doc_id % 3) * 3 AS n
        FROM documents
    ),
    blk AS (
        SELECT doc_id, unnest(range(CAST(CEIL(n / 32.0) AS BIGINT))) AS b
        FROM need
    ),
    stream AS (
        SELECT n.doc_id,
               any_value(n.w) AS w, any_value(n.h) AS h,
               any_value(n.fmt) AS fmt,
               substr(string_agg(md5(n.doc_id || ':' || blk.b), ''
                                 ORDER BY blk.b),
                      1, any_value(n.n)) AS s
        FROM need n JOIN blk USING (doc_id)
        GROUP BY n.doc_id
    ),
    px AS (
        SELECT doc_id, unicode(unnest(string_split(s, ''))) AS px
        FROM stream
    ),
    perdoc AS (
        SELECT p.doc_id,
               any_value(s.fmt) AS fmt,
               any_value(s.w * s.h) AS n_px,
               count(*) AS nb,
               SUM(p.px) AS psum,
               MAX(p.px) AS pmax,
               MIN(p.px) AS pmin
        FROM px p JOIN stream s USING (doc_id)
        GROUP BY p.doc_id
    )
    SELECT fmt AS format,
           count(*) AS n_images,
           CAST(SUM(n_px) AS BIGINT) AS total_pixels,
           CAST(SUM(nb) AS BIGINT) AS total_bytes,
           ROUND(CAST(SUM(CAST(CAST(psum AS DOUBLE) / nb
                                AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 4) AS avg_mean_px,
           MAX(pmax) AS max_px,
           MIN(pmin) AS min_px
    FROM perdoc
    GROUP BY 1
    ORDER BY 1
"""

# mm_audio_stats: sample bytes are md5 DIGESTS (raw 0..255), so the
# oracle parses each byte from its two hex chars (strpos arithmetic),
# reassembles little-endian int16 (lo + 256·hi, two's complement via
# raw≥32768 → raw−65536), and aggregates the same exact integer stats
# the WAV decoder extracts.
LLM_ORACLES["mm_audio_stats"] = """
    WITH dims AS (
        SELECT doc_id,
               1 + doc_id % 2 AS ch,
               8000 * (1 + doc_id % 2) AS rate,
               20 + doc_id % 13 AS frames,
               (1 + doc_id % 2) * (20 + doc_id % 13) * 2 AS nbytes
        FROM documents
    ),
    blk AS (
        SELECT doc_id,
               unnest(range(CAST(CEIL(nbytes / 16.0) AS BIGINT))) AS b
        FROM dims
    ),
    hexs AS (
        SELECT doc_id, b, md5(doc_id || ':' || b) AS hx FROM blk
    ),
    bytes AS (
        SELECT h.doc_id, 16 * h.b + j.j AS idx,
               (strpos('0123456789abcdef',
                       substr(h.hx, CAST(2 * j.j + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(h.hx, CAST(2 * j.j + 2 AS INT), 1)) - 1)
                   AS bv
        FROM hexs h, (SELECT unnest(range(16)) AS j) j
    ),
    samp AS (
        SELECT lo.doc_id, lo.bv + 256 * hi.bv AS raw
        FROM bytes lo
        JOIN bytes hi ON lo.doc_id = hi.doc_id AND hi.idx = lo.idx + 1
        JOIN dims d ON d.doc_id = lo.doc_id
        WHERE lo.idx % 2 = 0 AND lo.idx < d.nbytes
    ),
    sval AS (
        SELECT doc_id,
               CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
        FROM samp
    ),
    perdoc AS (
        SELECT s.doc_id,
               any_value(d.ch) AS ch, any_value(d.rate) AS rate,
               any_value(d.frames) AS frames,
               count(*) AS ns, SUM(v) AS sv, MAX(v) AS mx, MIN(v) AS mn
        FROM sval s JOIN dims d USING (doc_id)
        GROUP BY 1
    )
    SELECT CAST(ch AS INT) AS channels,
           CAST(any_value(rate) AS INT) AS sample_rate,
           count(*) AS n_clips,
           CAST(SUM(frames) AS BIGINT) AS total_frames,
           ROUND(CAST(SUM(CAST(CAST(sv AS DOUBLE) / ns
                                AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 4) AS avg_mean_sample,
           MAX(mx) AS max_sample,
           MIN(mn) AS min_sample
    FROM perdoc
    GROUP BY ch
    ORDER BY channels
"""

# mm_audio_decimate_stats: the mm_audio_stats stream selection with
# the even-frame filter (frame = byte_idx//2//ch), kept-frame counts,
# and the halved rate — value-gating the decimate→encode→decode chain.
LLM_ORACLES["mm_audio_decimate_stats"] = """
    WITH dims AS (
        SELECT doc_id,
               1 + doc_id % 2 AS ch,
               8000 * (1 + doc_id % 2) AS rate,
               20 + doc_id % 13 AS frames,
               (20 + doc_id % 13 + 1) // 2 AS kept,
               (1 + doc_id % 2) * (20 + doc_id % 13) * 2 AS nbytes
        FROM documents
    ),
    blk AS (
        SELECT doc_id,
               unnest(range(CAST(CEIL(nbytes / 16.0) AS BIGINT))) AS b
        FROM dims
    ),
    hexs AS (
        SELECT doc_id, b, md5(doc_id || ':' || b) AS hx FROM blk
    ),
    bytes AS (
        SELECT h.doc_id, 16 * h.b + j.j AS idx,
               (strpos('0123456789abcdef',
                       substr(h.hx, CAST(2 * j.j + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(h.hx, CAST(2 * j.j + 2 AS INT), 1)) - 1)
                   AS bv
        FROM hexs h, (SELECT unnest(range(16)) AS j) j
    ),
    samp AS (
        SELECT lo.doc_id, lo.bv + 256 * hi.bv AS raw
        FROM bytes lo
        JOIN bytes hi ON lo.doc_id = hi.doc_id AND hi.idx = lo.idx + 1
        JOIN dims d ON d.doc_id = lo.doc_id
        WHERE lo.idx % 2 = 0 AND lo.idx < d.nbytes
          AND ((lo.idx // 2) // d.ch) % 2 = 0
    ),
    sval AS (
        SELECT doc_id,
               CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
        FROM samp
    ),
    perdoc AS (
        SELECT s.doc_id,
               any_value(d.ch) AS ch, any_value(d.rate) AS rate,
               any_value(d.kept) AS kept,
               count(*) AS ns, SUM(v) AS sv, MAX(v) AS mx, MIN(v) AS mn
        FROM sval s JOIN dims d USING (doc_id)
        GROUP BY 1
    )
    SELECT CAST(ch AS INT) AS channels,
           CAST(any_value(rate) // 2 AS INT) AS sample_rate,
           count(*) AS n_clips,
           CAST(SUM(kept) AS BIGINT) AS total_frames,
           ROUND(CAST(SUM(CAST(CAST(sv AS DOUBLE) / ns
                                AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 4) AS avg_mean_sample,
           MAX(mx) AS max_sample,
           MIN(mn) AS min_sample
    FROM perdoc
    GROUP BY ch
    ORDER BY channels
"""

# mm_resize_stats: the 4×4 nearest-neighbor grid is integer-exact —
# output pixel (r,c,ch) samples stream char ((r·h//4)·w + c·w//4)·3
# + ch + 1 — so the oracle reads the same md5-hex bytes the resized
# raster carries after the decode→resize→encode→decode round-trip.
LLM_ORACLES["mm_resize_stats"] = """
    WITH need AS (
        SELECT doc_id,
               4 + doc_id % 5 AS w,
               4 + doc_id % 3 AS h,
               CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
               (4 + doc_id % 5) * (4 + doc_id % 3) * 3 AS n
        FROM documents
    ),
    blk AS (
        SELECT doc_id, unnest(range(CAST(CEIL(n / 32.0) AS BIGINT))) AS b
        FROM need
    ),
    stream AS (
        SELECT n.doc_id,
               any_value(n.w) AS w, any_value(n.h) AS h,
               any_value(n.fmt) AS fmt,
               substr(string_agg(md5(n.doc_id || ':' || blk.b), ''
                                 ORDER BY blk.b),
                      1, any_value(n.n)) AS s
        FROM need n JOIN blk USING (doc_id)
        GROUP BY n.doc_id
    ),
    rc AS (SELECT *, unnest(range(4)) AS r FROM stream),
    rcc AS (SELECT *, unnest(range(4)) AS c FROM rc),
    pix AS (SELECT *, unnest(range(3)) AS ch FROM rcc),
    val AS (
        SELECT doc_id, fmt,
               unicode(substr(s,
                   CAST(((r * h // 4) * w + (c * w // 4)) * 3 + ch + 1
                        AS INT), 1)) AS px
        FROM pix
    ),
    perdoc AS (
        SELECT doc_id, any_value(fmt) AS fmt, count(*) AS nb,
               SUM(px) AS psum, MAX(px) AS pmax, MIN(px) AS pmin
        FROM val GROUP BY 1
    )
    SELECT fmt AS src_format,
           count(*) AS n_images,
           ROUND(CAST(SUM(CAST(CAST(psum AS DOUBLE) / nb
                                AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 4) AS avg_mean_px,
           MAX(pmax) AS max_px,
           MIN(pmin) AS min_px
    FROM perdoc
    GROUP BY 1
    ORDER BY 1
"""

LLM_ORACLES["mm_feature_summary"] = """
    WITH ch AS (
        SELECT doc_id, unicode(unnest(string_split(text, ''))) AS cp
        FROM documents
    ),
    feats AS (
        SELECT doc_id, count(*) AS n_bytes, SUM(cp) AS bsum,
               MAX(cp) AS max_cp
        FROM ch GROUP BY 1
    ),
    meta AS (
        SELECT doc_id, source, octet_length(encode(text)) AS meta_bytes
        FROM documents
    )
    SELECT m.source,
           count(*) AS n_items,
           CAST(SUM(f.n_bytes) AS BIGINT) AS total_bytes,
           ROUND(CAST(SUM(CAST(CAST(f.bsum AS DOUBLE) / f.n_bytes
                                AS DECIMAL(20,10))) AS DOUBLE)
                 / count(*), 4) AS avg_mean_byte,
           MAX(f.max_cp) AS max_byte,
           CAST(SUM(CASE WHEN f.n_bytes <> m.meta_bytes THEN 1 ELSE 0 END)
                AS BIGINT) AS n_meta_mismatch
    FROM meta m JOIN feats f USING (doc_id)
    GROUP BY 1
    ORDER BY 1
"""


#: Per-language keep rates for the mixture-rebalancing sample: cap the
#: dominant language, keep the tail intact (the standard fix for a
#: web-crawl corpus drowning low-resource languages).
SAMPLE_RATES: dict[str, float] = {"en": 0.3}


def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (per-language) downsampling via
    hash-Bernoulli on doc_id — mixture rebalancing as a pure function
    of the id (reproducible across reruns/partitionings/engines, unlike
    ``df.sample``). Summary per language: corpus vs kept doc/token
    counts. Scale: narrow projection + one groupBy — the keep predicate
    rides the scan."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(1.0)
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    keep = TX.hash_bernoulli("doc_id", rate=rate, salt="samp")
    n_tok = TX.token_count("text")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(keep.cast("int")).alias("n_kept"),
        F.sum(n_tok).alias("sum_tokens"),
        F.sum(F.when(keep, n_tok).otherwise(F.lit(0))).alias("kept_tokens"),
    )


LLM_ORACLES.update(
    {
        "docs_stratified_exact_k": """
            WITH keyed AS (
                SELECT lang, doc_id,
                       md5('strat:' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents
            ),
            rk AS (
                SELECT lang, doc_id,
                       row_number() OVER (
                           PARTITION BY lang ORDER BY h, doc_id
                       ) AS rk
                FROM keyed
            )
            SELECT lang, doc_id, CAST(rk AS INT) AS rk
            FROM rk WHERE rk <= 8
            ORDER BY lang, rk
        """,
        "docs_stratified_sample": """
            WITH scored AS (
                SELECT lang,
                       len(string_split(text, ' ')) AS n_tok,
                       CAST('0x' || substr(md5('samp|' ||
                           CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                           AS bucket
                FROM documents
            ),
            flagged AS (
                SELECT lang, n_tok,
                       CASE WHEN bucket < CAST(
                                (CASE WHEN lang = 'en' THEN 0.3
                                      ELSE 1.0 END) * 65536 AS BIGINT)
                            THEN 1 ELSE 0 END AS keep
                FROM scored
            )
            SELECT lang,
                   count(*) AS n_docs,
                   CAST(SUM(keep) AS BIGINT) AS n_kept,
                   CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
                   CAST(SUM(CASE WHEN keep = 1 THEN n_tok ELSE 0 END)
                        AS BIGINT) AS kept_tokens
            FROM flagged GROUP BY 1
        """,
    }
)


def emb_dim_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction (64 → 8, JL): exact
    DECIMAL component sums make the projected components engine-
    portable; the oracle inlines the same plane constants (repr
    round-trips doubles — the `_lsh_oracle_sql` pattern)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.random_projection(emb, out_dim=8, seed=7, dim=64)


def _projection_oracle_sql(dim: int = 64, out_dim: int = 8, seed: int = 7) -> str:
    planes = SIM.hyperplanes(dim, out_dim, seed)
    rows = ",".join(
        f"({j},{i},{planes[j][i]!r})" for j in range(out_dim) for i in range(dim)
    )
    return f"""
        WITH planes(out_pos, i, p) AS (VALUES {rows}),
        comp AS (
            SELECT vec_id,
                   unnest(range(0, len(embedding))) AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        )
        SELECT c.vec_id, pl.out_pos,
               CAST(ROUND(SUM(CAST(c.v * pl.p AS DECIMAL(28,14))), 6)
                    AS DOUBLE) AS component
        FROM comp c JOIN planes pl ON c.i = pl.i
        GROUP BY 1, 2
    """


LLM_ORACLES["emb_dim_reduce"] = _projection_oracle_sql()

# docs_chunk_overlap: the oracle replays the chunking contract —
# starts 0,48,96,… < n_tok, 64-token slices (clamped at the tail),
# md5 of the space-joined chunk.
LLM_ORACLES["docs_chunk_overlap"] = """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    b AS (
        SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
    ),
    s AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, n - 1, 48)) AS start
        FROM b
    )
    SELECT doc_id,
           CAST(start // 48 AS INT) AS chunk_idx,
           CAST(start AS INT) AS start_tok,
           CAST(len(list_slice(toks, start + 1, start + 64)) AS INT) AS n_tok,
           md5(array_to_string(list_slice(toks, start + 1, start + 64), ' '))
               AS chunk_hash
    FROM s
    ORDER BY doc_id, chunk_idx
"""

# docs_weighted_sample: identical A-Res keys — u from the same 52-bit
# md5 prefix (+0.5, /2^52), the same single ln and divide. The float
# key stays internal on both sides; only id/weight/rank are hashed.
LLM_ORACLES["docs_weighted_sample"] = """
    WITH keyed AS (
        SELECT doc_id, n_chars,
               ln((CAST(('0x' || substr(md5('ws7' || CAST(doc_id AS VARCHAR)),
                                        1, 13))::BIGINT AS DOUBLE) + 0.5)
                  / 4503599627370496.0)
                   / CAST(n_chars AS DOUBLE) AS k
        FROM documents
    )
    SELECT doc_id, n_chars,
           CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS INT)
               AS sample_rank
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT 20
"""

# docs_training_order: a plain global row_number over the md5 key —
# equality with the engine's shard-offset + within-shard composition
# PROVES the sharded realization reconstructs the exact total order.
LLM_ORACLES["docs_training_order"] = """
    WITH h AS (
        SELECT doc_id,
               md5('shuf42' || CAST(doc_id AS VARCHAR)) AS k
        FROM documents
    ),
    g AS (
        SELECT doc_id, k,
               CAST(('0x' || substr(k, 1, 1))::BIGINT // 2 AS INT) AS shard,
               row_number() OVER (ORDER BY k) AS global_pos
        FROM h
    )
    SELECT CAST(global_pos AS BIGINT) AS global_pos,
           shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY k) AS INT)
               AS shard_pos,
           doc_id
    FROM g
    ORDER BY global_pos
    LIMIT 50
"""


# ---------------------------------------------------------------------------
# Corpus-comparison passes (round 5): what does each SOURCE contribute
# to the training mixture — its distinctive vocabulary and its n-gram
# overlap with every other source. Both are the mixture-debugging /
# cross-source-contamination triage a large-corpus curation pipeline
# runs before setting mixture weights.
# ---------------------------------------------------------------------------

DISTINCTIVE_TOP_K = 5
DISTINCTIVE_MIN_COUNT = 5
OVERLAP_SHINGLE_K = 5


def docs_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary via the smoothed log-odds
    z-score (the "fightin' words" corpus-comparison statistic, Monroe
    et al. 2008): for each term, the log odds of its rate in one source
    vs the REST of the corpus (+0.5 smoothing in every cell), divided
    by the delta's approximate standard error
    sqrt(1/(y_sw+0.5) + 1/(y_rest+0.5)). Top-5 terms per source with an
    in-source support floor of 5.

    Scale: ONE token explode; the (source × vocab) counts are a
    partial-agg shuffle; per-source totals, the vocab margin table,
    and the 1-row corpus total are broadcasts; the group-wise cut is a
    per-source window. Determinism/portability: z is rounded to 4dp
    BEFORE ranking with a term tie-break (the collocations pattern),
    so the cut is identical in both engines."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    # ONE corpus explode: the (source × vocab) count table is pinned and
    # every margin (per-source totals, vocab margins, corpus total)
    # aggregates IT — without the checkpoint each margin's lineage
    # re-scans and re-explodes the corpus (4 full passes at 100 TB).
    ysw = (
        tok.groupBy("source", "tok")
        .agg(F.count("*").alias("y_sw"))
        .localCheckpoint()
    )
    ns = ysw.groupBy("source").agg(F.sum("y_sw").alias("n_s"))
    yw = ysw.groupBy("tok").agg(F.sum("y_sw").alias("y_w"))
    tot = ns.agg(F.sum("n_s").alias("n_all"))
    y_rest = F.col("y_w") - F.col("y_sw")
    n_rest = F.col("n_all") - F.col("n_s")
    odds_in = (F.col("y_sw") + 0.5) / (F.col("n_s") - F.col("y_sw") + 0.5)
    odds_rest = (y_rest + 0.5) / (n_rest - y_rest + 0.5)
    z = F.round(
        F.log(odds_in / odds_rest)
        / F.sqrt(1.0 / (F.col("y_sw") + 0.5) + 1.0 / (y_rest + 0.5)),
        4,
    )
    scored = (
        ysw.filter(F.col("y_sw") >= DISTINCTIVE_MIN_COUNT)
        .join(F.broadcast(ns), "source")
        .join(F.broadcast(yw), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("tok").alias("term"),
            F.col("y_sw").alias("n_in_source"),
            z.alias("z"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("z"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= DISTINCTIVE_TOP_K)
        .orderBy("source", "rank")
    )


def docs_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap matrix: for every ordered source
    pair (a, b), how many of a's DISTINCT 5-gram shingles also occur in
    b, and that count as a fraction of a's shingle set — the pairwise
    generalization of the train/eval decontamination pass (which
    checks one corpus against one eval set); at mixture-curation time
    this is the matrix that exposes mirrored / syndicated sources
    before they double-count in the training weights.

    Scale: per-source distinct shingle hashes (one Arrow shingle pass +
    one distinct shuffle keyed by (source, hash)), then an
    inverted-index EQUI-JOIN on the shingle hash — never all-pairs;
    per-shingle fan-out is bounded by n_sources². Output rows exist
    only for pairs with ≥1 shared shingle (the sparse matrix form)."""
    docs = load_table(spark, sf_dir, "documents")
    # the per-source distinct shingle set is referenced THREE times
    # (sizes + both join sides) — pin it so the corpus scan and the
    # Arrow shingle pass run once, not per reference
    sh = (
        TX.with_shingles(docs.select("source", "text"), n=OVERLAP_SHINGLE_K)
        .select("source", F.explode("_sh").alias("shingle"))
        .select("source", F.md5("shingle").alias("h"))
        .distinct()
        .localCheckpoint()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("_n_a"))
    a = sh.select(F.col("source").alias("source_a"), "h")
    b = sh.select(F.col("source").alias("source_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("source", "source_a")),
            "source_a",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(F.col("n_shared") / F.col("_n_a"), 4).alias("overlap_rate"),
        )
        .orderBy("source_a", "source_b")
    )


LLM_ORACLES["docs_distinctive_terms"] = f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    ysw AS (SELECT source, tok, count(*) AS y_sw FROM tok GROUP BY 1, 2),
    ns AS (SELECT source, count(*) AS n_s FROM tok GROUP BY 1),
    yw AS (SELECT tok, sum(y_sw) AS y_w FROM ysw GROUP BY 1),
    tot AS (SELECT sum(n_s) AS n_all FROM ns),
    scored AS (
        SELECT ysw.source, ysw.tok AS term, y_sw AS n_in_source,
               ROUND(
                   ln(((y_sw + 0.5) / (n_s - y_sw + 0.5))
                      / ((y_w - y_sw + 0.5)
                         / (n_all - n_s - (y_w - y_sw) + 0.5)))
                   / sqrt(1.0 / (y_sw + 0.5) + 1.0 / (y_w - y_sw + 0.5)),
                   4) AS z
        FROM ysw JOIN ns USING (source) JOIN yw ON ysw.tok = yw.tok, tot
        WHERE y_sw >= {DISTINCTIVE_MIN_COUNT}
    ),
    ranked AS (
        SELECT source, term, n_in_source, z,
               CAST(row_number() OVER (
                   PARTITION BY source ORDER BY z DESC, term) AS INT) AS rank
        FROM scored
    )
    SELECT source, term, CAST(n_in_source AS BIGINT) AS n_in_source, z, rank
    FROM ranked WHERE rank <= {DISTINCTIVE_TOP_K}
    ORDER BY source, rank
"""

LLM_ORACLES["docs_source_overlap_matrix"] = f"""
    WITH t AS (
        SELECT source, string_split(text, ' ') AS toks FROM documents
    ),
    b AS (
        SELECT source, toks, len(toks) AS n FROM t
        WHERE len(toks) >= {OVERLAP_SHINGLE_K}
    ),
    sh AS (
        SELECT DISTINCT source,
               md5(array_to_string(
                   list_slice(toks, i, i + {OVERLAP_SHINGLE_K - 1}), ' ')) AS h
        FROM (
            SELECT source, toks,
                   unnest(generate_series(1, n - {OVERLAP_SHINGLE_K - 1})) AS i
            FROM b
        )
    ),
    sizes AS (SELECT source, count(*) AS n_a FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.source AS source_a, b2.source AS source_b,
               count(*) AS n_shared
        FROM sh a JOIN sh b2 USING (h)
        WHERE a.source <> b2.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
           ROUND(n_shared * 1.0 / n_a, 4) AS overlap_rate
    FROM pairs JOIN sizes ON pairs.source_a = sizes.source
    ORDER BY source_a, source_b
"""


OUTLIER_TOP_K = 20


def emb_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-error screen by prototypicality: each vector's L2 distance
    to its OWN label centroid (self included, the standard one-pass
    form); the top-20 farthest vectors are the mislabeled-data review
    queue — the embedding-space analogue of confident-learning pruning
    in a training-data pipeline.

    Exactness (what licenses the SQL oracle): the centroid division is
    deferred — distance² = Σ_pos (n·x − s)² / n² with s the exact
    DECIMAL per-(label, pos) component sum, so every intermediate is an
    exact decimal and ONE sqrt + ONE divide happen at the very end,
    4dp-rounded before the ordered cut. Precisions are chosen so no
    product exceeds precision 37 — BOTH engines then compute the exact
    value (Spark's allowPrecisionLoss scale-reduction and DuckDB's
    38-cap truncation only kick in past 38, and they disagree when
    they do): s at (20,10) holds |Σx| ≤ 1e10 per (label,pos) — large
    label populations stay in range (round-6 ADVICE: the old (15,10)
    NULLed silently at 1e5 while DuckDB errored); n at (12,0) → nx
    (16,10)·(12,0) → (29,10) exact; diff narrowed to (18,10) before
    squaring → (37,20) exact. Remaining ceiling (documented, loud not
    silent at 1e8): |n·x − s| must fit (18,10) to keep the square
    inside 37.

    Scale: one posexplode; the (label × dim)-row sum table broadcasts
    back; per-vector partial agg; TakeOrdered top-k. No UDF, no
    collect, no second corpus scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("xd", F.col("x").cast("decimal(16,10)"))
    per_pos = comp.groupBy("label", "pos").agg(
        F.sum("xd").cast("decimal(20,10)").alias("s"),
        F.count("*").alias("n"),
    )
    j = comp.join(F.broadcast(per_pos), ["label", "pos"])
    nx = (F.col("xd") * F.col("n").cast("decimal(12,0)")).cast("decimal(29,10)")
    diff = (nx - F.col("s")).cast("decimal(18,10)")
    sq = (diff * diff).cast("decimal(38,20)")
    d = j.groupBy("vec_id", "label", "n").agg(F.sum(sq).alias("_D"))
    dist = F.round(F.sqrt(F.col("_D").cast("double")) / F.col("n"), 4)
    out = d.select(
        "vec_id",
        "label",
        F.col("n").alias("n_label"),
        dist.alias("centroid_dist"),
    )
    return out.orderBy(F.desc("centroid_dist"), "vec_id").limit(OUTLIER_TOP_K)


LLM_ORACLES["emb_label_outliers"] = f"""
    WITH comp AS (
        SELECT vec_id, label,
               unnest(range(1, len(embedding) + 1)) AS pos,
               CAST(unnest(embedding) AS DECIMAL(16,10)) AS xd
        FROM embeddings
    ),
    per_pos AS (
        SELECT label, pos,
               CAST(SUM(xd) AS DECIMAL(20,10)) AS s,
               count(*) AS n
        FROM comp GROUP BY 1, 2
    ),
    d AS (
        SELECT vec_id, c.label, n,
               SUM(CAST(
                   CAST(CAST(c.xd * CAST(n AS DECIMAL(12,0))
                             AS DECIMAL(29,10)) - s AS DECIMAL(18,10))
                   * CAST(CAST(c.xd * CAST(n AS DECIMAL(12,0))
                               AS DECIMAL(29,10)) - s AS DECIMAL(18,10))
                   AS DECIMAL(38,20))) AS dd
        FROM comp c JOIN per_pos p ON c.label = p.label AND c.pos = p.pos
        GROUP BY 1, 2, 3
    )
    SELECT vec_id, label, CAST(n AS BIGINT) AS n_label,
           ROUND(sqrt(CAST(dd AS DOUBLE)) / n, 4) AS centroid_dist
    FROM d
    ORDER BY centroid_dist DESC, vec_id
    LIMIT {OUTLIER_TOP_K}
"""


HARD_NEG_K = 3
HARD_NEG_ANCHORS = 50


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    each anchor vector, the top-3 most cosine-similar vectors whose
    LABEL DIFFERS — exactly the "looks similar, means different" pairs
    a contrastive trainer wants in the batch. Candidate generation
    reuses the session-memoized IVF posting lists (one cell equi-join,
    n_probe=8 of 16 cells — never all-pairs), the label filter runs
    BEFORE ranking (a same-label near neighbor must not eat a rank
    slot), and the exact rerank tail is shared with every ANN path.

    Oracle: the emb_knn_ivf CTE chain with the label filter inserted —
    both engines share the exact candidate set, so even recall misses
    match. Anchors = the 50 lowest vec_ids (the fixture's query-set
    convention; production mines anchors per training shard)."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < HARD_NEG_ANCHORS)
    corpus_cells, q_cells = SIM.ivf_cell_tables(
        emb, anchors, n_probe=8, cache_key=f"{sf_dir}/embeddings"
    )
    labels = emb.select("vec_id", "label")
    cand = (
        corpus_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    al = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("query_label")
    )
    nl = labels.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
    )
    cross_label = (
        cand.join(F.broadcast(al), "query_id")
        .join(nl, "neighbor_id")
        .filter(F.col("query_label") != F.col("neighbor_label"))
        .select("query_id", "neighbor_id")
    )
    ranked = SIM.exact_rerank(cross_label, emb, anchors, HARD_NEG_K, "embedding")
    return (
        ranked.join(F.broadcast(al), "query_id")
        .join(nl, "neighbor_id")
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "rank",
            "cos_sim",
        )
        .orderBy("query_id", "rank")
    )


LLM_ORACLES["emb_hard_negatives"] = f"""
    WITH base AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ),
    cents AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
               ) - 1 AS cid,
               v AS cv, nrm AS cn
        FROM base
        ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
        LIMIT 16
    ),
    cell_sims AS (
        SELECT b.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.v, c.cv) / (b.nrm * c.cn) DESC,
                            c.cid ASC
               ) AS rn
        FROM base b CROSS JOIN cents c
    ),
    assign AS (SELECT vec_id, cid FROM cell_sims WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, cid FROM cell_sims
        WHERE rn <= 8 AND vec_id < {HARD_NEG_ANCHORS}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assign a USING (cid)
        WHERE a.vec_id <> p.query_id
    ),
    scored AS (
        SELECT cand.query_id, q.label AS query_label,
               cand.neighbor_id, n.label AS neighbor_label,
               list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos_sim
        FROM cand
        JOIN base q ON q.vec_id = cand.query_id
        JOIN base n ON n.vec_id = cand.neighbor_id
        WHERE q.label <> n.label
    ),
    ranked AS (
        SELECT query_id, query_label, neighbor_id, neighbor_label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC)
                   AS rank,
               cos_sim
        FROM scored
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label,
           CAST(rank AS INT) AS rank, ROUND(cos_sim, 4) AS cos_sim
    FROM ranked WHERE rank <= {HARD_NEG_K}
    ORDER BY query_id, rank
"""


def emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation IN the engine: recall@k of the sign-LSH
    index against brute-force ground truth, per query vector — the
    eval harness every production ANN deployment runs before/after an
    index rebuild (ground truth from exact search on a query SAMPLE;
    the brute-force side is the labeler here, never the serving path).

    Both rankers share the deterministic tie-break (cos desc,
    neighbor_id), so the intersection is engine-exact and the oracle
    composes the two already-green CTE chains (brute + LSH with inlined
    plane constants) and counts the overlap. Output: (query_id,
    n_hits, recall_at_k) for the fixture's query sample."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vectors(emb)
    brute = SIM.knn_bruteforce(emb, qv, k=KNN_K)
    approx = SIM.knn_lsh(
        emb, qv, k=KNN_K,
        dim=SIM.embedding_dim(emb, cache_key=f"{sf_dir}/embeddings"),
    )
    hits = (
        brute.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    qs = brute.select("query_id").distinct()
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return (
        qs.join(hits, "query_id", "left")
        .select(
            "query_id",
            n_hits.cast("long").alias("n_hits"),
            F.round(n_hits / float(KNN_K), 4).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


LLM_ORACLES["emb_ann_recall"] = f"""
    WITH lsh_ranked AS ({_lsh_oracle_sql()}),
    brute_ranked AS ({LLM_ORACLES["emb_knn_bruteforce"]}),
    hits AS (
        SELECT b.query_id, count(*) AS n_hits
        FROM brute_ranked b
        JOIN lsh_ranked l
          ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
        GROUP BY 1
    ),
    qs AS (SELECT DISTINCT query_id FROM brute_ranked)
    SELECT qs.query_id,
           CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(n_hits, 0) / {KNN_K}.0, 4) AS recall_at_k
    FROM qs LEFT JOIN hits USING (query_id)
    ORDER BY query_id
"""


def emb_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell quality audit of the Lloyd-refined quantizer
    (`similarity.kmeans_cluster_quality`): member count, exact
    DECIMAL inertia against the FINAL centroids, mean squared
    distance, and population share — the balance/tightness report a
    production ANN deployment reads before shipping an IVF index.
    Rides the session-memoized training loop; the oracle extends the
    kmeans CTE chain with the same extra assignment pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.kmeans_cluster_quality(emb, cache_key=f"{sf_dir}/embeddings")


LLM_ORACLES["emb_cluster_quality"] = _KMEANS_CTES + """
    ,
    dq_ AS (
        SELECT comp.vec_id, c2.cid,
               SUM(CAST((comp.x - c2.y) * (comp.x - c2.y)
                        AS DECIMAL(28,14))) AS d
        FROM comp JOIN c2 USING (pos) GROUP BY 1, 2
    ),
    mq AS (SELECT vec_id, MIN(d) AS md FROM dq_ GROUP BY 1),
    aq AS (
        SELECT dq_.vec_id, MIN(dq_.cid) AS cid, MIN(mq.md) AS md
        FROM dq_ JOIN mq ON dq_.vec_id = mq.vec_id AND dq_.d = mq.md
        GROUP BY 1
    ),
    cells AS (
        SELECT cid, count(*) AS n_vecs, SUM(md) AS inertia_d
        FROM aq GROUP BY 1
    ),
    tot AS (SELECT count(*) AS t FROM aq)
    SELECT CAST(cid AS INT) AS cid,
           n_vecs,
           ROUND(CAST(inertia_d AS DOUBLE), 4) AS inertia,
           ROUND(CAST(inertia_d AS DOUBLE) / n_vecs, 6) AS mean_sq_dist,
           ROUND(CAST(n_vecs AS DOUBLE) / t, 4) AS share
    FROM cells, tot
    ORDER BY cid
"""


CURRICULUM_BUCKETS = 10


def docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum construction: every document scored by
    BPE-ish token count (the standard short→long curriculum proxy) and
    bucketed into 10 curriculum stages with SQL-standard ntile
    semantics and a doc_id tie-break — the stage table a trainer joins
    to schedule its data loader. Output per stage: doc count, token
    range, token budget.

    Scale (the customer_rfm_segments pattern, second consumer): the 9
    stage-closing boundary ROWS — heavy integer ties make the (value,
    tie) form of `sketch.exact_rank_rows_twopass` necessary, a
    value-only quantile cannot say WHICH tied doc closes a stage —
    come from histogram-localized order statistics; stage assignment
    is literal lexicographic comparisons. No global window; the fold
    is a 10-row aggregate. Oracle keeps plain ntile(10)."""
    from ecommerce_realtime_pipeline_spark.operators import sketch as SK

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", TX.bpe_ish_token_count("text").alias("n_tokens")
    ).localCheckpoint(eager=True)
    n = scored.count()
    q, rem = divmod(n, CURRICULUM_BUCKETS)
    ks = [
        max(1, i * q + min(i, rem)) for i in range(1, CURRICULUM_BUCKETS)
    ]
    bounds = SK.exact_rank_rows_twopass(scored, "n_tokens", "doc_id", ks)
    stage = F.lit(1)
    for _k, v, t in bounds:
        stage = stage + F.when(
            (F.col("n_tokens") > F.lit(v))
            | ((F.col("n_tokens") == F.lit(v)) & (F.col("doc_id") > F.lit(t))),
            1,
        ).otherwise(0)
    return (
        scored.withColumn("stage", stage)
        .groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").cast("long").alias("stage_token_budget"),
        )
        .orderBy("stage")
    )


LLM_ORACLES["docs_curriculum_order"] = r"""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(
                   text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT)
                   AS n_tokens
        FROM documents
    ),
    staged AS (
        SELECT doc_id, n_tokens,
               ntile(10) OVER (ORDER BY n_tokens, doc_id) AS stage
        FROM scored
    )
    SELECT CAST(stage AS INT) AS stage,
           count(*) AS n_docs,
           MIN(n_tokens) AS min_tokens,
           MAX(n_tokens) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS stage_token_budget
    FROM staged
    GROUP BY 1
    ORDER BY 1
"""


COVERAGE_KS = (10, 100, 1000)


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget planning: what fraction of all corpus token
    OCCURRENCES the top-10 / top-100 / top-1000 vocabulary types cover
    — the Zipf-curve summary that decides how large a vocab (or how
    aggressive a BPE merge budget) the corpus needs.

    Scale: ONE corpus tokenize → vocab-cardinality count table,
    checkpointed so the total and the cut read it without re-scanning
    the corpus; the ordered cut is a TakeOrdered of the max K (1000
    rows, bounded BY CONSTRUCTION — never a global sort of the
    vocab); ranks within that bounded frame are a single-partition
    window over ≤1000 rows; coverage is 3 conditional sums against
    the 1-row broadcast total. Ties at the cut broken by token text
    (both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    total = counts.agg(
        F.sum("cnt").cast("long").alias("_total"),
        F.count("*").cast("long").alias("_types"),
    )
    top = counts.orderBy(F.desc("cnt"), "tok").limit(max(COVERAGE_KS))
    from pyspark.sql import Window as W

    # window over the LIMITed frame: ≤ max(K) rows by construction
    rn = F.row_number().over(W.orderBy(F.desc("cnt"), "tok"))
    ranked = top.withColumn("_rn", rn)
    covered = [
        F.sum(F.when(F.col("_rn") <= k, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias(f"_c{k}")
        for k in COVERAGE_KS
    ]
    agg = ranked.agg(*covered).crossJoin(F.broadcast(total))
    cols = []
    for k in COVERAGE_KS:
        cols.append(F.col(f"_c{k}").alias(f"covered_top{k}"))
        cols.append(
            F.round(
                F.col(f"_c{k}").cast("double") / F.col("_total"), 4
            ).alias(f"coverage_top{k}")
        )
    return agg.select(
        F.col("_total").alias("n_token_occurrences"),
        F.col("_types").alias("n_token_types"),
        *cols,
    )


LLM_ORACLES["vocab_coverage"] = """
    WITH counts AS (
        SELECT tok, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1
    ),
    ranked AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rn
        FROM counts
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS types
        FROM counts
    )
    SELECT tot.total AS n_token_occurrences,
           tot.types AS n_token_types,
           CAST(SUM(cnt) FILTER (rn <= 10) AS BIGINT) AS covered_top10,
           ROUND(CAST(SUM(cnt) FILTER (rn <= 10) AS DOUBLE) / tot.total, 4)
               AS coverage_top10,
           CAST(SUM(cnt) FILTER (rn <= 100) AS BIGINT) AS covered_top100,
           ROUND(CAST(SUM(cnt) FILTER (rn <= 100) AS DOUBLE) / tot.total, 4)
               AS coverage_top100,
           CAST(SUM(cnt) FILTER (rn <= 1000) AS BIGINT) AS covered_top1000,
           ROUND(CAST(SUM(cnt) FILTER (rn <= 1000) AS DOUBLE) / tot.total, 4)
               AS coverage_top1000
    FROM ranked, tot
    GROUP BY tot.total, tot.types
"""


YIELD_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def docs_dedup_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold tuning: for each candidate Jaccard threshold,
    how many near-dup pairs qualify and how many documents the
    keep-lowest-id pairwise rule would drop — the yield curve a
    pipeline owner reads before committing to a dedup threshold
    (too low = corpus shrinkage, too high = residual duplication).

    n_docs_removed counts docs that are the HIGHER id of ≥1 qualifying
    pair (the pairwise upper bound on removal; cluster-exact removal
    is the separate `docs_neardup_clusters` op). ONE inverted-index
    pair pass at the loosest threshold; the 5-row threshold table
    joins by inequality as a broadcast of constants; the fold is
    |thresholds|-row."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.jaccard_pairs(docs, threshold=min(YIELD_THRESHOLDS), n=3)
    th = spark.createDataFrame(
        [(t,) for t in YIELD_THRESHOLDS], "threshold double"
    )
    return (
        pairs.join(F.broadcast(th), F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("doc_b").alias("n_docs_removed"),
        )
        .orderBy("threshold")
    )


LLM_ORACLES["docs_dedup_yield_curve"] = f"""
    WITH qualifying AS ({_JACCARD_SQL}),
    th AS (
        SELECT CAST(t AS DOUBLE) AS threshold
        FROM (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)) AS v(t)
    )
    SELECT threshold,
           count(*) AS n_pairs,
           CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_removed
    FROM qualifying JOIN th ON jaccard >= threshold
    GROUP BY 1
    ORDER BY 1
"""


ZIPF_TOP_N = 1000


def docs_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic: ordinary-least-squares fit of
    ln(frequency) against ln(rank) over the top-1000 vocabulary types
    — the slope (≈ −1 for natural language) and R² that tell a corpus
    curator whether a source looks like organic text or like
    templated/generated boilerplate (flat or cliff-shaped curves).

    Scale (the vocab_coverage pattern): one tokenize → checkpointed
    vocab-sized counts; the fit frame is a TakeOrdered of 1000 rows,
    bounded BY CONSTRUCTION (ranking window runs over ≤1000 rows);
    the OLS reduction is one aggregate over that frame. 4dp-rounded
    doubles; ties at the cut broken by token text in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    top = counts.orderBy(F.desc("cnt"), "tok").limit(ZIPF_TOP_N)
    from pyspark.sql import Window as W

    rn = F.row_number().over(W.orderBy(F.desc("cnt"), "tok"))
    xy = top.withColumn("_rn", rn).select(
        F.log(F.col("_rn").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").cast("long").alias("n_points"),
        F.round(cov / varx, 4).alias("zipf_slope"),
        F.round(
            (F.col("sy") - (cov / varx) * F.col("sx")) / F.col("n"), 4
        ).alias("zipf_intercept"),
        F.round((cov * cov) / (varx * vary), 4).alias("r_squared"),
    )


LLM_ORACLES["docs_zipf_fit"] = """
    WITH counts AS (
        SELECT tok, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1
    ),
    top AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rn
        FROM counts
        ORDER BY cnt DESC, tok
        LIMIT 1000
    ),
    xy AS (
        SELECT ln(CAST(rn AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
        FROM top
    ),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4)
               AS zipf_intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r_squared
    FROM s
"""


RECALL_PROBE_COUNTS = (1, 2, 4, 8)


def emb_recall_vs_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@5 against brute-force ground truth
    at n_probe ∈ {1, 2, 4, 8} of 16 cells — the speed/recall frontier
    every ANN deployment sweeps before fixing its probe budget (probe
    count is the ONLY serving-time knob; this is the table that sets
    it).

    Scale: the posting lists and centroid assignment are session-
    memoized (built once across all four probe counts — only the
    per-query cell ranking and the candidate rerank re-run, both
    query-sized); ground truth is the same bounded brute pass
    emb_ann_recall uses. Oracle: four probe-parameterized replays of
    the IVF CTE chain counted against the brute chain."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vectors(emb)
    brute = SIM.knn_bruteforce(emb, qv, k=KNN_K)
    bt = brute.agg(F.count("*").alias("_bt"))
    out = None
    for p in RECALL_PROBE_COUNTS:
        approx = SIM.knn_ivf(
            emb, qv, k=KNN_K, n_probe=p, cache_key=f"{sf_dir}/embeddings"
        )
        h = (
            brute.join(approx, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count("*").alias("_h"))
            .crossJoin(F.broadcast(bt))
            .select(
                F.lit(p).alias("n_probe"),
                F.col("_h").cast("long").alias("n_hits"),
                # empty ground truth → recall 0 by convention (bare
                # 0/0 is NULL in Spark, NaN in DuckDB; oracle guarded
                # identically)
                F.when(
                    F.col("_bt") > 0,
                    F.round(F.col("_h").cast("double") / F.col("_bt"), 4),
                )
                .otherwise(F.lit(0.0))
                .alias("mean_recall"),
            )
        )
        out = h if out is None else out.unionByName(h)
    return out.orderBy("n_probe")


def _ivf_ranked_sql(n_probe: int) -> str:
    """The emb_knn_ivf oracle chain with its probe budget swapped —
    the probes CTE is the single 'rn <= 8' site."""
    sql = LLM_ORACLES["emb_knn_ivf"]
    assert sql.count("rn <= 8") == 1
    return sql.replace("rn <= 8", f"rn <= {n_probe}")


LLM_ORACLES["emb_recall_vs_probes"] = (
    "WITH brute AS ({brute}),\n".format(brute=LLM_ORACLES["emb_knn_bruteforce"])
    + ",\n".join(
        f"p{p} AS ({_ivf_ranked_sql(p)})" for p in RECALL_PROBE_COUNTS
    )
    + ",\n tot AS (SELECT count(*) AS bt FROM brute)\n"
    # bt comes from a SCALAR SUBQUERY, not a joined relation: with a
    # zero-hit probe count the hits join is empty and ANY_VALUE(tot.bt)
    # over the empty group would yield a NULL-recall row where Spark
    # yields 0.0; the subquery keeps bt available and the CASE pins the
    # empty-ground-truth branch to 0.0 on both engines
    + "\nUNION ALL\n".join(
        f"""
        SELECT {p} AS n_probe,
               CAST(count(*) AS BIGINT) AS n_hits,
               CASE WHEN (SELECT bt FROM tot) > 0
                    THEN ROUND(count(*) * 1.0 / (SELECT bt FROM tot), 4)
                    ELSE 0.0 END AS mean_recall
        FROM brute JOIN p{p}
          ON brute.query_id = p{p}.query_id
         AND brute.neighbor_id = p{p}.neighbor_id
        """
        for p in RECALL_PROBE_COUNTS
    )
    + "\nORDER BY n_probe"
)


def docs_bm25_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance end to end
    (`text.merge_text_index` — the search-index CDC loop): the
    inverted index is built over HALF the corpus (even doc_ids), the
    other half arrives as a batch and is MERGED in (only its token
    partitions rewritten; untouched partitions byte-identical,
    test-pinned), and BM25 then serves from the merged index. The
    result must be bit-identical to a full-corpus build — it shares
    `docs_bm25_search`'s oracle, so the driver hash-gates the merge
    path itself. Serves from the session-shared merged fixture
    (:func:`_merged_text_path`) — build+merge paid once per
    session across the merge-lifecycle family."""
    docs = load_table(spark, sf_dir, "documents")
    path = _merged_text_path(spark, sf_dir, docs)
    return _bm25_top20_indexed(spark, path)


LLM_ORACLES["docs_bm25_index_merge"] = LLM_ORACLES["docs_bm25_search"]


def docs_bm25_index_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL index lifecycle through the manifest layout: build
    over half the corpus (even doc_ids), MERGE the other half in as a
    second segment (`text.merge_text_index`), COMPACT the segments
    back to one (`text.compact_text_index` — the Lucene tiered-merge
    step that bounds per-query segment fan-out and vacuums orphans),
    then serve BM25 from the compacted index. Bit-identical to a
    one-shot full build — shares `docs_bm25_search`'s oracle, so the
    driver hash-gates build → merge → compact → serve end to end.
    The build+merge prefix comes from the session-shared merged
    fixture (:func:`_merged_text_path`); compaction — the step
    this query gates — mutates a private
    :func:`_mutable_index_copy`."""
    import shutil

    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
        compact_text_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    tmp, path = _mutable_index_copy(
        _merged_text_path(spark, sf_dir, docs), "eng_textidx_c_"
    )
    try:
        assert compact_text_index(spark, path) == 2
        m = indexfmt.read_manifest(path, TEXT_INDEX_FORMAT)
        assert len(m["segments"]) == 1  # folded to one segment
        return _bm25_top20_indexed(spark, path).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


LLM_ORACLES["docs_bm25_index_compacted"] = LLM_ORACLES["docs_bm25_search"]


def docs_bm25_index_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE lifecycle on the persisted text index, hash-gating the
    documented Lucene live-docs semantics (`text.delete_from_text_index`):
    the index is built over the FULL corpus, the odd doc_ids are
    tombstoned, and BM25 serves from the masked index — deleted docs
    vanish from results immediately while idf/avgdl keep their
    PRE-DELETE values until compaction. The oracle replicates exactly
    that: df/stats over the full corpus, scores restricted to the
    surviving docs. (The compacted/exact half of the lifecycle is
    hash-gated by pytest: delete -> compact == fresh build over the
    survivors.) Serves from the session-shared deleted fixture
    (:func:`_persisted_text_deleted_path`) — the build+delete is
    paid once per session, not per family member."""
    docs = load_table(spark, sf_dir, "documents")
    path = _persisted_text_deleted_path(spark, sf_dir, docs)
    return _bm25_top20_indexed(spark, path)


# stale-stats delete oracle: df/dl/stats over the FULL corpus (the
# pre-delete values the index deliberately serves until compaction),
# scores restricted to the surviving (even doc_id) docs.
LLM_ORACLES["docs_bm25_index_deleted"] = f"""
    WITH dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
    postings AS (
        SELECT doc_id, token, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        WHERE token IN ({_BM25_IN})
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT token, count(*) AS df FROM postings GROUP BY 1),
    scored AS (
        SELECT p.doc_id, p.token,
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (p.tf * {BM25_K1 + 1!r}
                  / (p.tf + {BM25_K1!r} * ({1 - BM25_B!r}
                     + {BM25_B!r} * l.dl
                       / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS sc
        FROM postings p
        JOIN dfreq d USING (token)
        CROSS JOIN stats s
        JOIN dl l USING (doc_id)
        WHERE p.doc_id % 2 = 0
    ),
    agg AS (
        SELECT doc_id, count(*) AS n_terms_matched,
               {_BM25_COLS}
        FROM scored GROUP BY 1
    )
    SELECT doc_id, n_terms_matched, ROUND({_BM25_SUM}, 4) AS score
    FROM agg
    ORDER BY score DESC, doc_id
    LIMIT 20
"""


RRF_K = 60  # the standard reciprocal-rank-fusion constant (Cormack et al.)


def docs_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — the standard two-leg serving pattern fused
    with reciprocal-rank fusion: the LEXICAL leg is the BM25 top-20
    (`docs_bm25_search`, hash-green on its own), the SEMANTIC leg is
    cosine top-20 for the vec_id-0 query embedding (the documents and
    embeddings tables share the same id domain), and each doc scores
    Σ 1/(RRF_K + rank) over the legs it appears in (rank-only fusion —
    the reason RRF is the production default: no score calibration
    across heterogeneous retrievers). Top-10 by (rrf desc, doc_id).

    Scale stance: the lexical leg serves from the token-partitioned
    index and the semantic leg swaps to `knn_ivf`/`knn_ivf_from_index`
    (identical output contract) on a real corpus — brute force here
    keeps the oracle exact. Fusion itself is a two-sided outer join on
    doc_id over two k-row lists: driver-trivial at any corpus size."""
    from pyspark.sql import Window

    lex = docs_bm25_search(spark, sf_dir).withColumn(
        "lex_rank",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id"))
        ),
    ).select("doc_id", "lex_rank")
    emb = load_table(spark, sf_dir, "embeddings")
    sem = (
        SIM.knn_bruteforce(emb, emb.filter(F.col("vec_id") == 0), k=20)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("sem_rank"))
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .withColumn(
            "rrf_score",
            F.round(
                F.coalesce(1.0 / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("sem_rank")), F.lit(0.0)),
                6,
            ),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(10)
    )
    return fused.select("doc_id", "lex_rank", "sem_rank", "rrf_score")


LLM_ORACLES["docs_hybrid_search_rrf"] = f"""
    WITH lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
        FROM ({{bm25}})
    ),
    sem AS (
        SELECT e.vec_id AS doc_id,
               row_number() OVER (
                   ORDER BY list_dot_product(q.qv, e.embedding::DOUBLE[])
                            / (sqrt(list_dot_product(q.qv, q.qv))
                               * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                       e.embedding::DOUBLE[]))) DESC,
                            e.vec_id ASC) AS sem_rank
        FROM embeddings e,
             (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        QUALIFY sem_rank <= 20
    )
    SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
           CAST(lex_rank AS INT) AS lex_rank,
           CAST(sem_rank AS INT) AS sem_rank,
           ROUND(COALESCE(1.0 / ({RRF_K} + lex_rank), 0)
                 + COALESCE(1.0 / ({RRF_K} + sem_rank), 0), 6) AS rrf_score
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
""".replace("{bm25}", LLM_ORACLES["docs_bm25_search"])


def emb_ivf_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index HEALTH report — the ops query every ANN deployment
    runs on a schedule: per-cell posting-list occupancy plus each
    cell's ratio to the mean. Occupancy skew is the quantizer-drift
    alarm (merges assign new vectors to FROZEN centroids, so a
    drifting corpus piles into few cells, degrading the cell-pruning
    guarantee that makes IVF sublinear — ratios ≫ 1 say "rebuild the
    quantizer", exactly Lucene's force-merge / Faiss re-train
    trigger). Serves from the persisted index (shared stamp-keyed
    build with `emb_knn_ivf_persisted`); the count aggregates prune
    to zero data columns, so the scan is column-pruned to the
    partition key — index metadata cost, not vector I/O. The oracle
    re-derives the assignment from the IVF CTE chain and aggregates
    the same occupancy."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _persisted_ivf_path(spark, sf_dir, emb)
    _, cells = SIM.read_ivf_index(spark, path)
    occ = cells.groupBy(F.col("cell").cast("int").alias("cell")).agg(
        F.count("*").cast("long").alias("n_vecs")
    )
    mean = occ.agg(F.avg("n_vecs").alias("_mean"))
    return (
        occ.crossJoin(F.broadcast(mean))
        .select(
            "cell",
            "n_vecs",
            F.round(F.col("n_vecs").cast("double") / F.col("_mean"), 4).alias(
                "occupancy_ratio"
            ),
        )
        .orderBy("cell")
    )


def _ivf_occupancy_sql() -> str:
    """Truncate the emb_knn_ivf oracle chain after its `assign` CTE
    and aggregate per-cell occupancy — the health report's oracle."""
    sql = LLM_ORACLES["emb_knn_ivf"]
    anchor = "assign AS (SELECT vec_id, cid FROM cell_sims WHERE rn = 1),"
    assert sql.count(anchor) == 1
    prefix = sql[: sql.index(anchor) + len(anchor)].rstrip().rstrip(",")
    return f"""{prefix},
        occ AS (SELECT cid AS cell, count(*) AS n_vecs FROM assign GROUP BY 1),
        tot AS (SELECT AVG(n_vecs * 1.0) AS mean_n FROM occ)
        SELECT CAST(cell AS INT) AS cell,
               CAST(n_vecs AS BIGINT) AS n_vecs,
               ROUND(n_vecs / (SELECT mean_n FROM tot), 4) AS occupancy_ratio
        FROM occ ORDER BY cell
    """


LLM_ORACLES["emb_ivf_index_health"] = _ivf_occupancy_sql()


def docs_text_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-index LIFECYCLE observability — the `_cat/segments` API of
    a search cluster as one driver-checkable row: run the scripted
    lifecycle (build evens → merge odds → tombstone odds) and report
    the manifest plane (version, live segments, pending tombstones)
    next to the data plane (vocab size, the deliberately-stale
    pre-delete n_docs/sum_dl, and the post-mask live doc count). The
    split view IS the point: n_docs ≠ n_live_docs is the
    "compaction owed" signal operators alert on (Lucene's
    deleted-docs ratio). Manifest fields are analytic constants of
    the script; corpus fields recompute in SQL."""
    import shutil

    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
        delete_from_text_index,
        read_text_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    tmp, path = _mutable_index_copy(
        _merged_text_path(spark, sf_dir, docs), "eng_textidx_h_"
    )
    try:
        n_tomb = delete_from_text_index(
            docs.filter(F.col("doc_id") % 2 == 1).select("doc_id"), path
        )
        m = indexfmt.read_manifest(path, TEXT_INDEX_FORMAT)
        postings, dfreq, stats = read_text_index(spark, path)
        return (
            dfreq.agg(F.count("*").cast("long").alias("vocab_size"))
            .crossJoin(
                stats.select(
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("sum_dl").cast("long").alias("sum_dl"),
                )
            )
            .crossJoin(
                postings.select("doc_id")
                .distinct()
                .agg(F.count("*").cast("long").alias("n_live_docs"))
            )
            .select(
                F.lit(int(m["version"])).cast("int").alias("version"),
                F.lit(len(m["segments"])).cast("int").alias("n_segments"),
                F.lit(n_tomb).cast("long").alias("n_tombstoned"),
                "vocab_size",
                "n_docs",
                "sum_dl",
                "n_live_docs",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# manifest plane = analytic constants of the scripted lifecycle
# (build=v1, merge=v2, delete=v3; merge appends exactly one segment);
# corpus plane recomputed from the documents table.
LLM_ORACLES["docs_text_index_stats"] = """
    WITH dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    )
    SELECT CAST(3 AS INT) AS version,
           CAST(2 AS INT) AS n_segments,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 2 = 1)
               AS BIGINT) AS n_tombstoned,
           CAST((SELECT count(DISTINCT token) FROM toks) AS BIGINT)
               AS vocab_size,
           CAST((SELECT count(*) FROM dl) AS BIGINT) AS n_docs,
           -- SUM over BIGINT is HUGEINT in DuckDB; pin the wire type
           CAST((SELECT SUM(dl) FROM dl) AS BIGINT) AS sum_dl,
           CAST((SELECT count(DISTINCT doc_id) FROM toks
                 WHERE doc_id % 2 = 0) AS BIGINT) AS n_live_docs
"""


def docs_bm25_index_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING search-index maintenance — the indexing pipeline
    every search deployment runs, as one driver-checkable query: the
    corpus arrives as files on a stream (two landings: even doc_ids,
    then odd), a ``foreachBatch`` sink folds each micro-batch into the
    persisted text index (`write_text_index` on first contact, then
    `merge_text_index` — one immutable segment + manifest flip — per
    batch), and the two ``availableNow`` runs SHARE ONE
    CHECKPOINT so the file source's exactly-once tracking makes run 2
    process only the new file (same crawl-snapshot loop as
    `streaming_neardup_dedup`; a replayed batch would double postings,
    so the source's tracking IS the idempotence story). BM25 then
    serves from the streamed index — bit-identical to a one-shot
    full-corpus build, so the driver hash-gates stream → merge →
    serve end to end under `docs_bm25_search`'s oracle.

    Scale stance: each trigger costs one |batch|-sized partitioned
    write + a |vocab|-row metadata rewrite (never O(index));
    `max_segments` bounds read amplification across an arbitrary
    landing sequence, retention keeps concurrent serving safe."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        merge_text_index,
        write_text_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    doc_schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="eng_textidx_s_")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
        idx = os.path.join(tmp, "index")
        # the per-batch merges shuffle a half-corpus vocab — pin the
        # session conf down for the micro-batch jobs (driver sessions
        # default to 200), restore before serving
        spark.conf.set("spark.sql.shuffle.partitions", "8")

        def fold(batch_df, batch_id):
            rows = batch_df.select("doc_id", "text", "lang", "source", "n_chars")
            if rows.isEmpty():
                return
            if indexfmt.has_index(idx):
                merge_text_index(rows, idx, max_segments=4)
            else:
                write_text_index(rows, idx)

        for half in (0, 1):
            docs.filter(F.col("doc_id") % 2 == half).repartition(1).write.mode(
                "append"
            ).parquet(src)
            start_available_now(
                spark.readStream.schema(doc_schema).parquet(src), ckpt, fold
            ).awaitTermination()
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        assert indexfmt.read_manifest(idx, "text-index")["version"] >= 2
        return _bm25_top20_indexed(spark, idx).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(tmp, ignore_errors=True)


LLM_ORACLES["docs_bm25_index_streaming"] = LLM_ORACLES["docs_bm25_search"]


def docs_bm25_index_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL on the persisted TEXT index, driver-gated (r12 —
    the keyword twin of `emb_knn_ivf_timetravel`): full-corpus build,
    odd doc_ids tombstoned, BM25 served from the RETAINED pre-delete
    generation (``version=1``) through the term-dictionary seeks —
    postings, dfreq AND stats all resolve from the v1 manifest, so the
    result is bit-identical to the plain `docs_bm25_search` and shares
    its oracle; a version-resolution bug anywhere in the seek/meta
    path would serve the masked (or stale-stats) index and
    hash-mismatch. Scale: manifest resolution + the seeked serve —
    zero extra data I/O. Serves from the session-shared deleted
    fixture (:func:`_persisted_text_deleted_path`), whose
    generation contract pins v1 = the pre-delete full build."""
    docs = load_table(spark, sf_dir, "documents")
    path = _persisted_text_deleted_path(spark, sf_dir, docs)
    return _bm25_top20_indexed(spark, path, version=1)


#: the retained v1 generation IS the full-corpus index → the plain
#: search oracle
LLM_ORACLES["docs_bm25_index_timetravel"] = LLM_ORACLES["docs_bm25_search"]


def docs_hybrid_search_rrf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION hybrid-retrieval composition
    (`docs_hybrid_search_rrf`'s docstring promise, exercised): BOTH
    legs serve from persisted indexes with LIVE TOMBSTONES — the
    lexical leg is BM25 top-20 from the token-partitioned text index
    after the odd doc_ids are deleted (`delete_from_text_index` —
    stale idf/avgdl until compaction, the documented Lucene
    semantics), the semantic leg is IVF ANN top-20 for the vec_id-0
    query from the cell-partitioned IVF index after the odd vec_ids
    are deleted (`delete_from_ivf_index` — same live-docs model), and
    the tails fuse by reciprocal rank exactly like the brute-force
    variant. Every serving surface in the two index families is on
    the hash-gated path at once: manifest resolution, partition-pruned
    segment reads, broadcast tombstone anti-joins, shared scorers.

    Scale stance: identical to the legs' own queries — the fusion is
    a full-outer join of two k-row lists, driver-trivial anywhere.
    Both legs serve from the session-shared deleted fixtures
    (:func:`_persisted_text_deleted_path` /
    :func:`_persisted_ivf_deleted_path`) — the two full
    build+delete sequences are paid once per session across the whole
    deleted/hybrid/time-travel family, not per query."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # both deleted fixtures (shared, session-memoized); cold builds
    # overlap from a 2-thread pool (guide §2.6)
    tpath, ipath = _deleted_fixture_pair(spark, sf_dir, docs, emb)
    # lexical index: full build, odd ids tombstoned (shared fixture)
    lex = (
        _bm25_top20_indexed(spark, tpath)
        .withColumn(
            "lex_rank",
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), F.col("doc_id"))
            ),
        )
        .select("doc_id", "lex_rank")
    )
    # semantic index: full build (emb_knn_ivf's quantizer — shared
    # session memo), odd ids tombstoned (shared fixture, built above)
    sem = SIM.knn_ivf_from_index(
        spark, ipath, emb.filter(F.col("vec_id") == 0), k=20, n_probe=8
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .withColumn(
            "rrf_score",
            F.round(
                F.coalesce(
                    1.0 / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    1.0 / (F.lit(RRF_K) + F.col("sem_rank")), F.lit(0.0)
                ),
                6,
            ),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(10)
        .select("doc_id", "lex_rank", "sem_rank", "rrf_score")
    )


def _ivf_tombstoned_sem_leg_sql() -> str:
    """The emb_knn_ivf oracle chain reshaped into the indexed hybrid's
    semantic leg: query set = vec_id 0 only, candidates restricted to
    the surviving (even) vectors — the tombstone anti-join's effect —
    and the cut deepened to top-20."""
    sql = LLM_ORACLES["emb_knn_ivf"]
    probe_anchor = "WHERE rn <= 8 AND vec_id < 10"
    cand_anchor = "WHERE a.vec_id <> p.query_id"
    cut_anchor = "FROM ranked WHERE rank <= 5"
    for a in (probe_anchor, cand_anchor, cut_anchor):
        assert sql.count(a) == 1
    return (
        sql.replace(probe_anchor, "WHERE rn <= 8 AND vec_id = 0")
        .replace(cand_anchor, "WHERE a.vec_id <> p.query_id AND a.vec_id % 2 = 0")
        .replace(cut_anchor, "FROM ranked WHERE rank <= 20")
    )


LLM_ORACLES["docs_hybrid_search_rrf_indexed"] = f"""
    WITH lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
        FROM ({{bm25_deleted}})
    ),
    sem AS (
        SELECT neighbor_id AS doc_id, rank AS sem_rank
        FROM ({{ivf_sem}})
    )
    SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
           CAST(lex_rank AS INT) AS lex_rank,
           CAST(sem_rank AS INT) AS sem_rank,
           ROUND(COALESCE(1.0 / ({RRF_K} + lex_rank), 0)
                 + COALESCE(1.0 / ({RRF_K} + sem_rank), 0), 6) AS rrf_score
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
""".replace("{bm25_deleted}", LLM_ORACLES["docs_bm25_index_deleted"]).replace(
    "{ivf_sem}", _ivf_tombstoned_sem_leg_sql()
)


def emb_knn_ivf_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance end to end
    (`similarity.merge_ivf_index`): the IVF-flat index is built over
    HALF the corpus (even vec_ids — the quantizer trains on that
    initial corpus, the production reality), the odd half arrives as a
    batch and is APPENDED using the shipped quantizer (only its cell
    partitions rewritten; untouched cells byte-identical,
    test-pinned), and top-5 serves from the merged index. The oracle
    replays the IVF chain with the quantizer sample drawn from the
    even half and assignment over the full corpus — so the driver
    hash-gates the append path itself. Serves from the session-shared
    drifted fixture (:func:`_ivf_drifted_path`) — build+merge
    paid once per session across the drift family."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _ivf_drifted_path(spark, sf_dir, emb)
    return SIM.knn_ivf_from_index(
        spark, path, _query_vectors(emb), k=KNN_K, n_probe=8
    )


def _ivf_even_trained_sql() -> str:
    """The emb_knn_ivf oracle chain with the quantizer sample drawn
    from the even-vec_id half (the merged-index fixture's training
    corpus); assignment/probing/rerank still run over ALL vectors."""
    sql = LLM_ORACLES["emb_knn_ivf"]
    anchor = "v AS cv, nrm AS cn\n            FROM base"
    assert sql.count(anchor) == 1
    return sql.replace(
        anchor, "v AS cv, nrm AS cn\n            FROM base WHERE vec_id % 2 = 0"
    )


LLM_ORACLES["emb_knn_ivf_merged"] = _ivf_even_trained_sql()


def emb_knn_ivf_requantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer-drift remediation end to end
    (`similarity.requantize_ivf_index` — the write half of the
    `emb_ivf_index_health` alarm): the index is built over HALF the
    corpus (even vec_ids — the quantizer freezes there), the odd half
    is merged in under that stale quantizer (the drift the health
    report flags as occupancy skew), then the quantizer is RETRAINED
    over the full live set and every vector re-bucketed in place; top-5
    serves from the re-quantized index. Because re-quantization is
    bit-identical to a fresh build over the live vectors (pure
    deterministic sample + pure assignment, pinned in
    test_llm_ops), the oracle is exactly the full-corpus-trained
    emb_knn_ivf chain — the driver hash-gates the remediation path
    against the drift-free ideal it promises to restore. The drift
    fixture comes from the session-shared :func:`_ivf_drifted_path`;
    the retrain — the step this query gates — mutates a
    private :func:`_mutable_index_copy`."""
    import shutil

    emb = load_table(spark, sf_dir, "embeddings")
    tmp, path = _mutable_index_copy(
        _ivf_drifted_path(spark, sf_dir, emb), "eng_ivfrq_q_"
    )
    try:
        SIM.requantize_ivf_index(spark, path)
        return SIM.knn_ivf_from_index(
            spark, path, _query_vectors(emb), k=KNN_K, n_probe=8
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: requantize over the full live set == fresh full-corpus build, so
#: the drift-free emb_knn_ivf chain IS the oracle (see docstring)
LLM_ORACLES["emb_knn_ivf_requantized"] = LLM_ORACLES["emb_knn_ivf"]


def emb_knn_ivf_policy_remediated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantizer-drift POLICY loop end to end
    (`similarity.maybe_requantize_ivf_index`, r11 — the scheduler that
    connects the `emb_ivf_index_health` alarm to
    `requantize_ivf_index`): same drift fixture as
    `emb_knn_ivf_requantized` (quantizer frozen on the even half, odd
    half merged under it), but the retrain is DECIDED by the policy —
    max/mean cell occupancy checked against a 1.2 threshold (the
    fixture's skew is 1.32–1.47 at every shipped SF, asserted in-plan
    so a fixture change fails loudly instead of hash-mismatching) —
    then top-5 serves from the remediated index. The policy retrains
    at the index's own capacity with the builders' seed, and
    requantize ≡ fresh full-corpus build (test-pinned), so the oracle
    is again the drift-free `emb_knn_ivf` chain. The check itself is
    index-metadata cheap: a count aggregate pruned to the partition
    key. The drift fixture comes from the session-shared
    :func:`_ivf_drifted_path`; the policy loop — the step this
    query gates — runs on a private :func:`_mutable_index_copy`."""
    import shutil

    emb = load_table(spark, sf_dir, "embeddings")
    tmp, path = _mutable_index_copy(
        _ivf_drifted_path(spark, sf_dir, emb), "eng_ivfpol_q_"
    )
    try:
        fired = SIM.maybe_requantize_ivf_index(spark, path, 1.2)
        assert fired, "drift fixture must breach the 1.2 occupancy threshold"
        return SIM.knn_ivf_from_index(
            spark, path, _query_vectors(emb), k=KNN_K, n_probe=8
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: the policy fires on the fixture and requantize == fresh build over
#: the live set, so the drift-free chain is the oracle here too
LLM_ORACLES["emb_knn_ivf_policy_remediated"] = LLM_ORACLES["emb_knn_ivf"]


def emb_knn_ivf_merge_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift policy AS A MERGE KNOB end to end
    (`merge_ivf_index(max_occupancy_ratio=)` — sibling of
    `merge_positional_index(max_segments=)`): the same drift fixture
    as `emb_knn_ivf_policy_remediated` (quantizer frozen on the even
    half), but the odd half lands through the merge itself carrying
    the policy — the landing commits, the knob detects the occupancy
    breach (fixture skew 1.32-1.47 vs threshold 1.2) and retrains
    INLINE, exactly how streamed text/positional landings self-compact
    under max_segments. The manifest is asserted in-plan to show both
    flips (merge + retrain) folded to one segment, so a silently
    non-firing knob fails loudly instead of hash-mismatching; top-5
    then serves from the self-remediated index, hash-gated by the
    drift-free `emb_knn_ivf` chain (requantize ≡ fresh full-corpus
    build, test-pinned).

    Scale stance: the landing stays |batch|-sized; the O(index)
    retrain is amortized — it fires only when drift has accrued past
    the threshold, the Faiss retrain-on-imbalance scheduler run by the
    ingest path itself instead of a separate ops loop. The
    frozen-quantizer base comes from the session-shared
    :func:`_ivf_even_path`; the knob-carrying merge — the step
    this query gates — lands on a private
    :func:`_mutable_index_copy`."""
    import shutil


    emb = load_table(spark, sf_dir, "embeddings")
    tmp, path = _mutable_index_copy(
        _ivf_even_path(spark, sf_dir, emb), "eng_ivfmpol_q_"
    )
    try:
        SIM.merge_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 1),
            path,
            max_occupancy_ratio=1.2,
        )
        m = indexfmt.read_manifest(path, SIM.IVF_INDEX_FORMAT)
        # two flips (merge, retrain), segments folded: the knob FIRED
        assert int(m["version"]) == 3 and len(m["segments"]) == 1, m
        return SIM.knn_ivf_from_index(
            spark, path, _query_vectors(emb), k=KNN_K, n_probe=8
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: the knob's retrain ≡ fresh full-corpus build → drift-free oracle
LLM_ORACLES["emb_knn_ivf_merge_policy"] = LLM_ORACLES["emb_knn_ivf"]


def emb_knn_ivf_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL on the persisted IVF index, driver-gated (r12 —
    previously pytest-only): the full corpus is indexed, the odd
    vec_ids are tombstoned, and the serve reads the RETAINED
    pre-delete generation (``version=1``) through the cell-directory
    seeks — the Iceberg snapshot-read contract: a reader pinned to an
    older generation keeps a complete, bit-stable index while
    mutations land, for as long as the generation is retained. The
    pre-delete generation over the full corpus is exactly the
    drift-free in-session result, so the oracle is the plain
    `emb_knn_ivf` chain — the driver hash-gates the generation
    resolution itself (a version-resolution bug would serve the
    masked index and hash-mismatch).

    Scale stance: time travel is manifest resolution (one retained
    JSON snapshot) + the same seeked serving plan — zero extra data
    I/O; retention cost is the superseded segments' storage until
    vacuum, the Iceberg snapshot-expiry trade. Serves from the
    session-shared deleted fixture
    (:func:`_persisted_ivf_deleted_path`), whose generation
    contract pins v1 = the pre-delete full build."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _persisted_ivf_deleted_path(spark, sf_dir, emb)
    return SIM.knn_ivf_from_index(
        spark, path, _query_vectors(emb), k=KNN_K, n_probe=8, version=1
    )


#: the retained v1 generation IS the full-corpus index → the
#: drift-free chain is the oracle
LLM_ORACLES["emb_knn_ivf_timetravel"] = LLM_ORACLES["emb_knn_ivf"]


def emb_knn_same_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: IVF ANN top-5 where neighbors must
    carry the query's own label (`similarity.knn_ivf_filtered`) — the
    metadata-constrained retrieval surface (same-tenant / same-lang /
    same-class lookups). The constraint enters at candidate
    generation, so recall semantics equal running the index on the
    label's sub-corpus; rides the session-memoized IVF posting lists
    (same quantizer as ``emb_knn_ivf`` ⇒ the oracle is that chain
    plus a label equi-join in cand)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_ivf_filtered(
        emb, _query_vectors(emb), k=KNN_K, n_probe=8,
        cache_key=f"{sf_dir}/embeddings",
    )


def _ivf_label_filtered_sql() -> str:
    """The emb_knn_ivf oracle chain with the same-label constraint
    added to candidate generation (the Spark path's pre-filter,
    mirrored)."""
    sql = LLM_ORACLES["emb_knn_ivf"]
    anchor = """FROM probes p JOIN assign a USING (cid)
            WHERE a.vec_id <> p.query_id"""
    assert sql.count(anchor) == 1
    return sql.replace(
        anchor,
        """FROM probes p JOIN assign a USING (cid)
            JOIN embeddings en ON en.vec_id = a.vec_id
            JOIN embeddings eq ON eq.vec_id = p.query_id
            WHERE a.vec_id <> p.query_id AND en.label = eq.label""",
    )


LLM_ORACLES["emb_knn_same_label"] = _ivf_label_filtered_sql()


def docs_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production perplexity filter: train the JM-interpolated
    bigram LM on the TRAIN split only, score the HELD-OUT (val/test)
    docs — the train/apply separation `docs_bigram_surprisal` (same
    corpus both roles) deliberately skips. Unseen-event mass comes
    from add-one smoothing on the unigram back-off
    (P(w2|w1) = λ·c(w1,w2)/c(w1) + (1-λ)·(c(w2)+1)/(N+V+1)), so
    held-out tokens outside the train vocabulary score finite
    surprisal instead of -inf. Output: top-20 highest-perplexity
    held-out docs (the filter's drop candidates).

    Scale: split membership is a pure md5 projection (no shuffle);
    count tables are train-vocabulary-sized broadcasts (at 100 TB the
    joins degrade gracefully to shuffle equi-joins — the plan is
    written as plain joins); one explode feeds the per-doc scoring;
    TakeOrdered top-k."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "split", TX.hash_split("doc_id")
    )
    train = docs.filter(F.col("split") == "train")
    heldout = docs.filter(F.col("split") != "train")

    def bigrams(df: DataFrame) -> DataFrame:
        toks = df.select("doc_id", "split", F.split("text", " ").alias("syms"))
        return toks.select(
            "doc_id",
            "split",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms)-2),"
                    " i -> struct(syms[i] as w1, syms[i+1] as w2))"
                )
            ).alias("bg"),
        ).select("doc_id", "split", "bg.w1", "bg.w2")

    uni = (
        train.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("tf"))
    )
    stats = uni.agg(
        F.sum("tf").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("vocab"),
    )
    bigc = bigrams(train).groupBy("w1", "w2").agg(F.count("*").alias("bf"))
    c1 = uni.select(F.col("tok").alias("w1"), F.col("tf").alias("c1_tf"))
    c2 = uni.select(F.col("tok").alias("w2"), F.col("tf").alias("c2_tf"))
    lam = F.lit(BIGRAM_LAMBDA)
    p = lam * F.coalesce(
        F.col("bf") / F.col("c1_tf"), F.lit(0.0)
    ) + (F.lit(1.0) - lam) * (
        (F.coalesce(F.col("c2_tf"), F.lit(0)) + 1)
        / (F.col("n_total") + F.col("vocab") + 1)
    )
    return (
        bigrams(heldout)
        .join(F.broadcast(bigc), ["w1", "w2"], "left")
        .join(F.broadcast(c1), "w1", "left")
        .join(F.broadcast(c2), "w2", "left")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id", "split")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.exp(-F.avg(F.log(p))), 4).alias("perplexity"),
        )
        .orderBy(F.desc("perplexity"), "doc_id")
        .limit(20)
    )


LLM_ORACLES["docs_heldout_perplexity"] = f"""
    WITH tagged AS (
        SELECT doc_id, text,
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                              AS BIGINT) % 100 < 80
                    THEN 'train'
                    WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                              AS BIGINT) % 100 < 90
                    THEN 'val' ELSE 'test' END AS split
        FROM documents
    ),
    train_toks AS (
        SELECT string_split(text, ' ') AS syms FROM tagged
        WHERE split = 'train'
    ),
    uni AS (
        SELECT tok, count(*) AS tf
        FROM (SELECT unnest(syms) AS tok FROM train_toks) GROUP BY tok
    ),
    stats AS (
        SELECT CAST(SUM(tf) AS BIGINT) AS n_total,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM uni
    ),
    train_big AS (
        SELECT syms[i] AS w1, syms[i + 1] AS w2
        FROM (SELECT syms, unnest(generate_series(1, len(syms) - 1)) AS i
              FROM train_toks)
    ),
    bigc AS (SELECT w1, w2, count(*) AS bf FROM train_big GROUP BY w1, w2),
    held AS (
        SELECT doc_id, split, string_split(text, ' ') AS syms FROM tagged
        WHERE split <> 'train'
    ),
    held_big AS (
        SELECT doc_id, split, syms[i] AS w1, syms[i + 1] AS w2
        FROM (SELECT doc_id, split, syms,
                     unnest(generate_series(1, len(syms) - 1)) AS i
              FROM held)
    ),
    scored AS (
        SELECT doc_id, split, count(*) AS n_bigrams,
               ROUND(exp(-AVG(ln(
                   {BIGRAM_LAMBDA}::DOUBLE * COALESCE(bf * 1.0 / c1.tf, 0.0)
                   + {1.0 - BIGRAM_LAMBDA}::DOUBLE
                     * (COALESCE(c2.tf, 0) + 1) * 1.0 / (n_total + vocab + 1)
               ))), 4) AS perplexity
        FROM held_big
        LEFT JOIN bigc USING (w1, w2)
        LEFT JOIN uni c1 ON held_big.w1 = c1.tok
        LEFT JOIN uni c2 ON held_big.w2 = c2.tok, stats
        GROUP BY doc_id, split
    )
    SELECT doc_id, split, n_bigrams, perplexity
    FROM scored
    ORDER BY perplexity DESC, doc_id
    LIMIT 20
"""


def mm_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection: perceptual average-hash (decode
    → integer 8×8 resample → gray → threshold-at-mean, 64 bits) over a
    corpus with planted slightly-brightened replicas
    (`multimodal.synthesize_media_with_replicas`), candidates from an
    8-byte-band LSH equi-join (lossless for Hamming ≤ 7 by
    pigeonhole), exact Hamming verify ≤ 7. Pair members usually cross
    the PPM/BMP codec boundary, so a match proves CONTENT equality
    through two different real decoders — the multimodal analogue of
    SimHash text dedup.

    Scale: ONE Arrow decode+hash pass, checkpointed (hash table is
    |corpus| × 20 bytes); candidates are a band equi-join (≈
    |corpus|²/256 per band worst-case on random images, linear on
    real ones); verify is integer xor+popcount on the bounded
    candidate set. The oracle replays stream→resample→hash in SQL and
    brute-forces all pairs (sf0.01 corpus is 500 images)."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synthesize_media_with_replicas(docs)
    hashes = MM.image_ahash64(media).localCheckpoint(eager=True)
    bands = hashes.select(
        "doc_id", F.posexplode("bands").alias("band", "val")
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "val")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "val")
    cand = (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hash_hi").alias("_hi_a"),
        F.col("hash_lo").alias("_lo_a"),
    )
    hb = hashes.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hash_hi").alias("_hi_b"),
        F.col("hash_lo").alias("_lo_b"),
    )
    ham = (
        F.bit_count(F.col("_hi_a").bitwiseXOR(F.col("_hi_b")))
        + F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
    ).cast("int")
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= 7)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


LLM_ORACLES["mm_image_ahash_neardup"] = """
    WITH need AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END AS ck,
               doc_id % 10 = 1 AS is_rep
        FROM documents
    ),
    dims AS (
        SELECT doc_id, ck, is_rep,
               4 + ck % 5 AS w, 4 + ck % 3 AS h,
               (4 + ck % 5) * (4 + ck % 3) * 3 AS n
        FROM need
    ),
    blk AS (
        SELECT doc_id, unnest(range(CAST(CEIL(n / 32.0) AS BIGINT))) AS b
        FROM dims
    ),
    stream AS (
        SELECT d.doc_id,
               any_value(d.w) AS w, any_value(d.h) AS h,
               any_value(d.is_rep) AS is_rep,
               substr(string_agg(md5(d.ck || ':' || blk.b), ''
                                 ORDER BY blk.b),
                      1, any_value(d.n)) AS s
        FROM dims d JOIN blk USING (doc_id)
        GROUP BY d.doc_id
    ),
    -- 8x8 nearest-neighbor sample grid: output pixel i reads source
    -- pixel (sy, sx) = ((i//8)*h//8, (i%8)*w//8); 0-based byte
    -- position si = (sy*w+sx)*3; replica bytes at p % 5 = 0 get +9
    px AS (
        SELECT doc_id, i,
               (((i // 8) * h // 8) * w + (i % 8) * w // 8) * 3 AS si
        FROM stream, unnest(range(64)) AS t(i)
    ),
    gray AS (
        SELECT p.doc_id, p.i,
               ((unicode(substr(s.s, p.si + 1, 1))
                 + CASE WHEN s.is_rep AND p.si % 5 = 0 THEN 9 ELSE 0 END)
              + (unicode(substr(s.s, p.si + 2, 1))
                 + CASE WHEN s.is_rep AND (p.si + 1) % 5 = 0 THEN 9 ELSE 0 END)
              + (unicode(substr(s.s, p.si + 3, 1))
                 + CASE WHEN s.is_rep AND (p.si + 2) % 5 = 0 THEN 9 ELSE 0 END)
               ) // 3 AS g
        FROM px p JOIN stream s USING (doc_id)
    ),
    bits AS (
        SELECT doc_id, i,
               CASE WHEN g > SUM(g) OVER (PARTITION BY doc_id) // 64
                    THEN 1 ELSE 0 END AS bit
        FROM gray
    ),
    hashes AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN i < 32 THEN CAST(bit AS BIGINT) << i
                             ELSE 0 END) AS BIGINT) AS lo,
               CAST(SUM(CASE WHEN i >= 32 THEN CAST(bit AS BIGINT) << (i - 32)
                             ELSE 0 END) AS BIGINT) AS hi
        FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
                AS INTEGER) AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 7
    ORDER BY 1, 2
"""


def emb_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal-direction probe: top-8 dimensions by |loading| of the
    embedding cloud's dominant direction + the singular-value
    estimate, via 2 rounds of matvec-only power iteration
    (`similarity.top_component_power`) — the data-DRIVEN axis finder
    next to the data-oblivious JL reduction. Oracle replays both
    iterations CTE-for-CTE (exact DECIMAL products, one double
    sqrt/divide per normalization)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.top_component_power(
        emb, iters=2, cache_key=f"{sf_dir}/embeddings"
    )


def _power_iteration_sql(iters: int = 2) -> str:
    head = """WITH x AS (
        SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
               CAST(unnest(embedding) AS DECIMAL(12,10)) AS xv
        FROM embeddings
    ),
    dd AS (SELECT CAST(len(embedding) AS INT) AS d FROM embeddings LIMIT 1),
    v0 AS (
        SELECT CAST(unnest(range(0, d)) AS INT) AS pos,
               CAST(ROUND(1.0 / sqrt(d), 8) AS DECIMAL(9,8)) AS v
        FROM dd
    )"""
    parts = [head]
    for t in range(1, iters + 1):
        parts.append(f""",
    dots{t} AS (
        SELECT vec_id, CAST(SUM(xv * v) AS DECIMAL(18,8)) AS dot
        FROM x JOIN v{t - 1} USING (pos) GROUP BY vec_id
    ),
    ns{t} AS (
        SELECT sqrt(CAST(SUM(CAST(dot * dot AS DECIMAL(38,16))) AS DOUBLE))
            AS ns
        FROM dots{t}
    ),
    s{t} AS (
        SELECT vec_id,
               CAST(ROUND(CAST(dot AS DOUBLE) / ns, 8) AS DECIMAL(9,8)) AS s
        FROM dots{t}, ns{t}
    ),
    w{t} AS (
        SELECT pos, CAST(SUM(xv * s) AS DECIMAL(18,8)) AS w
        FROM x JOIN s{t} USING (vec_id) GROUP BY pos
    ),
    nw{t} AS (
        SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,16))) AS DOUBLE))
            AS nw
        FROM w{t}
    ),
    v{t} AS (
        SELECT pos,
               CAST(ROUND(CAST(w AS DOUBLE) / nw, 8) AS DECIMAL(9,8)) AS v
        FROM w{t}, nw{t}
    )""")
    parts.append(f"""
    SELECT pos,
           ROUND(CAST(v AS DOUBLE), 4) AS loading,
           ROUND(nw, 4) AS sigma_est
    FROM v{iters}, nw{iters}
    ORDER BY abs(ROUND(CAST(v AS DOUBLE), 4)) DESC, pos
    LIMIT 8""")
    return "".join(parts)


LLM_ORACLES["emb_top_component"] = _power_iteration_sql()


def emb_knn_graph_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN serving (`similarity.knn_graph_beam`): top-5 by
    2-hop beam search (beam 8) over the cell-bounded kNN graph
    (m = 6) from md5-ranked entry points — the NSW-family serving
    path whose per-query cost is O(hops·beam·m), independent of
    corpus size. Oracle replays graph build → entries → both
    expansions → final rerank CTE-for-CTE (shared quantizer chain
    with `emb_knn_ivf`, shared tie-breaks)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_graph_beam(
        emb, _query_vectors(emb), k=KNN_K,
        cache_key=f"{sf_dir}/embeddings",
    )


LLM_ORACLES["emb_knn_graph_beam"] = """
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ),
    cents AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
               ) - 1 AS cid,
               v AS cv, nrm AS cn
        FROM base
        ORDER BY md5(CAST(vec_id AS VARCHAR) || '|42'), vec_id
        LIMIT 16
    ),
    cell_sims AS (
        SELECT b.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.v, c.cv) / (b.nrm * c.cn) DESC,
                            c.cid ASC
               ) AS rn
        FROM base b CROSS JOIN cents c
    ),
    assign AS (SELECT vec_id, cid FROM cell_sims WHERE rn = 1),
    assign2 AS (SELECT vec_id, cid FROM cell_sims WHERE rn <= 2),
    pairs AS (
        SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        FROM assign2 a JOIN assign2 b USING (cid)
        WHERE a.vec_id <> b.vec_id
    ),
    gs AS (
        SELECT src, dst,
               row_number() OVER (
                   PARTITION BY src
                   ORDER BY list_dot_product(s.v, d.v) / (s.nrm * d.nrm) DESC,
                            dst ASC
               ) AS rn
        FROM pairs
        JOIN base s ON s.vec_id = src
        JOIN base d ON d.vec_id = dst
    ),
    graph AS (SELECT src, dst FROM gs WHERE rn <= 6),
    entries AS (
        SELECT q.vec_id AS query_id, a.vec_id AS nid
        FROM assign q JOIN assign a USING (cid)
        WHERE q.vec_id < 10
    ),
    f0 AS (
        SELECT query_id, nid,
               list_dot_product(qb.v, nb.v) / (qb.nrm * nb.nrm) AS cos
        FROM entries
        JOIN base qb ON qb.vec_id = query_id
        JOIN base nb ON nb.vec_id = nid
    ),
    cut1 AS (
        SELECT query_id, nid FROM (
            SELECT query_id, nid,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, nid ASC) AS rn
            FROM f0
        ) WHERE rn <= 8
    ),
    exp1 AS (
        SELECT DISTINCT query_id, dst AS nid
        FROM cut1 JOIN graph ON cut1.nid = graph.src
    ),
    s1 AS (
        SELECT query_id, e.nid,
               list_dot_product(qb.v, nb.v) / (qb.nrm * nb.nrm) AS cos
        FROM exp1 e
        JOIN base qb ON qb.vec_id = query_id
        JOIN base nb ON nb.vec_id = e.nid
    ),
    cut2 AS (
        SELECT query_id, nid FROM (
            SELECT query_id, nid,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, nid ASC) AS rn
            FROM s1
        ) WHERE rn <= 8
    ),
    exp2 AS (
        SELECT DISTINCT query_id, dst AS nid
        FROM cut2 JOIN graph ON cut2.nid = graph.src
    ),
    s2 AS (
        SELECT query_id, e.nid,
               list_dot_product(qb.v, nb.v) / (qb.nrm * nb.nrm) AS cos
        FROM exp2 e
        JOIN base qb ON qb.vec_id = query_id
        JOIN base nb ON nb.vec_id = e.nid
    ),
    visited AS (
        SELECT query_id, nid FROM f0
        UNION ALL SELECT query_id, nid FROM s1
        UNION ALL SELECT query_id, nid FROM s2
    ),
    final AS (
        SELECT DISTINCT query_id, nid FROM visited WHERE nid <> query_id
    ),
    fs AS (
        SELECT query_id, f.nid,
               list_dot_product(qb.v, nb.v) / (qb.nrm * nb.nrm) AS cos
        FROM final f
        JOIN base qb ON qb.vec_id = query_id
        JOIN base nb ON nb.vec_id = f.nid
    ),
    ranked AS (
        SELECT query_id, nid AS neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, nid ASC) AS rank,
               cos
        FROM fs
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           ROUND(cos, 4) AS cos_sim
    FROM ranked WHERE rank <= 5
"""


def docs_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budgeting: whitespace tokens vs BPE-ish regex
    pre-tokens (the existing `text.bpe_ish_token_count`) — the two counts every
    training-data budget is quoted in, and their ratio (how much
    punctuation/digit splitting inflates this source). One scan, one
    |sources|-key shuffle; exact integer sums, one double divide."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count("text")).cast("long").alias("ws_tokens"),
            F.sum(TX.bpe_ish_token_count("text")).cast("long").alias("bpe_tokens"),
        )
        .withColumn(
            "inflation",
            F.round(F.col("bpe_tokens") / F.col("ws_tokens"), 4),
        )
        .orderBy("source")
    )


LLM_ORACLES["docs_token_budget"] = r"""
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text,
                        '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT)
               AS bpe_tokens,
           ROUND(SUM(len(regexp_extract_all(text,
                         '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) * 1.0
                 / SUM(len(string_split(text, ' '))), 4) AS inflation
    FROM documents
    GROUP BY source
    ORDER BY source
"""


# -- phrase / proximity search (positional plane) ----------------------------

#: fixed exact-phrase query (adjacent tokens, in order) — chosen for
#: non-trivial match counts at every shipped SF (38/20/274 matching
#: docs at sf0.001/0.01/0.1)
PHRASE_QUERY: tuple[str, ...] = ("data", "line")
#: ordered proximity window for the sloppy variant ("data … line"
#: within PROX_SLOP tokens, Lucene's "a b"~slop)
PROX_SLOP = 3


def _phrase_hits(occ: DataFrame) -> DataFrame:
    """Shared tail of both phrase-search serves: occurrences →
    per-doc (n_occurrences, first_pos), top-20 by count — a
    TakeOrdered over an already term-filtered tiny set."""
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min("p0").cast("int").alias("first_pos"),
        )
        .orderBy(F.col("n_occurrences").desc(), "doc_id")
        .limit(20)
    )


def docs_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-PHRASE search over the corpus — the positional upgrade of
    bag-of-words BM25 (the reference's pg_trgm/tsvector GIN indexes,
    `sql/init/03_create_indexes.sql`, serve containment; phrase
    queries are the next rung of the same serving surface): top-20
    docs containing the adjacent in-order token pair `PHRASE_QUERY`,
    with per-doc occurrence counts and the first match offset.

    Plan: posexplode positions off ONE corpus scan, then the k-way
    ALIGNED join (`text.phrase_occurrences`) — each leg keeps only
    its own term (predicate pushed into the scan) and normalizes
    position to the phrase start, so the match is a plain equi-join
    on (doc_id, start). Scale: legs are term-filtered slivers of the
    positional plane; nothing off-phrase ever shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    occ = TX.phrase_occurrences(
        TX.positional_postings(docs), list(PHRASE_QUERY)
    )
    return _phrase_hits(occ)


# Oracle: re-derive positions with generate_series (1-based in DuckDB,
# 0-based in Spark — first_pos shifts by 1; occurrence COUNTS and the
# ordering are offset-free).
LLM_ORACLES["docs_phrase_search"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS syms FROM documents
    ),
    idx AS (
        SELECT doc_id, syms,
               unnest(generate_series(1, len(syms) - 1)) AS i
        FROM t WHERE len(syms) >= 2
    )
    SELECT doc_id,
           count(*) AS n_occurrences,
           CAST(min(i) - 1 AS INT) AS first_pos
    FROM idx
    WHERE syms[i] = '{PHRASE_QUERY[0]}' AND syms[i + 1] = '{PHRASE_QUERY[1]}'
    GROUP BY doc_id
    ORDER BY n_occurrences DESC, doc_id
    LIMIT 20
"""


def docs_phrase_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search served from the PERSISTED positional index
    (`text.write_positional_index` — token-partitioned positions under
    the atomic-manifest protocol every index family shares), across a
    SEGMENT BOUNDARY: the corpus is split at the median doc_id, the
    first half built, the second MERGED as a second immutable segment
    (`text.merge_positional_index`, zero read amplification), and the
    serve unions both — so one query pins build, incremental merge,
    multi-segment union AND result identity with the in-session scan
    (`docs_phrase_search`, whose oracle this shares).

    Scale: the serve is the TERM-DICTIONARY SEEK
    (`text.seek_positional_tokens`, r12 rewire) — exactly k directory
    opens per segment off the manifest, no |vocab|-linear partition
    discovery (plan-pinned); everything after the seek is the same
    aligned join. Serves from the session-shared median-split merged
    fixture (:func:`_merged_pos_median_path`) — build+merge paid
    once per session."""
    docs = load_table(spark, sf_dir, "documents")
    path = _merged_pos_median_path(spark, sf_dir, docs)
    occ = TX.phrase_occurrences(
        TX.seek_positional_tokens(spark, path, list(PHRASE_QUERY)),
        list(PHRASE_QUERY),
    )
    return _phrase_hits(occ)


LLM_ORACLES["docs_phrase_search_indexed"] = LLM_ORACLES["docs_phrase_search"]


def docs_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED PROXIMITY search (Lucene's sloppy phrase, `"a b"~slop`):
    top-20 docs where `data` is followed by `line` within PROX_SLOP
    tokens — the recall-relaxed sibling of the exact phrase query,
    with the tightest observed gap per doc (gap 1 = the exact phrase).

    Plan: two single-token partition seeks of the positional plane
    joined on doc_id under a bounded band predicate on positions
    (`text.proximity_pairs`) — a range join whose legs are already
    term-filtered tiny, never a corpus-scale inequality join."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = TX.proximity_pairs(
        TX.positional_postings(docs),
        PHRASE_QUERY[0],
        PHRASE_QUERY[1],
        PROX_SLOP,
    )
    return (
        pairs.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.min("gap").cast("int").alias("min_gap"),
        )
        .orderBy(F.col("n_matches").desc(), "doc_id")
        .limit(20)
    )


# gaps are position DIFFERENCES — identical under DuckDB's 1-based and
# Spark's 0-based offsets, so no shift anywhere.
LLM_ORACLES["docs_proximity_search"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS syms FROM documents
    ),
    idx AS (
        SELECT doc_id, unnest(generate_series(1, len(syms))) AS i, syms
        FROM t
    ),
    toks AS (SELECT doc_id, i, syms[i] AS tok FROM idx),
    a AS (SELECT doc_id, i AS p1 FROM toks WHERE tok = '{PHRASE_QUERY[0]}'),
    b AS (SELECT doc_id, i AS p2 FROM toks WHERE tok = '{PHRASE_QUERY[1]}')
    SELECT a.doc_id,
           count(*) AS n_matches,
           CAST(min(b.p2 - a.p1) AS INT) AS min_gap
    FROM a JOIN b ON a.doc_id = b.doc_id
                 AND b.p2 - a.p1 BETWEEN 1 AND {PROX_SLOP}
    GROUP BY a.doc_id
    ORDER BY n_matches DESC, a.doc_id
    LIMIT 20
"""


def _persisted_pos_path(spark: SparkSession, sf_dir: str, docs: DataFrame) -> str:
    """The full-corpus POSITIONAL index — the positional twin of
    `_persisted_ivf_path`, for queries that SERVE from the canonical
    index (:func:`_index_fixture`)."""
    return _index_fixture(
        spark, sf_dir, TX.POS_INDEX_FORMAT, "spark_graft_pos_", (1, 1, False),
        lambda p: TX.write_positional_index(docs, p),
    )


def _proximity_boosted(lex: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared tail of both proximity-boost serves: BM25 top-k left-
    joined to the per-doc tightest gap, boosted, re-ranked. The boost
    is Lucene's sloppy-phrase shape — factor 1/(1+min_gap), 0 when
    the pair never co-occurs within the slop (min_gap exposed as 0:
    real gaps are ≥ 1) — applied multiplicatively to the 4dp BM25
    score and rounded at 6dp, ORDER BY the rounded column (the
    cross-engine determinism recipe). Everything here is k rows."""
    gaps = pairs.groupBy("doc_id").agg(
        F.min("gap").cast("int").alias("_mg")
    )
    joined = lex.join(gaps, "doc_id", "left").select(
        "doc_id",
        F.col("score").alias("bm25_score"),
        F.coalesce(F.col("_mg"), F.lit(0)).cast("int").alias("min_gap"),
    )
    boost = F.when(F.col("min_gap") == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) / (F.lit(1) + F.col("min_gap"))
    )
    return joined.select(
        "doc_id",
        "bm25_score",
        "min_gap",
        F.round(F.col("bm25_score") * (F.lit(1.0) + boost), 6).alias(
            "boosted_score"
        ),
    ).orderBy(F.col("boosted_score").desc(), "doc_id")


def docs_bm25_proximity_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROXIMITY-AWARE RANKING — the composed query that connects the
    BM25 plane to the positional plane (Lucene's sloppy-phrase boost:
    docs where the query terms sit NEAR each other outrank
    bag-of-words ties): the `docs_bm25_search` top-20, boosted by
    1/(1+min_gap) where min_gap is the tightest ordered
    `BM25_TERMS[0] … BM25_TERMS[1]` gap within PROX_SLOP tokens.

    Scale stance: the lexical leg is the audited BM25 serve; the
    position leg is two term-filtered slivers of the positional plane
    SEMI-JOINED (broadcast — the top-k id list is k rows) down to the
    top-k docs BEFORE the band join, so position data for off-list
    docs never shuffles — bounded by k, never a corpus-scale position
    scan."""
    docs = load_table(spark, sf_dir, "documents")
    lex = docs_bm25_search(spark, sf_dir).localCheckpoint()
    post = TX.positional_postings(docs).filter(
        F.col("token").isin(BM25_TERMS[0], BM25_TERMS[1])
    )
    post = post.join(
        F.broadcast(lex.select("doc_id")), "doc_id", "left_semi"
    )
    pairs = TX.proximity_pairs(post, BM25_TERMS[0], BM25_TERMS[1], PROX_SLOP)
    return _proximity_boosted(lex, pairs)


def docs_bm25_proximity_boost_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Proximity-aware ranking SERVED from the persisted positional
    index: identical semantics (and oracle) to
    `docs_bm25_proximity_boost`, with the position leg reading the
    canonical persisted index (`_persisted_pos_path`) instead of
    re-exploding the corpus — the two query terms are TERM-DICTIONARY
    SEEKS (`text.seek_positional_tokens`, r12 rewire: two directory
    opens per segment, no |vocab|-discovery pass; plan-pinned), and
    the broadcast semi-join masks the read down to the top-k docs
    before the band join. This is the production shape: BM25 leg from
    the inverted index, gap leg a k-bounded seek of the positional
    plane."""
    docs = load_table(spark, sf_dir, "documents")
    lex = docs_bm25_search(spark, sf_dir).localCheckpoint()
    path = _persisted_pos_path(spark, sf_dir, docs)
    post = TX.seek_positional_tokens(
        spark, path, [BM25_TERMS[0], BM25_TERMS[1]]
    )
    post = post.join(
        F.broadcast(lex.select("doc_id")), "doc_id", "left_semi"
    )
    pairs = TX.proximity_pairs(post, BM25_TERMS[0], BM25_TERMS[1], PROX_SLOP)
    return _proximity_boosted(lex, pairs)


# Oracle: the green BM25 chain as one CTE, the green proximity chain
# (over the BM25 term pair) as another, composed by a LEFT JOIN. Gaps
# are position DIFFERENCES (offset-free across DuckDB 1-based / Spark
# 0-based); the boost arithmetic parenthesizes identically on both
# sides, rounded at 6dp, ORDER BY the rounded column.
LLM_ORACLES["docs_bm25_proximity_boost"] = f"""
    WITH lex AS ({LLM_ORACLES["docs_bm25_search"]}),
    prox AS (
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS syms FROM documents
        ),
        idx AS (
            SELECT doc_id, unnest(generate_series(1, len(syms))) AS i, syms
            FROM t
        ),
        toks AS (SELECT doc_id, i, syms[i] AS tok FROM idx),
        a AS (SELECT doc_id, i AS p1 FROM toks WHERE tok = '{BM25_TERMS[0]}'),
        b AS (SELECT doc_id, i AS p2 FROM toks WHERE tok = '{BM25_TERMS[1]}')
        SELECT a.doc_id, CAST(min(b.p2 - a.p1) AS INT) AS min_gap
        FROM a JOIN b ON a.doc_id = b.doc_id
                     AND b.p2 - a.p1 BETWEEN 1 AND {PROX_SLOP}
        GROUP BY a.doc_id
    )
    SELECT l.doc_id,
           l.score AS bm25_score,
           CAST(COALESCE(p.min_gap, 0) AS INT) AS min_gap,
           ROUND(l.score * (1.0 + CASE WHEN COALESCE(p.min_gap, 0) = 0
                                       THEN 0.0
                                       ELSE 1.0 / (1 + p.min_gap) END),
                 6) AS boosted_score
    FROM lex l LEFT JOIN prox p USING (doc_id)
    ORDER BY boosted_score DESC, l.doc_id
"""

# indexed serve is semantics-identical (same legs, same fusion) →
# same oracle.
LLM_ORACLES["docs_bm25_proximity_boost_indexed"] = LLM_ORACLES[
    "docs_bm25_proximity_boost"
]


# -- weighted hybrid fusion ---------------------------------------------------

#: lexical / semantic blend weights for score-level hybrid fusion.
#: Written as two explicit literals (not 1 − α) so the Spark plan and
#: the oracle SQL parse the IDENTICAL decimal strings.
HYB_ALPHA_LEX = 0.6
HYB_ALPHA_SEM = 0.4


def docs_hybrid_search_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval, SCORE-level fusion — the calibrated
    alternative to `docs_hybrid_search_rrf`'s rank-only fusion: each
    leg's top-20 scores are min-max normalized WITHIN the leg's
    result list (the convex-combination recipe; normalization is what
    makes BM25 magnitudes and cosine similarities commensurable), a
    doc missing from a leg contributes 0 from it, and the blend is
    `0.6·lex + 0.4·sem`. Top-10 by (score desc, doc_id). Both legs are
    the already-hash-green serving chains (`docs_bm25_search`,
    `emb_knn_bruteforce`-class cosine top-k), and both expose
    4dp-rounded scores, so the two engines normalize IDENTICAL inputs
    with the identical op order.

    Scale stance: same as the RRF twin — legs swap to the persisted
    index serves on a real corpus; fusion itself is a full-outer join
    of two k-row lists plus two 1-row min/max broadcasts,
    driver-trivial at any corpus size."""
    lex = docs_bm25_search(spark, sf_dir).select(
        "doc_id", F.col("score").alias("lex_s")
    )
    lex_mm = lex.agg(F.min("lex_s").alias("_mn"), F.max("lex_s").alias("_mx"))
    lexn = lex.crossJoin(F.broadcast(lex_mm)).select(
        "doc_id",
        F.when(
            F.col("_mx") > F.col("_mn"),
            (F.col("lex_s") - F.col("_mn")) / (F.col("_mx") - F.col("_mn")),
        )
        .otherwise(F.lit(1.0))
        .alias("lex_norm"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    sem = SIM.knn_bruteforce(emb, emb.filter(F.col("vec_id") == 0), k=20).select(
        F.col("neighbor_id").alias("doc_id"), F.col("cos_sim").alias("sem_s")
    )
    sem_mm = sem.agg(F.min("sem_s").alias("_mn"), F.max("sem_s").alias("_mx"))
    semn = sem.crossJoin(F.broadcast(sem_mm)).select(
        "doc_id",
        F.when(
            F.col("_mx") > F.col("_mn"),
            (F.col("sem_s") - F.col("_mn")) / (F.col("_mx") - F.col("_mn")),
        )
        .otherwise(F.lit(1.0))
        .alias("sem_norm"),
    )
    fused = (
        lexn.join(semn, "doc_id", "full_outer")
        .withColumn(
            "hybrid_score",
            F.round(
                F.lit(HYB_ALPHA_LEX) * F.coalesce(F.col("lex_norm"), F.lit(0.0))
                + F.lit(HYB_ALPHA_SEM)
                * F.coalesce(F.col("sem_norm"), F.lit(0.0)),
                6,
            ),
        )
        .orderBy(F.col("hybrid_score").desc(), "doc_id")
        .limit(10)
    )
    return fused.select(
        "doc_id",
        F.round("lex_norm", 6).alias("lex_norm"),
        F.round("sem_norm", 6).alias("sem_norm"),
        "hybrid_score",
    )


LLM_ORACLES["docs_hybrid_search_weighted"] = f"""
    WITH lex AS (SELECT doc_id, score AS lex_s FROM ({{bm25}})),
    lexn AS (
        SELECT doc_id,
               CASE WHEN mm._mx > mm._mn
                    THEN (lex_s - mm._mn) / (mm._mx - mm._mn)
                    ELSE 1.0 END AS lex_norm
        FROM lex, (SELECT min(lex_s) AS _mn, max(lex_s) AS _mx FROM lex) mm
    ),
    sem AS (
        SELECT e.vec_id AS doc_id,
               ROUND(list_dot_product(q.qv, e.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                e.embedding::DOUBLE[]))),
                     4) AS sem_s,
               row_number() OVER (
                   ORDER BY list_dot_product(q.qv, e.embedding::DOUBLE[])
                            / (sqrt(list_dot_product(q.qv, q.qv))
                               * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                       e.embedding::DOUBLE[]))) DESC,
                            e.vec_id ASC) AS rk
        FROM embeddings e,
             (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        QUALIFY rk <= 20
    ),
    semn AS (
        SELECT doc_id,
               CASE WHEN mm._mx > mm._mn
                    THEN (sem_s - mm._mn) / (mm._mx - mm._mn)
                    ELSE 1.0 END AS sem_norm
        FROM sem, (SELECT min(sem_s) AS _mn, max(sem_s) AS _mx FROM sem) mm
    )
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           ROUND(l.lex_norm, 6) AS lex_norm,
           ROUND(s.sem_norm, 6) AS sem_norm,
           ROUND({HYB_ALPHA_LEX} * COALESCE(l.lex_norm, 0.0)
                 + {HYB_ALPHA_SEM} * COALESCE(s.sem_norm, 0.0), 6)
               AS hybrid_score
    FROM lexn l FULL OUTER JOIN semn s ON l.doc_id = s.doc_id
    ORDER BY hybrid_score DESC, doc_id
    LIMIT 10
""".replace("{bm25}", LLM_ORACLES["docs_bm25_search"])


def docs_phrase_search_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search under LIVE TOMBSTONES on the persisted positional
    index — the delete-lifecycle gate for the third index family
    (`text.delete_from_positional_index`): every doc_id ≡ 0 (mod 7) is
    deleted after the build, and the serve runs PRE-compaction, so the
    result is produced through the broadcast anti-join live-docs mask
    (deleted docs vanish immediately, Lucene live-docs semantics; the
    physical reclaim — compact ≡ fresh-build-over-survivors — is
    pytest-pinned). The oracle is the plain phrase query over the
    surviving docs.

    Scale: the mask adds one broadcast anti-join (tombstone set
    bounded by deletes-since-compaction) to the partition-pruned
    seeks; everything else is `docs_phrase_search_indexed`'s plan.
    Serves from the session-shared deleted fixture
    (:func:`_persisted_pos_deleted_path`) — the build+delete is
    paid once per session."""
    docs = load_table(spark, sf_dir, "documents")
    path = _persisted_pos_deleted_path(spark, sf_dir, docs)
    occ = TX.phrase_occurrences(
        TX.seek_positional_tokens(spark, path, list(PHRASE_QUERY)),
        list(PHRASE_QUERY),
    )
    return _phrase_hits(occ)


LLM_ORACLES["docs_phrase_search_deleted"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS syms FROM documents
        WHERE doc_id % 7 <> 0
    ),
    idx AS (
        SELECT doc_id, syms,
               unnest(generate_series(1, len(syms) - 1)) AS i
        FROM t WHERE len(syms) >= 2
    )
    SELECT doc_id,
           count(*) AS n_occurrences,
           CAST(min(i) - 1 AS INT) AS first_pos
    FROM idx
    WHERE syms[i] = '{PHRASE_QUERY[0]}' AND syms[i + 1] = '{PHRASE_QUERY[1]}'
    GROUP BY doc_id
    ORDER BY n_occurrences DESC, doc_id
    LIMIT 20
"""


#: bulk phrase batch — mixed lengths, incl. a 3-term phrase and a
#: shared token ('line', 'merge' appear in two phrases) so the
#: one-join set-driven matcher is exercised on slot collisions
BULK_PHRASES: tuple[str, ...] = ("batch merge", "data line", "merge data line")


def docs_phrase_search_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BULK phrase search — the set-driven serving path
    (`text.phrase_occurrences_bulk`): a BATCH of phrases lands as a
    slot table (phrase, slot, token, n_slots), ONE broadcast join
    against the positional plane matches every phrase at once, and an
    aggregate keyed on (phrase, doc, start) keeps starts where all
    slots matched. Per-phrase corpus hit summary: matching docs +
    total occurrences.

    Scale: never a per-phrase plan — a 10⁴-phrase decontamination
    batch costs the same single pass as these 3; served from the
    persisted index the slot table's tokens become the DPP-pruned
    partition set, exactly `read_postings_for_tokens`'s contract."""
    docs = load_table(spark, sf_dir, "documents")
    rows = []
    for ph in BULK_PHRASES:
        ws = ph.split()
        for i, w in enumerate(ws):
            rows.append((ph, i, w, len(ws)))
    phrases = spark.createDataFrame(
        rows, "phrase string, slot int, token string, n_slots int"
    )
    occ = TX.phrase_occurrences_bulk(TX.positional_postings(docs), phrases)
    return (
        occ.groupBy("phrase")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .orderBy("phrase")
    )


def _bulk_phrase_values() -> str:
    rows = []
    for ph in BULK_PHRASES:
        ws = ph.split()
        for i, w in enumerate(ws):
            rows.append(f"('{ph}', {i}, '{w}', {len(ws)})")
    return ", ".join(rows)


LLM_ORACLES["docs_phrase_search_bulk"] = f"""
    WITH phr(phrase, slot, tok, n_slots) AS (
        VALUES {_bulk_phrase_values()}
    ),
    t AS (SELECT doc_id, string_split(text, ' ') AS syms FROM documents),
    idx AS (
        SELECT doc_id, unnest(generate_series(1, len(syms))) AS i, syms
        FROM t
    ),
    tk AS (SELECT doc_id, i, syms[i] AS tok FROM idx),
    m AS (
        SELECT p.phrase, k.doc_id, k.i - p.slot AS p0, p.slot, p.n_slots
        FROM tk k JOIN phr p ON k.tok = p.tok
        WHERE k.i - p.slot >= 1
    ),
    occ AS (
        SELECT phrase, doc_id, p0
        FROM m GROUP BY phrase, doc_id, p0, n_slots
        HAVING count(DISTINCT slot) = n_slots
    )
    SELECT phrase,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occurrences
    FROM occ GROUP BY phrase ORDER BY phrase
"""


def docs_phrase_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC (keyword-in-context) snippets — the result-presentation
    surface of phrase search: for the top-20 phrase-matching docs, the
    first occurrence rendered with 2 tokens of leading context and 2
    trailing (clipped at the doc start). The snippet is sliced from
    the token array by position arithmetic — deterministic, no regex
    re-search of the text.

    Scale: the top-20 hit list broadcasts back onto the corpus scan
    (one narrow join); snippet assembly touches 20 rows."""
    docs = load_table(spark, sf_dir, "documents")
    occ = TX.phrase_occurrences(
        TX.positional_postings(docs), list(PHRASE_QUERY)
    )
    hits = _phrase_hits(occ)
    k = len(PHRASE_QUERY)
    s0 = F.greatest(F.col("first_pos") - F.lit(2), F.lit(0))
    ln = F.col("first_pos") - s0 + F.lit(k + 2)
    return (
        docs.select("doc_id", "text")
        .join(F.broadcast(hits), "doc_id")
        .select(
            "doc_id",
            "n_occurrences",
            "first_pos",
            F.concat_ws(
                " ", F.slice(TX.tokens("text"), s0 + 1, ln)
            ).alias("snippet"),
        )
        .orderBy(F.col("n_occurrences").desc(), "doc_id")
    )


LLM_ORACLES["docs_phrase_snippets"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS syms FROM documents
    ),
    idx AS (
        SELECT doc_id, syms,
               unnest(generate_series(1, len(syms) - 1)) AS i
        FROM t WHERE len(syms) >= 2
    ),
    hits AS (
        SELECT doc_id,
               count(*) AS n_occurrences,
               CAST(min(i) - 1 AS INT) AS first_pos
        FROM idx
        WHERE syms[i] = '{PHRASE_QUERY[0]}' AND syms[i + 1] = '{PHRASE_QUERY[1]}'
        GROUP BY doc_id
        ORDER BY n_occurrences DESC, doc_id
        LIMIT 20
    )
    SELECT h.doc_id, h.n_occurrences, h.first_pos,
           array_to_string(
               t.syms[greatest(h.first_pos - 2, 0) + 1
                      : greatest(h.first_pos - 2, 0)
                        + (h.first_pos - greatest(h.first_pos - 2, 0) + 4)],
               ' ') AS snippet
    FROM hits h JOIN t ON h.doc_id = t.doc_id
    ORDER BY h.n_occurrences DESC, h.doc_id
"""


def docs_phrase_index_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of the POSITIONAL index — the third
    family running the same indexing pipeline as
    `docs_bm25_index_streaming`: the corpus arrives as files on a
    stream (two landings: even doc_ids, then odd), a ``foreachBatch``
    sink folds each micro-batch into the persisted positional index
    (`write_positional_index` on first contact, then
    `merge_positional_index` — one immutable token-clustered segment +
    pointer flip — per batch), and the two ``availableNow`` runs SHARE
    ONE CHECKPOINT so the file source's exactly-once tracking makes
    run 2 process only the new file (a replayed batch would double
    positions — the source's tracking IS the idempotence story).
    Phrase search then serves from the streamed index — identical to
    the one-shot scan, so the driver hash-gates stream → merge →
    serve end to end under `docs_phrase_search`'s oracle.

    Scale stance: each trigger costs one |batch tokens|-sized
    clustered segment write + a |batch docs|-row sidecar + one pointer
    flip — never O(index)."""

    docs = load_table(spark, sf_dir, "documents")
    doc_schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="eng_posidx_s_")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
        idx = os.path.join(tmp, "index")
        spark.conf.set("spark.sql.shuffle.partitions", "8")

        def fold(batch_df, batch_id):
            rows = batch_df.select(
                "doc_id", "text", "lang", "source", "n_chars"
            )
            if rows.isEmpty():
                return
            if indexfmt.has_index(idx):
                TX.merge_positional_index(rows, idx)
            else:
                TX.write_positional_index(rows, idx)

        for half in (0, 1):
            docs.filter(F.col("doc_id") % 2 == half).repartition(1).write.mode(
                "append"
            ).parquet(src)
            start_available_now(
                spark.readStream.schema(doc_schema).parquet(src), ckpt, fold
            ).awaitTermination()
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        m = indexfmt.read_manifest(idx, TX.POS_INDEX_FORMAT)
        assert int(m["version"]) >= 2 and len(m["segments"]) >= 2
        occ = TX.phrase_occurrences(
            TX.seek_positional_tokens(spark, idx, list(PHRASE_QUERY)),
            list(PHRASE_QUERY),
        )
        return _phrase_hits(occ).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(tmp, ignore_errors=True)


LLM_ORACLES["docs_phrase_index_streaming"] = LLM_ORACLES["docs_phrase_search"]


def docs_phrase_index_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIERED-MERGE POLICY on the positional index end to end
    (`merge_positional_index(..., max_segments=2)` — the
    sibling-parity knob that keeps a streamed index's segment fan-out
    bounded): the corpus lands in FOUR quartile batches (doc_id % 4 —
    disjoint ids, deterministic), merges run under the cap, so the
    third landing overflows it and triggers an inline compaction
    (1 → 2 → [3 → fold to 1] → 2 live segments, asserted in-plan),
    and phrase search serves from the policy-managed index —
    hash-gated by the one-shot scan's oracle, which is exactly the
    policy's contract: appending ≡ consolidating ≡ fresh build.

    Scale stance: each merge stays |batch|-sized; the cap makes the
    occasional O(index) fold amortized (Lucene tiered merging), so
    EVERY serve unions at most max_segments segment scans instead of
    one per landing."""
    import shutil
    import tempfile


    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="eng_posidx_t_")
    try:
        path = os.path.join(tmp, "index")
        TX.write_positional_index(docs.filter(F.col("doc_id") % 4 == 0), path)
        live = [1]
        for q in (1, 2, 3):
            live.append(
                TX.merge_positional_index(
                    docs.filter(F.col("doc_id") % 4 == q),
                    path,
                    max_segments=2,
                )
            )
        # 1 → 2 → (3 > cap → fold to 1) → 2: the policy fired exactly
        # once and the index never serves more than the cap
        assert live == [1, 2, 1, 2], live
        m = indexfmt.read_manifest(path, TX.POS_INDEX_FORMAT)
        assert len(m["segments"]) == 2 and not m.get("tombstones")
        occ = TX.phrase_occurrences(
            TX.seek_positional_tokens(spark, path, list(PHRASE_QUERY)),
            list(PHRASE_QUERY),
        )
        return _phrase_hits(occ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: policy-managed index serves the same corpus → the scan's oracle
LLM_ORACLES["docs_phrase_index_tiered"] = LLM_ORACLES["docs_phrase_search"]


#: a phrase whose FIRST and LAST word repeat — "the end of the end"
#: class. Chosen for presence at every shipped SF (3-6 occurrences);
#: the repeated term is exactly the input that would double postings
#: in a seek reader without duplicate-term dedup.
REPEATED_PHRASE: tuple[str, str, str] = ("window", "agg", "window")


def docs_phrase_repeated_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search for a REPEATED-TERM phrase
    (`REPEATED_PHRASE` — first word == third word) served from the
    canonical persisted positional index via the term-dictionary seek:
    the driver gate for the r12 seek hardening, where a duplicated
    term in the seek's input MUST NOT duplicate that term's postings
    (``dict.fromkeys`` dedup — without it every occurrence count here
    silently multiplies). The k-way aligned join handles the repeated
    slots by construction (legs 0 and 2 read the same seeked rows at
    different alignments), so the result matches the plain
    corpus-scan oracle row for row.

    Scale: 2 distinct term directories opened per segment (not 3 —
    the dedup), everything downstream k-bounded like every phrase
    serve."""
    docs = load_table(spark, sf_dir, "documents")
    path = _persisted_pos_path(spark, sf_dir, docs)
    occ = TX.phrase_occurrences(
        TX.seek_positional_tokens(spark, path, list(REPEATED_PHRASE)),
        list(REPEATED_PHRASE),
    )
    return _phrase_hits(occ)


LLM_ORACLES["docs_phrase_repeated_term"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS syms FROM documents
    ),
    idx AS (
        SELECT doc_id, syms,
               unnest(generate_series(1, len(syms) - 2)) AS i
        FROM t WHERE len(syms) >= 3
    )
    SELECT doc_id,
           count(*) AS n_occurrences,
           CAST(min(i) - 1 AS INT) AS first_pos
    FROM idx
    WHERE syms[i] = '{REPEATED_PHRASE[0]}'
      AND syms[i + 1] = '{REPEATED_PHRASE[1]}'
      AND syms[i + 2] = '{REPEATED_PHRASE[2]}'
    GROUP BY doc_id
    ORDER BY n_occurrences DESC, doc_id
    LIMIT 20
"""


def docs_hybrid_search_weighted_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The weighted-fusion twin of `docs_hybrid_search_rrf_indexed`,
    completing the fusion matrix ({RRF, weighted} × {brute-force,
    indexed}): BOTH legs serve from persisted indexes with LIVE
    TOMBSTONES (BM25 from the token-partitioned text index after odd
    doc_ids are deleted — stale idf until compaction, the documented
    Lucene semantics; IVF ANN from the cell-partitioned index after
    odd vec_ids are deleted), each leg's top-20 4dp scores min-max
    normalized WITHIN its list, blend `0.6·lex + 0.4·sem`, missing
    leg → 0. Every serving surface of both families plus score-level
    calibration on one hash-gated path.

    Scale stance: the legs' own plans + two 1-row min/max broadcasts
    and a full-outer join of two k-row lists — driver-trivial. Both
    legs serve from the session-shared deleted fixtures — see
    `docs_hybrid_search_rrf_indexed`."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    def _minmax_norm(leg, col, out):
        mm = leg.agg(F.min(col).alias("_mn"), F.max(col).alias("_mx"))
        return leg.crossJoin(F.broadcast(mm)).select(
            "doc_id",
            F.when(
                F.col("_mx") > F.col("_mn"),
                (F.col(col) - F.col("_mn")) / (F.col("_mx") - F.col("_mn")),
            )
            .otherwise(F.lit(1.0))
            .alias(out),
        )

    # both deleted fixtures (shared, session-memoized); cold builds
    # overlap from a 2-thread pool (guide §2.6)
    tpath, ipath = _deleted_fixture_pair(spark, sf_dir, docs, emb)
    lex = _bm25_top20_indexed(spark, tpath).select(
        "doc_id", F.col("score").alias("lex_s")
    )
    lexn = _minmax_norm(lex, "lex_s", "lex_norm")
    sem = SIM.knn_ivf_from_index(
        spark, ipath, emb.filter(F.col("vec_id") == 0), k=20, n_probe=8
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("cos_sim").alias("sem_s"),
    )
    semn = _minmax_norm(sem, "sem_s", "sem_norm")
    return (
        lexn.join(semn, "doc_id", "full_outer")
        .withColumn(
            "hybrid_score",
            F.round(
                F.lit(HYB_ALPHA_LEX)
                * F.coalesce(F.col("lex_norm"), F.lit(0.0))
                + F.lit(HYB_ALPHA_SEM)
                * F.coalesce(F.col("sem_norm"), F.lit(0.0)),
                6,
            ),
        )
        .orderBy(F.col("hybrid_score").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            F.round("lex_norm", 6).alias("lex_norm"),
            F.round("sem_norm", 6).alias("sem_norm"),
            "hybrid_score",
        )
    )


LLM_ORACLES["docs_hybrid_search_weighted_indexed"] = f"""
    WITH lexs AS (SELECT doc_id, score AS lex_s FROM ({{bm25_deleted}})),
    lexn AS (
        SELECT doc_id,
               CASE WHEN mm._mx > mm._mn
                    THEN (lex_s - mm._mn) / (mm._mx - mm._mn)
                    ELSE 1.0 END AS lex_norm
        FROM lexs, (SELECT min(lex_s) AS _mn, max(lex_s) AS _mx FROM lexs) mm
    ),
    sems AS (
        SELECT neighbor_id AS doc_id, cos_sim AS sem_s FROM ({{ivf_sem}})
    ),
    semn AS (
        SELECT doc_id,
               CASE WHEN mm._mx > mm._mn
                    THEN (sem_s - mm._mn) / (mm._mx - mm._mn)
                    ELSE 1.0 END AS sem_norm
        FROM sems, (SELECT min(sem_s) AS _mn, max(sem_s) AS _mx FROM sems) mm
    )
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           ROUND(l.lex_norm, 6) AS lex_norm,
           ROUND(s.sem_norm, 6) AS sem_norm,
           ROUND({HYB_ALPHA_LEX} * COALESCE(l.lex_norm, 0.0)
                 + {HYB_ALPHA_SEM} * COALESCE(s.sem_norm, 0.0), 6)
               AS hybrid_score
    FROM lexn l FULL OUTER JOIN semn s ON l.doc_id = s.doc_id
    ORDER BY hybrid_score DESC, doc_id
    LIMIT 10
""".replace("{bm25_deleted}", LLM_ORACLES["docs_bm25_index_deleted"]).replace(
    "{ivf_sem}", _ivf_tombstoned_sem_leg_sql()
)


def docs_pos_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index LIFECYCLE observability — the `_cat/segments`
    row for the third family, split the same way as
    `docs_text_index_stats`: run the scripted lifecycle (build evens →
    merge odds → tombstone odds) and report the manifest plane
    (version, live segments, pending tombstones) next to the data
    plane — vocab size, the PRE-delete indexed doc count (from the
    |docs|-row sidecar, which deletes deliberately do not rewrite)
    and the post-mask live doc/position counts. n_indexed_docs ≠
    n_live_docs is the compaction-owed alert.

    Scale: the sidecar read is |docs|-row; the live counts are
    column-pruned aggregates over the masked postings — index
    metadata cost, never a text scan. The build+merge prefix comes
    from the session-shared :func:`_merged_pos_evenodd_path`;
    the delete — the step this query gates — mutates a private
    :func:`_mutable_index_copy`."""
    import shutil
    from functools import reduce


    docs = load_table(spark, sf_dir, "documents")
    tmp, path = _mutable_index_copy(
        _merged_pos_evenodd_path(spark, sf_dir, docs), "eng_posidx_h_"
    )
    try:
        n_tomb = TX.delete_from_positional_index(
            docs.filter(F.col("doc_id") % 2 == 1).select("doc_id"), path
        )
        m = indexfmt.read_manifest(path, TX.POS_INDEX_FORMAT)
        sidecar = reduce(
            lambda a, b: a.unionByName(b),
            [
                spark.read.parquet(f"{path}/{t}").select("doc_id")
                for t in m["docs"]
            ],
        )
        postings = TX.read_positional_index(spark, path)
        return (
            postings.agg(
                F.countDistinct("token").cast("long").alias("vocab_size"),
                F.countDistinct("doc_id").cast("long").alias("n_live_docs"),
                F.count("*").cast("long").alias("n_live_positions"),
            )
            .crossJoin(
                sidecar.agg(
                    F.count("*").cast("long").alias("n_indexed_docs")
                )
            )
            .select(
                F.lit(int(m["version"])).cast("int").alias("version"),
                F.lit(len(m["segments"])).cast("int").alias("n_segments"),
                F.lit(n_tomb).cast("long").alias("n_tombstoned"),
                "vocab_size",
                "n_indexed_docs",
                "n_live_docs",
                "n_live_positions",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# manifest plane = analytic constants of the scripted lifecycle
# (build=v1, merge=v2, delete=v3; merge appends exactly one segment);
# data plane recomputed from the documents table. The masked vocab is
# corpus-wide: every token appears in some even doc at the shipped SFs
# is NOT assumed — vocab counts tokens of LIVE (even) docs only.
LLM_ORACLES["docs_pos_index_stats"] = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    )
    SELECT CAST(3 AS INT) AS version,
           CAST(2 AS INT) AS n_segments,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 2 = 1)
               AS BIGINT) AS n_tombstoned,
           CAST((SELECT count(DISTINCT token) FROM toks
                 WHERE doc_id % 2 = 0) AS BIGINT) AS vocab_size,
           CAST((SELECT count(*) FROM documents) AS BIGINT)
               AS n_indexed_docs,
           CAST((SELECT count(DISTINCT doc_id) FROM toks
                 WHERE doc_id % 2 = 0) AS BIGINT) AS n_live_docs,
           CAST((SELECT count(*) FROM toks WHERE doc_id % 2 = 0)
               AS BIGINT) AS n_live_positions
"""

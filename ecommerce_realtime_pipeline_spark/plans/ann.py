"""Vector-search queries over the ``embeddings`` table: exact and
approximate kNN (sign-LSH, IVF, PQ, IVF-PQ, graph beam search), the
persisted IVF index lifecycle (persist, merge, delete, time travel,
requantize), quantizer training, semantic dedup and decontamination,
and embedding analytics.

Each query's DuckDB oracle is the ``ORACLES`` entry right after it.
The LSH planes and the md5-ordered quantizer picks are deterministic,
so the oracles replicate the ANN pipelines exactly instead of checking
recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import load_table
from ecommerce_realtime_pipeline_spark.operators import indexfmt
from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
from ecommerce_realtime_pipeline_spark.plans import fixtures as FX

#: query name -> DuckDB oracle SQL, one entry per query of this module
ORACLES: dict[str, str] = {}

N_QUERY_VECS = 10  # ANN query set: vec_id < 10 (deterministic)
KNN_K = 5
EMB_DIM = 64  # the testdata embeddings are 64-dim at every SF


def _query_vectors(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < N_QUERY_VECS)


def emb_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the 10 lowest vec_ids."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_bruteforce(emb, _query_vectors(emb), k=KNN_K)


ORACLES["emb_knn_bruteforce"] = """
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
    """


def _lsh_oracle_sql() -> str:
    """Generate the emb_knn_lsh oracle: the hyperplane matrix is a
    pure function of (dim, bits, tables, seed), so its exact float64
    constants are inlined as a VALUES literal (repr round-trips
    doubles) — no RNG or libm divergence between engines. The oracle
    then mirrors the Spark pipeline: per-(vector, plane) dot products →
    sign bits → per-table bucket ids → bucket equi-join candidates →
    exact cosine rerank. The testdata embeddings are ``EMB_DIM``-dim
    (all SFs); the Spark query derives dim dynamically and agrees."""
    dim, bits = EMB_DIM, SIM.LSH_BITS
    planes = SIM.hyperplanes(dim, bits * SIM.LSH_TABLES, SIM.SEED)
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


ORACLES["emb_knn_lsh"] = _lsh_oracle_sql()


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


# md5-ordered centroid pick → the oracle replicates the IVF
# quantizer, probes, and exact rerank (all-pairs against 16
# centroids is fine for an oracle; the Spark path never cross-joins
# the corpus itself).
ORACLES["emb_knn_ivf"] = f"""
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ),
        cents AS (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
                   ) - 1 AS cid,
                   v AS cv, nrm AS cn
            FROM base
            ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
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
    """


def emb_knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED index lifecycle: build the IVF-flat index ONCE to
    parquet posting-list directories (partitioned by cell, vectors
    inline), then serve top-5 by loading centroids, probing, and
    partition-pruned cell reads — write→load→probe→rerank, the
    production serving path where the index outlives the session.
    Same quantizer parameters as ``emb_knn_ivf`` ⇒ bit-identical
    results ⇒ shares its DuckDB oracle verbatim."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = FX.persisted_ivf_path(spark, sf_dir, emb)
    return SIM.knn_ivf_from_index(
        spark, path, _query_vectors(emb), k=KNN_K, n_probe=8
    )


# emb_knn_ivf_persisted: same quantizer (seed/k/n_probe) as the
# in-session IVF ⇒ identical cells, candidates, and rerank — the
# persisted path is a storage-layout change, not a semantic one.
ORACLES["emb_knn_ivf_persisted"] = ORACLES["emb_knn_ivf"]


def _ivf_wide_probe_sql() -> str:
    """The emb_knn_ivf oracle chain with the probe cut widened to 16
    (the batched-cell-probe gate): only the rn cut changes; quantizer,
    assignment, rerank are byte-identical."""
    sql = ORACLES["emb_knn_ivf"]
    anchor = "WHERE rn <= 8 AND vec_id < 10"
    assert sql.count(anchor) == 1
    return sql.replace(anchor, "WHERE rn <= 16 AND vec_id < 10")


def emb_knn_ivf_wide_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIDE-PROBE serve from the persisted IVF index: n_probe=16 —
    above ``indexfmt.SEEK_LIST_THRESHOLD`` (8) — so the cell seek's
    BATCHED existence probe fires (ONE listing per segment instead of
    16 serialized per-directory HEADs; the ANN twin of
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
    path = FX.persisted_ivf_path(spark, sf_dir, emb)
    return SIM.knn_ivf_from_index(
        spark, path, _query_vectors(emb), k=KNN_K, n_probe=16
    )


ORACLES["emb_knn_ivf_wide_probe"] = _ivf_wide_probe_sql()


# Shared PQ pipeline CTEs: md5-ordered 32-vector training pick (same
# md5 ordering as the IVF oracle), sliced into 16 × 4-dim
# sub-codebooks;
# per-(vector, subspace, code) squared-L2 distances summed as
# DECIMAL(28,14) — engine-exact, so argmin code assignment and ADC
# ranking (incl. MIN(c) tie-breaks) match Spark bit-for-bit.
_PQ_CTES = f"""
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
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
               ) - 1 AS c, nv
        FROM basen
        ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
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


ORACLES["emb_pq_codes"] = _PQ_CTES + """
    SELECT vec_id, s AS subspace, code,
           CAST(ROUND(qd, 6) AS DOUBLE) AS qdist
    FROM codes
"""


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


ORACLES["emb_knn_pq"] = _PQ_CTES + """
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


# Composite IVF-PQ: the IVF oracle's cosine cell assignment/probing
# (raw vectors) + the PQ oracle's normalized codebook/codes/LUT, with
# ADC restricted to cell-pruned pairs.
ORACLES["emb_knn_ivfpq"] = _PQ_CTES + f"""
    ,
    nb AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base
    ),
    cents AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
               ) - 1 AS cid,
               v AS cv, nrm AS cn
        FROM nb
        ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
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


# Two Lloyd iterations as a finite CTE chain: d{t} = decimal-exact
# squared-L2 to the iteration-(t-1) centroids, a{t} = argmin with
# MIN(cid) tie-break, c{t} = member means (exact decimal sum, one
# double division per component). Mirrors kmeans_refine step for step.
_KMEANS_CTES = f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    comp AS (
        SELECT vec_id, unnest(range(0, len(v))) AS pos, unnest(v) AS x
        FROM base
    ),
    train AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
               ) - 1 AS cid, v
        FROM base
        ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
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


def emb_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations refining the md5-sampled quantizer (the
    IVF/PQ training step): DECIMAL-exact assignment distances make the
    argmin engine-deterministic, centroid means are exact decimal sums
    with one double division — so the oracle replicates both
    iterations CTE-for-CTE and hash-checks the refined centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.kmeans_refine(emb, cache_key=f"{sf_dir}/embeddings").orderBy("cid")


ORACLES["emb_kmeans_refine"] = _KMEANS_CTES + """
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


def emb_knn_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 served from the Lloyd-refined quantizer — the
    train→index→probe→rerank production lifecycle in one query, every
    stage engine-deterministic (decimal assignment, min-cid ties) and
    replicated in the SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_ivf_refined(
        emb, _query_vectors(emb), k=KNN_K, cache_key=f"{sf_dir}/embeddings"
    )


# Refined-IVF serving: assignment and probing re-run the same decimal
# squared-L2 kernel against c2 (the shipped quantizer), then exact
# cosine rerank — train→index→probe→rerank replicated end to end.
ORACLES["emb_knn_ivf_refined"] = _KMEANS_CTES + """
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


ORACLES["emb_cosine_neardup"] = """
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
    """


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
    scale factor: a kernel switch at k > 16 would need a fixed-16
    Lloyd oracle that is only valid for n ≤ 1024. With one kernel and
    a scale-aware oracle (k = max(16, n//64) computed in SQL), the
    pair is hash-exact at sf0.001/0.01/0.1. The Lloyd-refined exact
    kernel remains available on the operator for callers that want
    refined cells."""
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


# emb_semdedup: SCALE-AWARE replay of the sampled-quantizer kernel
# (a fixed-16 Lloyd oracle would only be valid for n ≤ 1024 and
# rows-mismatch at the sf0.1 sweep): k = max(16, n//64)
# is computed IN SQL from the planted corpus, the k centroids are the
# md5-ordered raw-corpus sample (the emb_knn_ivf pick, verbatim), and
# assignment is argmax cosine with the (sim DESC, cid ASC) tie-break
# the Arrow matmul's argsort produces. Pair membership at cos ≥ 0.9
# has the analytic planted-dup margin (≥ 0.9428 vs ≤ ~0.51 natural),
# so no float column is output and summation-order ulps cannot flip a
# pair — only a cell assignment, and only at a true cosine near-tie
# (none at any tested SF; the emb_knn_ivf oracle banks on the same
# argmax equality corpus-wide at sf0.1).
ORACLES["emb_semdedup"] = f"""
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
                       ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
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


# emb_decontaminate: planted corpus + all-pairs vs the 50-vector eval
# set (small side — the oracle mirrors the broadcast-exact plan), id
# output only (0.9428-vs-0.51 analytic margin).
ORACLES["emb_decontaminate"] = f"""
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


ORACLES["emb_quantize_int8"] = """
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
    """


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


# emb_label_drift: per-(label,pos) means from DECIMAL-exact sums,
# one double divide, squared diffs re-summed in DECIMAL — the same
# fixed IEEE chain as the Spark side; the planted snapshot reuses
# the cosine-neardup perturbation CTE.
ORACLES["emb_label_drift"] = """
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
    """


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid stats with exact decimal component sums."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.label_centroids(emb)


ORACLES["emb_label_centroids"] = """
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
    """


DIM_REDUCE_OUT, DIM_REDUCE_SEED = 8, 7  # emb_dim_reduce's JL projection


def _projection_oracle_sql() -> str:
    planes = SIM.hyperplanes(EMB_DIM, DIM_REDUCE_OUT, DIM_REDUCE_SEED)
    rows = ",".join(
        f"({j},{i},{planes[j][i]!r})"
        for j in range(DIM_REDUCE_OUT)
        for i in range(EMB_DIM)
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


def emb_dim_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction (64 → 8, JL): exact
    DECIMAL component sums make the projected components engine-
    portable; the oracle inlines the same plane constants (repr
    round-trips doubles — the `_lsh_oracle_sql` pattern)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.random_projection(
        emb, out_dim=DIM_REDUCE_OUT, seed=DIM_REDUCE_SEED, dim=EMB_DIM
    )


ORACLES["emb_dim_reduce"] = _projection_oracle_sql()


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
    label populations stay in range ((15,10) would NULL silently at
    1e5 while DuckDB errors); n at (12,0) → nx
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


ORACLES["emb_label_outliers"] = f"""
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
    ranked = SIM.exact_rerank(cross_label, emb, anchors, HARD_NEG_K)
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


ORACLES["emb_hard_negatives"] = f"""
    WITH base AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ),
    cents AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
               ) - 1 AS cid,
               v AS cv, nrm AS cn
        FROM base
        ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
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


ORACLES["emb_ann_recall"] = f"""
    WITH lsh_ranked AS ({_lsh_oracle_sql()}),
    brute_ranked AS ({ORACLES["emb_knn_bruteforce"]}),
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


ORACLES["emb_cluster_quality"] = _KMEANS_CTES + """
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


RECALL_PROBE_COUNTS = (1, 2, 4, 8)


def _ivf_ranked_sql(n_probe: int) -> str:
    """The emb_knn_ivf oracle chain with its probe budget swapped —
    the probes CTE is the single 'rn <= 8' site."""
    sql = ORACLES["emb_knn_ivf"]
    assert sql.count("rn <= 8") == 1
    return sql.replace("rn <= 8", f"rn <= {n_probe}")


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


ORACLES["emb_recall_vs_probes"] = (
    "WITH brute AS ({brute}),\n".format(brute=ORACLES["emb_knn_bruteforce"])
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


def _ivf_occupancy_sql() -> str:
    """Truncate the emb_knn_ivf oracle chain after its `assign` CTE
    and aggregate per-cell occupancy — the health report's oracle."""
    sql = ORACLES["emb_knn_ivf"]
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
    path = FX.persisted_ivf_path(spark, sf_dir, emb)
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


ORACLES["emb_ivf_index_health"] = _ivf_occupancy_sql()


def ivf_tombstoned_sem_leg_sql() -> str:
    """The emb_knn_ivf oracle chain reshaped into the semantic leg of
    the indexed hybrid queries (:mod:`plans.textsearch`): query set =
    vec_id 0 only, candidates restricted to the surviving (even)
    vectors — the tombstone anti-join's effect — and the cut deepened
    to top-20."""
    sql = ORACLES["emb_knn_ivf"]
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


def _ivf_even_trained_sql() -> str:
    """The emb_knn_ivf oracle chain with the quantizer sample drawn
    from the even-vec_id half (the merged-index fixture's training
    corpus); assignment/probing/rerank still run over ALL vectors."""
    sql = ORACLES["emb_knn_ivf"]
    anchor = "v AS cv, nrm AS cn\n            FROM base"
    assert sql.count(anchor) == 1
    return sql.replace(
        anchor, "v AS cv, nrm AS cn\n            FROM base WHERE vec_id % 2 = 0"
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
    drifted fixture (:func:`fixtures.ivf_drifted_path`) — build+merge
    paid once per session across the drift family."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = FX.ivf_drifted_path(spark, sf_dir, emb)
    return SIM.knn_ivf_from_index(
        spark, path, _query_vectors(emb), k=KNN_K, n_probe=8
    )


ORACLES["emb_knn_ivf_merged"] = _ivf_even_trained_sql()


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
    fixture comes from the session-shared :func:`fixtures.ivf_drifted_path`;
    the retrain — the step this query gates — mutates a
    private :func:`fixtures.mutable_index_copy`."""
    emb = load_table(spark, sf_dir, "embeddings")
    with FX.mutable_index_copy(
        FX.ivf_drifted_path(spark, sf_dir, emb), "eng_ivfrq_q_"
    ) as path:
        SIM.requantize_ivf_index(spark, path)
        return SIM.knn_ivf_from_index(
            spark, path, _query_vectors(emb), k=KNN_K, n_probe=8
        ).localCheckpoint(eager=True)


#: requantize over the full live set == fresh full-corpus build, so
#: the drift-free emb_knn_ivf chain IS the oracle (see docstring)
ORACLES["emb_knn_ivf_requantized"] = ORACLES["emb_knn_ivf"]


def emb_knn_ivf_policy_remediated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantizer-drift POLICY loop end to end
    (`similarity.maybe_requantize_ivf_index` — the scheduler that
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
    :func:`fixtures.ivf_drifted_path`; the policy loop — the step this
    query gates — runs on a private :func:`fixtures.mutable_index_copy`."""
    emb = load_table(spark, sf_dir, "embeddings")
    with FX.mutable_index_copy(
        FX.ivf_drifted_path(spark, sf_dir, emb), "eng_ivfpol_q_"
    ) as path:
        fired = SIM.maybe_requantize_ivf_index(spark, path, 1.2)
        assert fired, "drift fixture must breach the 1.2 occupancy threshold"
        return SIM.knn_ivf_from_index(
            spark, path, _query_vectors(emb), k=KNN_K, n_probe=8
        ).localCheckpoint(eager=True)


#: the policy fires on the fixture and requantize == fresh build over
#: the live set, so the drift-free chain is the oracle here too
ORACLES["emb_knn_ivf_policy_remediated"] = ORACLES["emb_knn_ivf"]


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
    :func:`fixtures.ivf_even_path`; the knob-carrying merge — the step
    this query gates — lands on a private
    :func:`fixtures.mutable_index_copy`."""
    emb = load_table(spark, sf_dir, "embeddings")
    with FX.mutable_index_copy(
        FX.ivf_even_path(spark, sf_dir, emb), "eng_ivfmpol_q_"
    ) as path:
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


#: the knob's retrain ≡ fresh full-corpus build → drift-free oracle
ORACLES["emb_knn_ivf_merge_policy"] = ORACLES["emb_knn_ivf"]


def emb_knn_ivf_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL on the persisted IVF index, driver-gated: the full
    corpus is indexed, the odd
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
    (:func:`fixtures.persisted_ivf_deleted_path`), whose generation
    contract pins v1 = the pre-delete full build."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = FX.persisted_ivf_deleted_path(spark, sf_dir, emb)
    return SIM.knn_ivf_from_index(
        spark, path, _query_vectors(emb), k=KNN_K, n_probe=8, version=1
    )


#: the retained v1 generation IS the full-corpus index → the
#: drift-free chain is the oracle
ORACLES["emb_knn_ivf_timetravel"] = ORACLES["emb_knn_ivf"]


def _ivf_label_filtered_sql() -> str:
    """The emb_knn_ivf oracle chain with the same-label constraint
    added to candidate generation (the Spark path's pre-filter,
    mirrored)."""
    sql = ORACLES["emb_knn_ivf"]
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


ORACLES["emb_knn_same_label"] = _ivf_label_filtered_sql()


POWER_ITERS = 2  # emb_top_component's power-iteration rounds


def _power_iteration_sql() -> str:
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
    for t in range(1, POWER_ITERS + 1):
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
    FROM v{POWER_ITERS}, nw{POWER_ITERS}
    ORDER BY abs(ROUND(CAST(v AS DOUBLE), 4)) DESC, pos
    LIMIT 8""")
    return "".join(parts)


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
        emb, iters=POWER_ITERS, cache_key=f"{sf_dir}/embeddings"
    )


ORACLES["emb_top_component"] = _power_iteration_sql()


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


ORACLES["emb_knn_graph_beam"] = f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ),
    cents AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
               ) - 1 AS cid,
               v AS cv, nrm AS cn
        FROM base
        ORDER BY md5(CAST(vec_id AS VARCHAR) || '|{SIM.SEED}'), vec_id
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

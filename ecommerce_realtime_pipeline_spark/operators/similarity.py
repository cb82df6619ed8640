"""Similarity-search operators over embedding columns (SURVEY §2.9):
brute-force cosine top-k (correctness baseline) and a random-hyperplane
LSH-bucketed variant (the scale path).

Scale stance (100 TB):
- Brute force is O(n·q) with the q query vectors BROADCAST — correct
  baseline, only viable for small query sets; it is the verification
  oracle for the ANN path, not the production path.
- LSH: multi-table sign-LSH — ``n_tables`` independent tables of
  ``bits`` hyperplanes each; a pair is a candidate if it shares a
  bucket in ANY table (OR-amplification), then exact rerank. Candidate
  generation is an equi-join on (table, bucket) — no cross join
  anywhere.
- All dot products ride ``zip_with``/``aggregate`` (JVM, codegen) on
  the array column — no Python in the hot path.

Every operator reads its vectors from the ``embedding`` column. The
index parameters below are part of each index's design, fixed when the
index is built (and replayed by the SQL oracles), not per-call knobs.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark import storage
from ecommerce_realtime_pipeline_spark.session import memo, overlapped

from . import indexfmt

#: seed of the LSH hyperplanes and of the md5-ordered quantizer pick
#: (vectors ordered by ``md5(vec_id || '|42')``)
SEED = 42
#: ``knn_lsh``'s index: tables of sign-hyperplane bits
LSH_BITS, LSH_TABLES = 4, 12
#: the cosine near-dup self-join's static LSH width, and the floor of
#: its occupancy-pinned sizing (``auto_lsh_params``)
NEARDUP_BITS, NEARDUP_TABLES = 8, 12
#: coarse cells of the IVF quantizer (and centroids of k-means)
N_CENTROIDS = 16
#: Lloyd iterations of the k-means refinement
LLOYD_ITERS = 2
#: product quantization: subspaces, codewords per subspace, and the
#: ADC candidates that get the exact rerank
PQ_M, PQ_KSUB, PQ_REFINE = 16, 32, 40


def embedding_dim(emb: DataFrame, cache_key: str | None = None) -> int:
    """Length of the embedding arrays: one one-row job (array columns
    carry no length in the schema, so this can't come from metadata
    alone), memoized per session under ``cache_key``
    (``session.memo``)."""

    def build() -> int:
        row = emb.select("embedding").first()
        if row is None:
            # loud contract instead of the NoneType-subscript the bare
            # first()[0] throws on an empty corpus: every ANN/dedup
            # entry point funnels through here, so this one check
            # converts a family of obscure numpy/TypeError crashes into
            # one message
            raise ValueError(
                "embedding corpus is empty — dim cannot be inferred and "
                "cosine/ANN operators have no meaningful output; filter "
                "upstream or skip the call"
            )
        return len(row[0])

    return memo(emb.sparkSession, cache_key, ("embedding_dim",), build)


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a):
    return F.sqrt(dot(a, a))


def with_norm(emb: DataFrame) -> DataFrame:
    return emb.withColumn("_nrm", norm(F.col("embedding")))


def knn_bruteforce(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k for each query vector against the corpus.

    ``queries`` must carry (vec_id, embedding); it is broadcast — the
    corpus is scanned once. Output: (query_id, neighbor_id, rank,
    cos_sim) with deterministic (cos desc, neighbor_id) ordering.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    c = with_norm(emb).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv"), "_nrm"
    )
    scored = (
        c.crossJoin(F.broadcast(q.withColumn("_qn", norm(F.col("_qv")))))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_nrm")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cos_sim"))
    )


def hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed ⇒ identical buckets
    across runs, machines, and partitionings)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def bucket_udf(planes: list[list[float]], bits: int, n_tables: int):
    """Vectorized Arrow-batched bucket computation: one numpy matmul per
    batch gives every table's sign-bucket for every vector.

    Column-function composition (48 nested aggregate lambdas over a
    64-wide literal) measured 30-45s of driver-side analysis per call —
    this is the textbook case for a Pandas UDF: the planes matrix rides
    the closure, the batch is a (n × dim) @ (dim × planes) product.
    """
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = 2 ** np.arange(bits, dtype=np.int64)

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy())  # (n, dim)
        signs = (mat @ P >= 0).astype(np.int64)  # (n, n_planes)
        b = signs.reshape(len(mat), n_tables, bits) @ weights  # (n, n_tables)
        return pd.Series(list(b))

    return buckets


def knn_lsh(
    emb: DataFrame, queries: DataFrame, k: int = 5, dim: int | None = None
) -> DataFrame:
    """ANN cosine top-k: MULTI-TABLE sign-LSH + exact rerank inside
    candidate buckets.

    ``LSH_TABLES`` independent tables of ``LSH_BITS`` hyperplanes each;
    a pair collides if it shares a bucket in ANY table — recall is
    1-(1-p^bits)^tables with p = 1 - θ/π. Candidate generation is an
    equi-join on (table_id, bucket); the corpus side carries one index
    row per table and vector (an LSH index is ~tables× key storage, not
    data duplication — only (id, bucket) pairs are exploded, the
    vectors themselves ride the final rerank join once).

    4 bits × 12 tables give ≥0.8 recall even on isotropic
    random vectors (the hardest case, θ≈70°); clustered real-world
    embeddings reach ~1 at far lower scan fractions. Same output
    contract as ``knn_bruteforce``. Pass ``dim`` (or use
    :func:`embedding_dim` with a cache key) to avoid a one-row probe
    job before planning.
    """
    dim = dim or embedding_dim(emb)
    planes = hyperplanes(dim, LSH_BITS * LSH_TABLES, SEED)
    buckets = bucket_udf(planes, LSH_BITS, LSH_TABLES)

    # index side: (neighbor_id, tbl, bucket) — narrow key rows only
    index = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode(buckets(F.col("embedding"))).alias("tbl", "bucket"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(buckets(F.col("embedding"))).alias("tbl", "bucket"),
    )
    cand = (
        index.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return exact_rerank(cand, emb, queries, k)


def exact_rerank(
    cand: DataFrame, emb: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """Exact cosine top-k over a (query_id, neighbor_id) candidate set —
    the verification tail shared by every ANN index (LSH, IVF). Joins
    the corpus vectors once, broadcasts the query vectors."""
    corpus = with_norm(emb).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv"), "_nrm"
    )
    qv = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv")))
    scored = (
        cand.join(corpus, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos_sim", dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_nrm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cos_sim"))
    )


#: manifest format tag for the persisted IVF index (see indexfmt)
IVF_INDEX_FORMAT = "ivf-index"


def _read_centroid_list(spark, path: str, m: dict) -> list[list[float]]:
    """The manifest generation's quantizer as a driver list (bounded:
    k·dim — the same bounded-collect class as ``ivf_centroids``).
    Without a memo every IVF serve/merge would re-collect the same
    table, one Spark job apiece. Centroid directories are immutable
    once referenced (a fresh uuid name per generation, never rewritten
    in place; vacuum only deletes unreferenced ones), so (index path,
    centroid dir name) keys the exact bytes in ``session.memo``. The
    memoized value is stored as tuples and COPIED on return, so a
    caller mutating its list cannot corrupt later serves of the same
    generation."""

    def build() -> list[tuple]:
        rows = (
            storage.read_parquet(spark, f"{path}/{m['centroids']}")
            .orderBy("cid")
            .collect()
        )
        return [tuple(r["centroid"]) for r in rows]

    cached = memo(
        spark,
        "ivf_centroid_table",
        ("_read_centroid_list", path, m["centroids"]),
        build,
    )
    return [list(v) for v in cached]


def ivf_centroids(
    emb: DataFrame, n_centroids: int = N_CENTROIDS, cache_key: str | None = None
) -> list[list[float]]:
    """Deterministic coarse quantizer: ``n_centroids`` corpus vectors
    chosen by md5 order of vec_id (IVF-flat with sampled init — no
    k-means dependency, reproducible across runs/partitionings, and
    engine-portable: DuckDB replicates the identical pick via
    ``md5(vec_id || '|42')`` (``SEED``), which is what licenses the emb_knn_ivf
    oracle). The centroid table is small by design (√n-ish in
    practice), so collecting it to broadcast into the assignment UDF is
    the standard IVF layout, not a driver-side data pull; ``limit``
    after ``orderBy`` plans as TakeOrdered — no full sort materializes.
    The quantizer is immutable for a given corpus, so it is memoized
    per session under ``cache_key`` (``session.memo``).
    At 100 TB swap the global hash sort for TABLESAMPLE + local top-n;
    semantics unchanged."""

    def build() -> list[list[float]]:
        rows = (
            emb.select("vec_id", "embedding")
            .orderBy(
                F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(f"|{SEED}"))),
                F.col("vec_id"),
            )
            .limit(n_centroids)
            .collect()
        )
        if not rows:
            raise ValueError(
                "ivf_centroids: empty training corpus — an IVF quantizer "
                "needs at least one vector (empty-corpus contract)"
            )
        return [list(r[1]) for r in rows]

    return memo(emb.sparkSession, cache_key, ("ivf_centroids", n_centroids), build)


def _write_centroid_table(spark, cents: list[list[float]], dest: str) -> None:
    """Write the k·dim-tiny quantizer table as ONE parquet file.
    Goes through a pandas/Arrow local frame, NOT a plain Python list:
    ``createDataFrame(list)`` parallelizes into defaultParallelism
    pickled partitions, and ``coalesce(1)`` then drains all of them
    through ONE task's sequential Python-worker round-trips (~4.5 s
    measured for 32 partitions of 16 rows — the single biggest fixed
    cost of every index build/retrain in a profile); the Arrow
    frame is a handful of batches the coalesced task reads in ~0.2 s
    (guide §4: batches over pickled rows, §6: one output file)."""
    spark.createDataFrame(
        pd.DataFrame(
            {
                "cid": range(len(cents)),
                "centroid": [[float(x) for x in v] for v in cents],
            }
        ),
        "cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(dest)


def _probe_udf(centroids: list[list[float]], n_probe: int):
    """Arrow-batched cell assignment: one (batch × dim) @ (dim × n_c)
    matmul per batch → top ``n_probe`` centroid ids by cosine."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    Cn = (C / np.linalg.norm(C, axis=1, keepdims=True)).T  # (dim, n_c)

    @pandas_udf("array<int>")
    def probes(v: pd.Series) -> pd.Series:
        # float64 throughout: cell ranking must agree with a
        # double-precision SQL oracle up to summation-order ulps
        M = np.vstack(v.to_numpy()).astype(np.float64)  # (n, dim)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        sims = Mn @ Cn  # (n, n_c)
        # stable sort so exact cosine ties resolve to the LOWER cid,
        # matching the oracle's row_number ORDER BY sim DESC, cid ASC
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe].astype(
            np.int32
        )
        return pd.Series(list(idx))

    return probes


def knn_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    cache_key: str | None = None,
) -> DataFrame:
    """ANN cosine top-k via IVF (inverted-file) cells: every corpus
    vector is assigned to its nearest coarse centroid (ONE narrow
    matmul pass — this is the index build), queries probe their
    ``n_probe`` nearest cells, exact rerank inside probed cells only.

    Scan fraction ≈ n_probe/``N_CENTROIDS`` per query. Candidate generation
    is an equi-join on the cell id against the broadcast probed-cells
    list — never a cross join. Same output contract as
    ``knn_bruteforce``; recall vs brute force is pinned in tests.

    With ``cache_key`` the index build (centroid pick + corpus cell
    table) is memoized per session: the cell table is a narrow
    (neighbor_id int, cell int) frame localCheckpointed once — the
    actual IVF posting-list layout — so repeat queries pay only the
    probe + rerank, never a rebuild. That is the production shape: the
    index is written once and served many times."""
    corpus_cells, q_cells = ivf_cell_tables(emb, queries, n_probe, cache_key)
    cand = (
        corpus_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return exact_rerank(cand, emb, queries, k)


def knn_ivf_filtered(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    cache_key: str | None = None,
) -> DataFrame:
    """FILTERED vector search: ANN cosine top-k where every neighbor
    must share the query's ``label`` value — the metadata-
    constrained retrieval pattern (same-tenant, same-language,
    same-label). The constraint is applied AT CANDIDATE GENERATION
    (posting-list equi-join → metadata equi-join → exact rerank),
    never after the top-k: post-filtering an unconstrained top-k
    silently starves queries whose neighborhoods are dominated by
    other metadata values (the classic filtered-ANN bug), while
    pre-filtering keeps recall semantics identical to running the
    index on the filtered sub-corpus.

    Scale: reuses the memoized IVF posting lists (build once per
    ``cache_key``); the metadata decoration joins the corpus's narrow
    (id, meta) projection onto the BOUNDED candidate set (|q| ×
    probed-cell occupancy), with the query metadata broadcast — never
    a corpus-wide filter pass per query."""
    corpus_cells, q_cells = ivf_cell_tables(emb, queries, n_probe, cache_key)
    n_meta = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("_nm")
    )
    q_meta = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("_qm")
    )
    cand = (
        corpus_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(n_meta, "neighbor_id")
        .join(F.broadcast(q_meta), "query_id")
        .filter(F.col("_nm") == F.col("_qm"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return exact_rerank(cand, emb, queries, k)


def ivf_cell_tables(
    emb: DataFrame,
    queries: DataFrame,
    n_probe: int = 4,
    cache_key: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The two IVF index frames shared by ``knn_ivf`` and
    ``knn_ivfpq``: ``corpus_cells`` (neighbor_id, cell — the posting
    lists, localCheckpointed and memoized per session under
    ``cache_key`` (``session.memo``)) and ``q_cells`` (query_id, cell —
    each query's ``n_probe`` nearest cells)."""
    cents = ivf_centroids(emb, cache_key=cache_key)

    def build() -> DataFrame:
        assign = _probe_udf(cents, 1)
        cells = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.element_at(assign(F.col("embedding")), 1).alias("cell"),
        )
        # narrow 2-int rows; eager so the matmul runs exactly once
        return cells if cache_key is None else cells.localCheckpoint()

    corpus_cells = memo(emb.sparkSession, cache_key, ("ivf_cell_tables",), build)
    probe = _probe_udf(cents, n_probe)
    q_cells = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(probe(F.col("embedding"))).alias("cell"),
    )
    return corpus_cells, q_cells


def _ivf_body(
    emb: DataFrame,
    parent: str,
    cents: list[list[float]],
    vtype: str,
    caller: str,
    cent_dir: str | None = None,
) -> tuple[str, list[str]]:
    """The build/merge body of the IVF index, shared by write, merge
    and requantize: assign every vector of ``emb`` its nearest centroid
    of ``cents`` (one Arrow pass), cast it to the index's element type
    ``vtype`` and write the batch as one cell-clustered segment under
    ``parent`` — with ``cent_dir``, beside the centroid table (two
    independent writes into fresh names, overlapped, guide §2.6).
    Returns :func:`.indexfmt.write_segment`'s (segment name, cell
    values).

    The element type is the one the manifest RECORDS: merges cast
    their batch to it and the cell seek builds its read schema from
    it, so no segment can carry a different physical type (an
    array<double> batch in an array<float> index would make the
    single-schema seek unreadable). The write is CLUSTERED by cell
    (guide §6): without it every upstream partition emits its own
    file into every cell it touches — an upstream-partitions ×
    n_cells small-file fan that every later read/merge/retrain of the
    segment pays as pure task-scheduling overhead. One narrow
    |batch|-row shuffle buys ≈1 file per cell directory (AQE
    coalesces the tiny partitions); at 100 TB add maxRecordsPerFile
    to re-split oversized cells — the clustering stays correct."""
    assign = _probe_udf(cents, 1)
    cells = emb.select(
        F.col("vec_id").cast("long").alias("neighbor_id"),
        F.col("embedding").cast(f"array<{vtype}>").alias("_v"),
        F.element_at(assign(F.col("embedding")), 1).alias("cell"),
    ).repartition(F.col("cell"))
    writes = [lambda: indexfmt.write_segment(cells, parent, "cell", caller)]
    if cent_dir is not None:
        writes.append(
            lambda: _write_centroid_table(
                emb.sparkSession, cents, f"{parent}/{cent_dir}"
            )
        )
    return overlapped(*writes)[0]


def write_ivf_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = N_CENTROIDS,
    cache_key: str | None = None,
) -> None:
    """Persist the IVF-flat index: posting lists written as parquet
    PARTITIONED BY CELL inside an immutable SEGMENT directory
    (`<path>/seg-<id>/cell=<i>/`) with the vectors stored inline (the
    IVF-flat layout — serving never rejoins the corpus), plus the
    quantizer centroids and the recorded element type, all named by a
    `_CURRENT` manifest (see :mod:`.indexfmt` — the shared
    versioned-index layout). Partitioning by cell is the point: at
    query time the probed cells become PartitionFilters, so the scan
    touches n_probe directories per segment out of n_centroids — the
    columnar analogue of an inverted-file seek. At 100 TB each cell
    directory holds its own row groups and the index is rebuilt (or
    merged) offline like any search index.

    PUBLICATION IS ATOMIC (:func:`.indexfmt.build`): everything
    (manifest included) is staged into a scratch directory and a
    single `os.rename` exposes it — a concurrent reader sees either no
    index or a complete one, and if two builders race, the loser's
    rename fails and it discards its staging dir (the winner's
    identical index serves both). Object stores swap the rename for a
    conditional manifest PUT."""
    cents = ivf_centroids(emb, n_centroids, cache_key)
    vtype = emb.schema["embedding"].dataType.elementType.simpleString()
    cent_dir = indexfmt.new_dir_name("centroids")

    def body(stage):
        seg, values = _ivf_body(emb, stage, cents, vtype, "write_ivf_index", cent_dir)
        return values, {"segments": [seg], "centroids": cent_dir, "vtype": vtype}

    indexfmt.build(path, IVF_INDEX_FORMAT, body, "write_ivf_index")


def read_ivf_index(
    spark, path: str, version: int | None = None
) -> tuple[list[list[float]], DataFrame]:
    """Resolve the `_CURRENT` manifest — or a RETAINED generation via
    ``version`` (time travel inside the retention horizon; see
    :func:`.indexfmt.read_manifest`) — and open the IVF index:
    (centroids as a driver list — the quantizer is k·dim tiny, the
    same bounded-collect class as `ivf_centroids` — and the cell
    postings as the union of the manifest's segment scans). Each
    segment keeps its own cell partitioning, so probed-cell filters
    prune to n_probe directories PER SEGMENT (plan-pinned). Deleted
    vectors vanish immediately via the shared tombstone anti-join
    (:func:`.indexfmt.read_live`); ``compact_ivf_index`` applies
    tombstones physically."""
    m = indexfmt.read_manifest(path, IVF_INDEX_FORMAT, version=version)
    cents = _read_centroid_list(spark, path, m)
    cells = indexfmt.read_live(
        spark, path, m, m["segments"], ["neighbor_id", "_v", "cell"], "neighbor_id"
    )
    return cents, cells


def _seek_cell_dirs(
    spark, path: str, m: dict, cell_ids: list[int]
) -> DataFrame:
    """Shared mechanics of the cell-directory SEEK: open exactly the
    probed cells' directories per live segment straight off the
    manifest, mask tombstones with the same broadcast anti-join as the
    discovery reader. The read schema comes from the manifest's
    recorded element type (``vtype``) — zero footer reads, and sound
    because write/merge/compact/requantize all pin segments to that
    type. Duplicate cell ids are collapsed (order-preserving
    ``dict.fromkeys``) so a caller passing a repeated id cannot
    duplicate that cell's rows; the existence probe routes through
    :func:`..operators.indexfmt.existing_dirs` — batched per segment:
    short probe lists keep one HEAD-class ``dir_exists`` per (cell,
    segment) (local ``os.path`` / Hadoop ``FileSystem`` by scheme),
    wide ones pay ONE segment listing instead of n_probe serialized
    object-store round-trips."""
    from functools import reduce

    vtype = indexfmt.required(m, "vtype")
    schema = f"neighbor_id bigint, _v array<{vtype}>"
    dirs = {f"cell={c}": c for c in dict.fromkeys(int(c) for c in cell_ids)}
    parts = [
        storage.read_parquet(spark, f"{path}/{s}/{name}", schema)
        .withColumn("cell", F.lit(dirs[name]).cast("int"))
        for s in m["segments"]
        for name in indexfmt.existing_dirs(spark, f"{path}/{s}", list(dirs))
    ]
    if not parts:
        return spark.createDataFrame([], f"{schema}, cell int")
    posts = reduce(lambda a, b: a.unionByName(b), parts)
    return indexfmt.mask_tombstones(spark, path, m, posts, "neighbor_id").select(
        "neighbor_id", "_v", "cell"
    )


def seek_ivf_cells(
    spark, path: str, cell_ids: list[int], version: int | None = None
) -> tuple[list[list[float]], DataFrame]:
    """Cell-directory SEEK of the IVF index — the ANN twin of
    ``text.seek_positional_tokens``: open exactly the probed cells'
    directories per live segment directly from the manifest, skipping
    Spark's partition discovery (which lists EVERY cell directory of
    every segment before pruning — |cells|-linear driver metadata per
    query; negligible at k=16, but the occupancy-pinned sizing rule
    makes k track the corpus, so at scale probed reads pay a
    vocab-class discovery pass exactly like the text families).
    Row-identical to ``read_ivf_index`` postings filtered to the
    probed cells, tombstones masked by the same broadcast anti-join
    (test-pinned); a cell absent from a segment contributes nothing;
    duplicate cell ids are collapsed. Returns (centroids, probed
    postings). This IS the production serving path:
    :func:`knn_ivf_from_index` reads through it."""
    m = indexfmt.read_manifest(path, IVF_INDEX_FORMAT, version=version)
    cents = _read_centroid_list(spark, path, m)
    return cents, _seek_cell_dirs(spark, path, m, cell_ids)


def knn_ivf_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    version: int | None = None,
) -> DataFrame:
    """Serve ANN top-k from a PERSISTED IVF index (built by
    :func:`write_ivf_index`) — the load half of the index lifecycle:
    read the (tiny) centroid table, probe each query's ``n_probe``
    cells, read ONLY those cell directories (direct per-cell seeks —
    asserted in tests), exact-cosine rerank on the vectors stored
    inline.
    ``version`` serves from a RETAINED manifest generation instead of
    ``_CURRENT`` — the Iceberg snapshot-read contract (time travel
    inside the retention horizon), pinned equal to the pre-mutation
    query in tests.
    Given the same quantizer parameters this returns bit-identical
    results to the in-session :func:`knn_ivf` — which is what lets the
    persisted path share its SQL oracle.

    The probed-cell id collect is bounded by |queries|·n_probe (the
    same bounded-collect class as the centroid pick).

    The probed cells are read via the CELL-DIRECTORY SEEK
    (:func:`_seek_cell_dirs` — row-identity with the pruned discovery
    read test-pinned): the serve opens exactly |probed| directories
    per live segment off the manifest instead of letting Spark's
    partition discovery list all n_centroids directories first — at
    the occupancy-pinned sizing rule (k ~ n/occ) that discovery pass
    is corpus-linear driver metadata per query, the measured serving
    bottleneck of the index lifecycle bench."""
    m = indexfmt.read_manifest(path, IVF_INDEX_FORMAT, version=version)
    cents = _read_centroid_list(spark, path, m)
    probe = _probe_udf(cents, n_probe)
    q_rows = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(probe(F.col("embedding"))).alias("cell"),
    ).collect()  # bounded: |queries|·n_probe — the probe pass runs ONCE
    # pandas/Arrow local frame, not createDataFrame(list): the list
    # path parallelizes |queries|·n_probe rows over defaultParallelism
    # pickled partitions — measurable fixed cost on every serve for a
    # frame whose only consumer is a broadcast (guide §4)
    q_cells = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [r["query_id"] for r in q_rows],
                "cell": [int(r["cell"]) for r in q_rows],
            }
        ),
        "query_id long, cell int",
    )
    probed = sorted({int(r["cell"]) for r in q_rows})
    # candidate generation and rerank each read the SEEKED cell
    # directories (|probed| of n_centroids per segment, no discovery);
    # two seeked scans beat caching here because a localCheckpoint
    # would hide the scan from the serving plan and pin the blocks
    # past the query's lifetime
    cells = _seek_cell_dirs(spark, path, m, probed)
    cand = (
        cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    stored_vecs = cells.select(
        F.col("neighbor_id").alias("vec_id"), F.col("_v").alias("embedding")
    )
    return exact_rerank(cand, stored_vecs, queries, k)


def _seq_l2(vals: list) -> float:
    """Sequential-fold L2 norm — the SAME accumulation order as
    Spark's ``aggregate`` fold and DuckDB's ``list_dot_product``, so
    all three engines produce the bit-identical double."""
    s = 0.0
    for x in vals:
        s += float(x) * float(x)
    return math.sqrt(s)


def pq_codebook_rows(
    emb: DataFrame, cache_key: str | None = None
) -> list[tuple[int, int, int, float]]:
    """Long-form product-quantization codebook: ``(s, c, i, y)`` rows —
    subspace s, code c, global dim index i, UNIT-NORMALIZED component
    value y. The ``PQ_KSUB`` training vectors are the same deterministic
    md5-ordered pick as :func:`ivf_centroids` (and share its memo),
    normalized to the unit sphere and sliced into ``PQ_M`` contiguous
    subspaces. Normalization is what makes PQ serve COSINE search:
    on unit vectors squared-L2 = 2·(1−cos), so ADC ranking is monotone
    in cosine — unnormalized PQ ranks by raw L2 and decorrelates from
    the cosine target when norms vary. Sampled-init, reproducible
    across engines (licenses the SQL oracle); a production deployment
    would k-means-refine each sub-codebook — layout, encode, and ADC
    machinery are unchanged by that swap."""
    train = ivf_centroids(emb, PQ_KSUB, cache_key)
    dim = len(train[0])
    sub = dim // PQ_M
    norms = [_seq_l2(train[c]) for c in range(PQ_KSUB)]
    return [
        (min(i // sub, PQ_M - 1), c, i, float(train[c][i]) / norms[c])
        for c in range(PQ_KSUB)
        for i in range(dim)
    ]


def _unit_vectors(vecs: DataFrame) -> DataFrame:
    """(vec_id, _nv): unit-normalized double components. Element j is
    x_j/‖x‖ with the norm a sequential fold — every engine computes
    the identical doubles."""
    return vecs.withColumn("_nrm", norm(F.col("embedding"))).select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") / F.col("_nrm")
        ).alias("_nv"),
    )


def _pq_subspace_dists(vecs: DataFrame, id_alias: str, cb: DataFrame) -> DataFrame:
    """Exact per-(vector, subspace, code) squared L2 distance between
    the UNIT-NORMALIZED subvector and the codebook entry: per-element
    squared diffs are IEEE doubles (bit-identical in any engine),
    summed as DECIMAL(28,14) — order-independent, so code assignment
    and ADC ranking are engine-exact, never ulp-dependent (same stance
    as ``label_centroids``/``random_projection``).

    Scale: the standard distributed matmul layout — posexplode the
    vector, broadcast the (m·ksub·dim)-row codebook, partial-agg
    groupBy. One shuffle of skinny rows; no UDF, no collect."""
    comp = _unit_vectors(vecs).select(
        F.col("vec_id").alias(id_alias), F.posexplode("_nv").alias("i", "x")
    )
    sq = (F.col("x").cast("double") - F.col("y")) * (
        F.col("x").cast("double") - F.col("y")
    )
    return (
        comp.join(F.broadcast(cb), "i")
        .groupBy(id_alias, "s", "c")
        .agg(F.sum(sq.cast("decimal(28,14)")).alias("d"))
    )


def pq_encode(emb: DataFrame, cache_key: str | None = None) -> DataFrame:
    """Product-quantization encode: each vector → ``PQ_M`` sub-codes
    (argmin squared-L2 codebook entry per subspace, ties to the
    smallest code via lexicographic struct-min). PQ is THE 100 TB
    embedding-corpus compression: m bytes per vector (here 16) instead
    of 4·dim (256) — a 16× memory cut that lets the whole corpus's
    codes live executor-resident for ADC scans.

    Output: (vec_id, subspace, code, _qd exact-decimal quantization
    distance) — long form, one row per subspace. With ``cache_key``
    the code table (narrow (long, int, int, decimal) rows — the
    compressed index itself) is localCheckpointed and memoized per
    session under ``cache_key`` (``session.memo``).

    Distances are decimal-exact sums via the posexplode+join layout, so
    the argmin (incl. tie-breaks) is engine-exact, which is what
    licenses the SQL oracle. Cost is O(n·dim·ksub) join rows.
    """
    spark = emb.sparkSession

    def build() -> DataFrame:
        cb = spark.createDataFrame(
            pq_codebook_rows(emb, cache_key), "s int, c int, i int, y double"
        )
        codes = (
            _pq_subspace_dists(emb, "vec_id", cb)
            .groupBy("vec_id", "s")
            .agg(F.min(F.struct("d", "c")).alias("_m"))
            .select(
                "vec_id",
                F.col("s").alias("subspace"),
                F.col("_m.c").alias("code"),
                F.col("_m.d").alias("_qd"),
            )
        )
        return codes if cache_key is None else codes.localCheckpoint()

    return memo(spark, cache_key, ("pq_encode",), build)


def knn_pq_adc(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cache_key: str | None = None,
) -> DataFrame:
    """ANN cosine top-k via PQ + ADC (asymmetric distance computation)
    + exact rerank — the compressed-domain scan of an IVF-PQ stack.

    Each query builds an (m × ksub) lookup table of exact subspace
    distances to the codebook (broadcast — it is tiny by construction);
    the ADC distance of a corpus vector is then ONE equi-join of its m
    code rows against the LUT plus a sum — the corpus's full vectors
    are never touched during the scan, only the m-byte codes. The top
    ``PQ_REFINE`` candidates by ADC (exact decimal, deterministic
    tie-break) get an exact cosine rerank, so approximation affects
    recall only — same contract as every other ANN path here; recall
    vs brute force is pinned in tests.

    Scale: scan side = |codes| = m rows/vector of (int, int, int);
    LUT side = q·m·ksub rows broadcast. No cross join, no Python, no
    full-vector I/O until the ≤ refine·q rerank rows."""
    spark = emb.sparkSession
    cb = spark.createDataFrame(
        pq_codebook_rows(emb, cache_key),
        "s int, c int, i int, y double",
    )
    codes = pq_encode(emb, cache_key).select(
        "vec_id", F.col("subspace").alias("s"), F.col("code").alias("c")
    )
    lut = _pq_subspace_dists(queries, "query_id", cb)
    adc = (
        codes.join(F.broadcast(lut), ["s", "c"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("_adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_adc"), F.asc("neighbor_id"))
    cand = (
        adc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= PQ_REFINE)
        .select("query_id", "neighbor_id")
    )
    return exact_rerank(cand, emb, queries, k)


def knn_ivfpq(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cache_key: str | None = None,
) -> DataFrame:
    """The composite IVF-PQ search — how a production 100 TB ANN index
    actually serves queries: IVF cell pruning bounds WHICH vectors are
    scanned (8 probed of ``N_CENTROIDS`` cells), PQ codes bound WHAT
    is read per scanned vector (m bytes, not 4·dim), ADC ranks the
    pruned candidates in the compressed domain, and only the top
    ``PQ_REFINE`` get full-vector exact rerank.

    Composition of :func:`ivf_cell_tables` + :func:`pq_encode`'s code
    layout + the ADC LUT — cell filter and code scan are both
    equi-joins against broadcast frames; full vectors are touched only
    for ≤ refine·|queries| rerank rows."""
    corpus_cells, q_cells = ivf_cell_tables(emb, queries, 8, cache_key)
    cell_cand = (
        corpus_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    spark = emb.sparkSession
    cb = spark.createDataFrame(
        pq_codebook_rows(emb, cache_key),
        "s int, c int, i int, y double",
    )
    codes = pq_encode(emb, cache_key).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("subspace").alias("s"),
        F.col("code").alias("c"),
    )
    lut = _pq_subspace_dists(queries, "query_id", cb)
    adc = (
        cell_cand.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "s", "c"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("_adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_adc"), F.asc("neighbor_id"))
    cand = (
        adc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= PQ_REFINE)
        .select("query_id", "neighbor_id")
    )
    return exact_rerank(cand, emb, queries, k)


def _kmeans_decimal_dists(comp: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, d): DECIMAL-exact squared-L2 of every vector to
    every centroid — the shared assignment kernel of Lloyd training
    AND refined-IVF serving."""
    sq = (F.col("x") - F.col("y")) * (F.col("x") - F.col("y"))
    return (
        comp.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "cid")
        .agg(F.sum(sq.cast("decimal(28,14)")).alias("d"))
    )


def _kmeans_loop(
    emb: DataFrame, k: int, iters: int, cache_key: str | None
) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` Lloyd iterations → (centroids (cid, pos, y),
    final member assignment (vec_id, cid)). Training is build-once/
    serve-many: with ``cache_key`` both frames are localCheckpointed
    and memoized per session under ``cache_key`` (``session.memo``)."""
    spark = emb.sparkSession

    def build() -> tuple[DataFrame, DataFrame]:
        train = ivf_centroids(emb, k, cache_key)
        comp = (
            emb.select("vec_id", F.posexplode(F.col("embedding")).alias("pos", "x"))
            .withColumn("x", F.col("x").cast("double"))
            .localCheckpoint()
        )
        cents = spark.createDataFrame(
            [(c, i, float(v)) for c, vec in enumerate(train) for i, v in enumerate(vec)],
            "cid int, pos int, y double",
        )
        assign = None
        for _ in range(iters):
            d = _kmeans_decimal_dists(comp, cents)
            assign = (
                d.groupBy("vec_id")
                .agg(F.min(F.struct("d", "cid")).alias("_m"))
                .select("vec_id", F.col("_m.cid").alias("cid"))
            )
            cents = (
                comp.join(assign, "vec_id")
                .groupBy("cid", "pos")
                .agg(
                    (
                        F.sum(F.col("x").cast("decimal(28,14)")).cast("double")
                        / F.count("*")
                    ).alias("y")
                )
            )
        if cache_key is None:
            return cents, assign
        return cents.localCheckpoint(), assign.localCheckpoint()

    return memo(spark, cache_key, ("_kmeans_loop", k, iters), build)


def kmeans_refine(
    emb: DataFrame,
    k: int = N_CENTROIDS,
    iters: int = LLOYD_ITERS,
    cache_key: str | None = None,
) -> DataFrame:
    """Lloyd k-means refinement of the md5-sampled coarse quantizer —
    the training step that turns the sampled-init IVF/PQ quantizers
    into proper ones (the swap every IVF/PQ docstring here references).
    Runs a FIXED ``iters`` Lloyd iterations: assign every vector to its
    nearest centroid (squared-L2, DECIMAL-exact sums → deterministic
    argmin with min-cid tie-break), then recompute each centroid as
    the member mean (exact decimal sum, ONE double division per
    component). A fixed iteration count keeps the whole computation a
    finite expression chain — which is what lets a SQL oracle replicate
    it CTE-for-CTE; convergence-driven stopping would be a driver-side
    loop like ``neardup_clusters``'s.

    Empty clusters simply drop out (both engines group over assigned
    members only) — the deterministic variant of the usual re-seed
    heuristic.

    Scale: per iteration, ONE broadcast join of the (k·dim)-row
    centroid table against the exploded components + two partial-agg
    shuffles of skinny rows. No driver collect inside the loop; the
    component explode is checkpointed once and reused by every
    iteration (at 100 TB it would be a persisted columnar table).

    Output: per surviving centroid after ``iters`` rounds —
    (cid, n_vecs, centroid_norm, mean_component). Like every quantizer
    build here, training is build-once/serve-many: with ``cache_key``
    the (≤ k)-row result is localCheckpointed and memoized per session
    under ``cache_key`` (``session.memo``)."""

    def build() -> DataFrame:
        cents, assign = _kmeans_loop(emb, k, iters, cache_key)
        n_vecs = assign.groupBy("cid").agg(F.count("*").alias("n_vecs"))
        stats = cents.groupBy("cid").agg(
            F.round(
                F.sqrt(
                    F.sum((F.col("y") * F.col("y")).cast("decimal(28,14)")).cast("double")
                ),
                4,
            ).alias("centroid_norm"),
            F.round(
                F.sum(F.col("y").cast("decimal(28,14)")).cast("double") / F.count("*"), 6
            ).alias("mean_component"),
        )
        out = stats.join(n_vecs, "cid").select(
            "cid", "n_vecs", "centroid_norm", "mean_component"
        )
        return out if cache_key is None else out.localCheckpoint()

    return memo(emb.sparkSession, cache_key, ("kmeans_refine", k, iters), build)


def kmeans_cluster_quality(emb: DataFrame, cache_key: str | None = None) -> DataFrame:
    """Clustering-quality report for the Lloyd-refined quantizer: per
    surviving cell, member count, exact inertia (Σ squared-L2 to the
    cell's FINAL centroid), mean squared distance, and population
    share — the balance/tightness audit run before shipping an IVF
    index (a fat or diffuse cell means slow probes and poor recall).

    Exactness: one extra decimal-exact assignment pass against the
    refined centroids (the shared ``_kmeans_decimal_dists`` kernel,
    min-cid tie-break), so per-cell inertia is an exact DECIMAL(38,14)
    sum both engines reproduce bit-for-bit before the final 4dp/6dp
    rounds. Scale: rides the session-memoized training loop; the extra
    pass is one broadcast join + two skinny partial-agg shuffles; the
    report is ≤ k rows."""
    cents, _ = _kmeans_loop(emb, N_CENTROIDS, LLOYD_ITERS, cache_key)
    comp = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("pos", "x")
    ).withColumn("x", F.col("x").cast("double"))
    d = _kmeans_decimal_dists(comp, cents)
    best = (
        d.groupBy("vec_id")
        .agg(F.min(F.struct("d", "cid")).alias("_m"))
        .select(
            "vec_id",
            F.col("_m.cid").alias("cid"),
            F.col("_m.d").alias("_d"),
        )
    )
    per_cell = best.groupBy("cid").agg(
        F.count("*").alias("n_vecs"), F.sum("_d").alias("_inertia")
    )
    total = best.agg(F.count("*").alias("_t"))
    return (
        per_cell.crossJoin(F.broadcast(total))
        .select(
            "cid",
            "n_vecs",
            F.round(F.col("_inertia").cast("double"), 4).alias("inertia"),
            F.round(
                F.col("_inertia").cast("double") / F.col("n_vecs"), 6
            ).alias("mean_sq_dist"),
            F.round(
                F.col("n_vecs").cast("double") / F.col("_t"), 4
            ).alias("share"),
        )
        .orderBy("cid")
    )


def knn_ivf_refined(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF serving on the Lloyd-REFINED quantizer — training
    (:func:`kmeans_refine`'s loop) feeding serving, the production
    lifecycle: corpus vectors are assigned to their nearest refined
    centroid (the posting lists), queries probe their ``n_probe``
    nearest refined cells, exact cosine rerank inside probed cells.
    Assignment and probing use the same DECIMAL-exact squared-L2
    kernel as training, so cell membership is engine-deterministic and
    the full train→index→probe→rerank pipeline is SQL-oracle-checkable.
    Refined cells are tighter than the sampled-init ones, so recall at
    equal n_probe only improves (pinned in tests vs plain IVF)."""
    cents, _ = _kmeans_loop(emb, N_CENTROIDS, LLOYD_ITERS, cache_key)
    comp = emb.select("vec_id", F.posexplode(F.col("embedding")).alias("pos", "x")).withColumn(
        "x", F.col("x").cast("double")
    )
    d_all = _kmeans_decimal_dists(comp, cents)
    assign = (
        d_all.groupBy("vec_id")
        .agg(F.min(F.struct("d", "cid")).alias("_m"))
        .select(F.col("vec_id").alias("neighbor_id"), F.col("_m.cid").alias("cid"))
    )
    q_ids = queries.select("vec_id").distinct()
    w = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("cid"))
    probes = (
        d_all.join(F.broadcast(q_ids), "vec_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
        .select(F.col("vec_id").alias("query_id"), "cid")
    )
    cand = (
        assign.join(F.broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return exact_rerank(cand, emb, queries, k)


def auto_lsh_params(n: int, threshold: float) -> tuple[int, int]:
    """Occupancy-targeted sign-LSH sizing for the cosine near-dup
    self-join. Fixed ``bits`` is a scale trap: candidate volume is
    Σ_buckets occ² ≈ n²·T/2^bits — QUADRATIC in n. Growing bits with
    ``log2(n / 16)`` pins mean bucket occupancy at 16, making
    candidates ~ n·occupancy·T — LINEAR in n; tables then grow (slowly)
    to hold the analytic per-pair miss bound (1-p^bits)^T ≤ 1e-4
    at cos = threshold + 0.05 (p = 1 - acos(cos)/π). Neither ever
    drops below the static ``NEARDUP_BITS``/``NEARDUP_TABLES``.
    Recall at the exact threshold is correspondingly weaker and is
    pinned empirically in tests; it only improves vs the static config
    at small n (same bits, more tables)."""
    bits = max(NEARDUP_BITS, math.ceil(math.log2(max(n / 16, 1.0))))
    p = 1.0 - math.acos(min(threshold + 0.05, 1.0)) / math.pi
    per_table = p**bits
    if per_table >= 1.0 - 1e-12:
        return bits, NEARDUP_TABLES
    tables = max(NEARDUP_TABLES, math.ceil(math.log(1e-4) / math.log(1.0 - per_table)))
    return bits, tables


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    dim: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: multi-table sign-LSH self-join
    for candidates, exact cosine verification ≥ ``threshold``.

    Same index as :func:`knn_lsh` but self-joined on (table, bucket) —
    never all-pairs. When the caller supplies the corpus size ``n``,
    (bits, tables) are sized by :func:`auto_lsh_params` so candidate
    volume stays LINEAR in n (occupancy-pinned buckets) while the
    per-pair miss bound holds; without ``n`` the static
    ``NEARDUP_BITS`` × ``NEARDUP_TABLES`` apply and plan construction
    runs no Spark job.
    Verification makes false positives impossible; recall is the only
    approximation, pinned in tests with planted duplicates.

    Output: (vec_a, vec_b, cos_sim) with vec_a < vec_b.
    """
    bits, n_tables = NEARDUP_BITS, NEARDUP_TABLES
    if n is not None:
        bits, n_tables = auto_lsh_params(n, threshold)
    dim = dim or embedding_dim(emb)
    planes = hyperplanes(dim, bits * n_tables, SEED)
    buckets = bucket_udf(planes, bits, n_tables)
    # materialize the (id, table, bucket) index once: the self-join
    # references it on both sides, and the Arrow matmul pass is the
    # expensive part — without this it runs twice in one job
    index = emb.select(
        "vec_id", F.posexplode(buckets(F.col("embedding"))).alias("tbl", "bucket")
    ).localCheckpoint()
    # NO distinct here: cross-table duplicate candidates are rare for
    # non-dup pairs (multiplicity ≈ 1 + T·p^bits), so deduping the raw
    # candidate stream would cost a full extra shuffle of the largest
    # intermediate to remove a few percent; dedup happens after the
    # threshold filter, on the tiny surviving pair set.
    cand = (
        index.alias("x")
        .join(index.alias("y"), ["tbl", "bucket"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b")
        )
    )
    # same double-reference on the verify tail: (vector, norm) joins in
    # for BOTH pair members — compute norms once
    vecs = with_norm(emb).select(
        "vec_id", F.col("embedding").alias("_v"), "_nrm"
    ).localCheckpoint()
    return (
        cand.join(
            vecs.select(
                F.col("vec_id").alias("vec_a"),
                F.col("_v").alias("_va"),
                F.col("_nrm").alias("_na"),
            ),
            "vec_a",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("vec_b"),
                F.col("_v").alias("_vb"),
                F.col("_nrm").alias("_nb"),
            ),
            "vec_b",
        )
        .withColumn(
            "cos_sim", dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
        .distinct()
    )


def semdedup_drops(
    corpus: DataFrame,
    threshold: float = 0.9,
    max_exact_cells: int = 16,
    train: DataFrame | None = None,
    cache_key: str | None = None,
    n: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means cells bound WHICH pairs are compared —
    exact pairwise cosine runs only INSIDE a cell, and a vector is
    dropped when a lower-id cell-mate sits at cos ≥ ``threshold``
    (min-id keep rule, the same one-pass decision the LSH dedup
    paths use). Cluster-then-compare converts the O(n²) semantic
    near-dup scan into Σ|cell|² work: with k sized ~ n/1000 the
    per-cell quadratic is bounded and embarrassingly parallel — the
    published recipe for pruning web-scale pretraining corpora.

    The cell count SCALES with the corpus — k = max(16, n / 64), a
    target of 64 vectors per cell — which is what keeps the per-cell quadratic
    bounded: fixed k would make the whole pass O(n²/k) i.e. quadratic
    in n (measured: 19× cost at 10× rows before this auto-sizing).
    Two assignment kernels behind one contract:

    - k ≤ ``max_exact_cells`` (defaults to 16 EXACTLY because the
      SQL oracle replays a fixed-16 quantizer: k = max(16, n/64)
      means k ≤ 16 ⇔ k = 16, so there is no band where the exact
      kernel trains a k the oracle doesn't — this is the regime the
      driver's correctness gate and the tests run at): Lloyd-refined
      quantizer + the DECIMAL-exact squared-L2 kernel — cell
      membership is engine-deterministic, so the whole
      train→assign→compare→drop pipeline is SQL-oracle-checkable
      CTE-for-CTE.
    - k > ``max_exact_cells``: md5-sampled centroids + the Arrow
      matmul cosine-cell assignment (the IVF serving kernel,
      ``_probe_udf``) — one vectorized pass, O(n·dim·k) flops inside
      BLAS instead of an O(n·dim·k)-row exploded join. Cell SHAPE
      changes (that is inherent to scaling k — more cells, more
      boundary misses), but the drop contract ("only true cos ≥ τ
      pairs, min-id kept") is identical and stays test-pinned.

    Training happens on ``train`` (defaults to the corpus;
    production trains on a sample and assigns everything).

    Known (published) miss mode: near-dups straddling a cell boundary
    are not compared — SemDeDup accepts this for the quadratic bound;
    the LSH path (:func:`cosine_neardup_pairs`) is the recall-oriented
    alternative.

    Output: (vec_id, cid, first_match, n_matches) — one row per
    DROPPED vector, ``first_match`` the smallest matching cell-mate.
    """
    train_emb = train if train is not None else corpus
    if n is None:
        n = corpus.count()
    k = max(16, n // 64)
    if k <= max_exact_cells:
        cents, _ = _kmeans_loop(train_emb, k, LLOYD_ITERS, cache_key)
        comp = corpus.select(
            "vec_id", F.posexplode(F.col("embedding")).alias("pos", "x")
        ).withColumn("x", F.col("x").cast("double"))
        assign = (
            _kmeans_decimal_dists(comp, cents)
            .groupBy("vec_id")
            .agg(F.min(F.struct("d", "cid")).alias("_m"))
            .select("vec_id", F.col("_m.cid").alias("cid"))
        )
    else:
        # memo key already carries (cache_key, k) — distinct from the
        # fixed-16 IVF quantizer of the ANN queries whenever k > 16
        cent_list = ivf_centroids(train_emb, k, cache_key)
        assign = corpus.select(
            "vec_id",
            F.element_at(_probe_udf(cent_list, 1)(F.col("embedding")), 1).alias("cid"),
        )
    sided = assign.join(with_norm(corpus), "vec_id").select(
        "cid", "vec_id", F.col("embedding").alias("_v"), "_nrm"
    )
    a = sided.select(
        "cid",
        F.col("vec_id").alias("vec_a"),
        F.col("_v").alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = sided.select(
        "cid",
        F.col("vec_id").alias("vec_b"),
        F.col("_v").alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    hits = (
        a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= threshold)
    )
    return (
        hits.groupBy(F.col("vec_b").alias("vec_id"), "cid")
        .agg(
            F.min("vec_a").alias("first_match"),
            F.count("*").alias("n_matches"),
        )
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid statistics via posexplode → exact DECIMAL
    component sums. Everything stays exact (order-independent ⇒
    oracle-hashable) until ONE double division/sqrt at the very end,
    so Spark and DuckDB agree bit-for-bit before final rounding.

    Output: (label, n_vecs, centroid_norm, mean_component,
    min_component, max_component)."""
    comp = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "val")
    ).withColumn("_vd", F.col("val").cast("decimal(20,10)"))
    # exact per-(label, pos) component sum; |s| < 1e4 so (14,10) fits
    per_pos = comp.groupBy("label", "pos").agg(
        F.sum("_vd").cast("decimal(14,10)").alias("_s"), F.count("*").alias("_n")
    )
    return (
        per_pos.groupBy("label")
        .agg(
            F.first("_n").cast("long").alias("n_vecs"),
            F.count("*").alias("_dim"),
            F.sum((F.col("_s") * F.col("_s")).cast("decimal(38,20)")).alias("_sumsq"),
            F.sum("_s").alias("_sum_s"),
            F.min("_s").alias("_min_s"),
            F.max("_s").alias("_max_s"),
        )
        .select(
            "label",
            "n_vecs",
            # ‖Σv‖/n == ‖centroid‖ — one sqrt + one division, both double
            F.round(F.sqrt(F.col("_sumsq").cast("double")) / F.col("n_vecs"), 4).alias(
                "centroid_norm"
            ),
            F.round(
                F.col("_sum_s").cast("double") / (F.col("n_vecs") * F.col("_dim")), 6
            ).alias("mean_component"),
            F.round(F.col("_min_s").cast("double") / F.col("n_vecs"), 6).alias(
                "min_component"
            ),
            F.round(F.col("_max_s").cast("double") / F.col("n_vecs"), 6).alias(
                "max_component"
            ),
        )
    )


def quantize_int8(emb: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4×
    storage/bandwidth reduction for embedding corpora (the fp32 corpus
    is the ANN index's dominant cost at 100 TB; rerank happens on the
    int8 codes with one dequant multiply).

    scale = max(|x_j|); code_j = floor(x_j / scale * 127 + 0.5)
    (half-up via floor(x+0.5) — an expression both engines evaluate
    identically, unlike engine-native round()). Pure projection over
    ``transform``/``aggregate`` — no shuffle, no Python, codegen'd.
    Zero vectors get scale 0 and all-zero codes (0/0 guarded).

    Output: vec_id, scale (double), q (array<int> codes).
    """
    c = F.col("embedding")
    scale = F.array_max(F.transform(c, lambda x: F.abs(x.cast("double"))))
    q = F.transform(
        c,
        lambda x: F.when(F.col("_scale") == 0, F.lit(0)).otherwise(
            F.floor(x.cast("double") / F.col("_scale") * 127 + F.lit(0.5))
        ).cast("int"),
    )
    return (
        emb.withColumn("_scale", scale)
        .select("vec_id", F.col("_scale").alias("scale"), q.alias("q"))
    )


def random_projection(
    emb: DataFrame,
    out_dim: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim`` dims —
    the dimensionality-reduction pass of an embedding pipeline (shrink
    vectors before clustering/ANN; JL: pairwise distances preserved to
    1±ε for out_dim = O(log n / ε²)).

    Exactness contract: per-element products are IEEE doubles (bit-
    identical in any engine), then cast to DECIMAL(28,14) and summed
    exactly — the projection is therefore partition-order independent
    and DuckDB-oracle-hashable (same layout as ``label_centroids``).

    Scale: this is the standard distributed matmul — posexplode the
    vector, broadcast-join the (out_dim × dim) plane table, partial-agg
    groupBy (vec_id, out_pos). One shuffle of skinny (id, pos, decimal)
    rows; no driver collect, no UDF.

    Output: (vec_id, out_pos, component) — long form, one row per
    projected component.
    """
    dim = dim or embedding_dim(emb)
    planes = hyperplanes(dim, out_dim, seed)
    spark = emb.sparkSession
    plane_rows = [
        (j, i, planes[j][i]) for j in range(out_dim) for i in range(dim)
    ]
    pl = spark.createDataFrame(plane_rows, "out_pos int, i int, p double")
    comp = emb.select("vec_id", F.posexplode(F.col("embedding")).alias("i", "v"))
    return (
        comp.join(F.broadcast(pl), "i")
        .groupBy("vec_id", "out_pos")
        .agg(
            F.sum((F.col("v") * F.col("p")).cast("decimal(28,14)")).alias("_s")
        )
        .select(
            "vec_id",
            "out_pos",
            F.round(F.col("_s").cast("double"), 6).alias("component"),
        )
    )


def merge_ivf_index(
    new_emb: DataFrame,
    path: str,
    max_segments: int | None = None,
    max_occupancy_ratio: float | None = None,
) -> list[int]:
    """INCREMENTAL IVF maintenance — the ANN twin of
    ``text.merge_text_index``: append a batch of new vectors to a
    persisted ``write_ivf_index`` index using the index's SHIPPED
    quantizer (no retrain — the production append path; quantizer
    refresh is a rebuild, like a Lucene segment merge vs a reindex).

    The batch assigns to cells via the persisted centroids (one Arrow
    pass) and is written as ONE new immutable cell-partitioned
    SEGMENT; the single atomic ``_CURRENT`` manifest flip commits it
    (:mod:`.indexfmt`). Vec-id disjointness is the caller's contract,
    so the segment union is identical to consolidating into the
    existing cell partitions — the merge never READS existing cells
    at all (zero read amplification, where a read-merge-rewrite of
    every touched cell partition would need a torn-merge marker).

    TORN MERGES ARE STRUCTURALLY IMPOSSIBLE: a crash before the flip
    leaves an orphan segment and a fully-intact old index; recovery
    is re-running the merge, and ``compact_ivf_index`` reclaims
    orphans. Cost: one |batch|-sized write + one pointer flip, never
    O(index). Read amplification grows by one segment per merge;
    compaction is the tiered-merge knob, and ``max_segments`` makes
    it a policy (a merge leaving more live segments than that
    compacts inline — amortized tiered merging).
    ``max_occupancy_ratio`` is the drift twin: after the flip,
    max/mean live-cell occupancy above the threshold triggers an
    inline quantizer retrain (:func:`maybe_requantize_ivf_index`) —
    streamed landings self-remediate drift the way streamed
    text/positional landings self-compact fan-out. Returns the
    touched cell ids (reporting — never enters a plan)."""
    spark = new_emb.sparkSession
    m = indexfmt.read_manifest(path, IVF_INDEX_FORMAT)
    # the touched-cell report is the written partition layout: cells
    # are non-null ints by construction (the assignment UDF always
    # emits one), so the directory values are the exact set
    seg, values = _ivf_body(
        new_emb,
        path,
        _read_centroid_list(spark, path, m),
        indexfmt.required(m, "vtype"),
        "merge_ivf_index",
    )
    touched = sorted(int(v) for v in values)
    if not touched:
        return touched  # empty batch: index untouched
    indexfmt.write_manifest(  # ---- the single commit point ----
        path,
        {
            # centroids, vtype and live tombstones carry through a
            # merge untouched (the batch is new vec ids by contract,
            # never resurrections)
            **m,
            "version": int(m["version"]) + 1,
            "segments": [*m["segments"], seg],
        },
    )
    requantized = False
    if max_occupancy_ratio is not None:
        # drift-remediation POLICY knob — sibling of
        # merge_positional_index(max_segments=): streamed IVF landings
        # self-remediate the way streamed text/positional landings
        # self-compact. Each merge assigns into FROZEN centroids, so a
        # drifting batch stream piles into few cells; when max/mean
        # live-cell occupancy crosses the threshold the merge retrains
        # the quantizer inline at the index's own capacity
        # (maybe_requantize_ivf_index — requantize ≡ fresh build over
        # the live set, test-pinned), restoring the n/k probe bound.
        # Amortized exactly like tiered compaction: the O(index)
        # retrain fires only when drift has accrued. Checked BEFORE
        # the segment policy: a retrain folds the index
        # to one segment anyway, so running compaction first when
        # both knobs fire would pay the O(index) fold twice.
        requantized = maybe_requantize_ivf_index(
            spark, path, max_occupancy_ratio
        )
    if (
        not requantized
        and max_segments is not None
        and len(m["segments"]) + 1 > max_segments
    ):
        compact_ivf_index(spark, path)
    return touched


def delete_from_ivf_index(
    vec_ids: DataFrame, path: str, max_deleted_ratio: float | None = None
) -> int:
    """DELETE support for the persisted IVF index — the Lucene
    live-docs model, mirroring ``text.delete_from_text_index``: the
    vec-id set is written as an immutable TOMBSTONE child and one
    atomic pointer flip commits it. `read_ivf_index` (and therefore
    `knn_ivf_from_index` serving) anti-joins the tombstones, so
    deleted vectors stop appearing as neighbors immediately;
    `compact_ivf_index` applies them physically and clears the list.
    An UPDATE is delete + `merge_ivf_index` of the new vector. Cost:
    O(|deleted ids|) write + a pointer flip, never O(index).

    ``max_deleted_ratio`` is the deletes-percentage compaction POLICY
    (mirroring the text twin), counted over the segments' vec ids:
    above it, ``compact_ivf_index`` runs inline, bounding the serving
    anti-join and the dead bytes on disk. The commit path, the policy
    and the return value (distinct ids in the request) are
    :func:`.indexfmt.delete_ids`."""
    return indexfmt.delete_ids(
        vec_ids.select(F.col("vec_id").alias("neighbor_id")),
        path,
        IVF_INDEX_FORMAT,
        "segments",
        max_deleted_ratio,
        lambda: compact_ivf_index(vec_ids.sparkSession, path),
    )


def compact_ivf_index(spark, path: str) -> int:
    """Fold all IVF segments back into ONE, applying live tombstones
    physically, and commit through :func:`.indexfmt.commit_fold`
    (empty-fold refusal, manifest flip, vacuum of pre-compaction
    segments, tombstone sets and crashed-merge orphans) — the
    tiered-merge step bounding per-query segment fan-out, mirroring
    ``text.compact_text_index``. The quantizer and the recorded
    element type carry over untouched (compaction is a layout
    operation, not a retrain). Returns the number of segments folded.
    O(index) by design, scheduled offline like any segment-merge
    policy."""
    m = indexfmt.read_manifest(path, IVF_INDEX_FORMAT)
    vtype = indexfmt.required(m, "vtype")
    cells = indexfmt.read_live(
        spark, path, m, m["segments"], ["neighbor_id", "_v", "cell"], "neighbor_id"
    )
    # cell-clustered rewrite (guide §6): the fold's whole point is
    # bounding read fan-out, so it must not re-emit
    # source-partitions × cells small files
    segment = indexfmt.write_segment(
        cells.repartition(F.col("cell")), path, "cell", "compact_ivf_index"
    )
    indexfmt.commit_fold(
        path, m, segment, "compact_ivf_index",
        centroids=m["centroids"], vtype=vtype,
    )
    return len(m["segments"])


def requantize_ivf_index(
    spark,
    path: str,
    n_centroids: int = N_CENTROIDS,
    _cells: DataFrame | None = None,
) -> int:
    """Quantizer-drift REMEDIATION — the write half of the
    ``emb_ivf_index_health`` alarm (which reports per-cell occupancy
    skew): RETRAIN the coarse quantizer over the CURRENT live vector
    set and re-bucket every vector under it, in place, as one more
    manifest generation. A long-lived index drifts because the
    quantizer is frozen at build time while merges keep pouring new
    vectors into the old cells (the merged-index fixture trains on
    half the corpus for exactly this reason) — hot cells make probes
    scan ever-larger posting lists. Re-quantization is the standard
    periodic fix (Faiss retrain / Lucene HNSW rebuild tier).

    Semantics: the result is IDENTICAL to a fresh
    :func:`write_ivf_index` over the live (tombstone-masked) vectors
    with the same ``n_centroids`` — :func:`ivf_centroids` is
    a pure function of the (vec_id, vector) set, and assignment is a
    pure function of the quantizer — which is what licenses the SQL
    oracle (test-pinned). Tombstones are applied physically on the
    way (same as compaction), so the new generation starts clean.

    Cost: O(index) — one masked read, one |live|-row quantizer-
    assignment pass, one partitioned rewrite — the same offline
    maintenance class as ``compact_ivf_index``, scheduled when the
    health report's occupancy skew crosses a threshold. Crash-safe
    and concurrent-reader-safe like every mutation here: the rewrite
    lands in fresh child directories, one pointer flip commits, and
    the closing vacuum spares retained generations. Returns the new
    cell count."""
    m = indexfmt.read_manifest(path, IVF_INDEX_FORMAT)
    # ``_cells`` lets the drift POLICY (maybe_requantize_ivf_index)
    # hand over the postings frame it already opened for the
    # occupancy check instead of paying a second manifest resolve +
    # centroid collect + segment-union build (measured ~0.5 s of pure
    # re-read per policy-triggered retrain)
    cells = _cells if _cells is not None else read_ivf_index(spark, path)[1]
    # one materialization feeds both consumers (the quantizer-sample
    # TakeOrdered and the re-assignment rewrite) and backs the
    # empty-index refusal (write_ivf_index's empty-corpus contract)
    live = cells.select(
        F.col("neighbor_id").alias("vec_id"), F.col("_v").alias("embedding")
    ).localCheckpoint()
    if live.isEmpty():
        raise ValueError(
            "requantize_ivf_index: every vector is tombstoned — an "
            "empty index is unreadable on the way back; delete the "
            "index directory instead"
        )
    cents = ivf_centroids(live, n_centroids)
    vtype = live.schema["embedding"].dataType.elementType.simpleString()
    cent_dir = indexfmt.new_dir_name("centroids")
    segment = _ivf_body(live, path, cents, vtype, "requantize_ivf_index", cent_dir)
    indexfmt.commit_fold(
        path, m, segment, "requantize_ivf_index", centroids=cent_dir, vtype=vtype
    )
    return len(cents)


def maybe_requantize_ivf_index(spark, path: str, max_occupancy_ratio: float) -> bool:
    """Quantizer-drift POLICY — the loop that connects the
    ``emb_ivf_index_health`` alarm (read half) to
    :func:`requantize_ivf_index` (write half), shaped exactly like
    the ``max_deleted_ratio`` deletes-percentage policy on the delete
    paths: check the health metric, remediate inline when it crosses
    the threshold, no-op otherwise. The metric is the health report's
    worst cell: max(|cell|)/mean(|cell|) over the live
    (tombstone-masked) postings — ratios ≫ 1 mean merges have piled a
    drifting corpus into few frozen cells and probe cost no longer
    tracks n/k (the Faiss "retrain when imbalance crosses τ"
    scheduler). The check itself is index-metadata cheap: the count
    aggregate prunes the segment scans to the partition key, never
    the vectors.

    The retrain keeps the index's CURRENT cell count (read from the
    live quantizer) — remediation fixes the
    assignment, not the capacity. Returns True iff requantization
    ran; serving results are unchanged either way beyond ranking
    candidates being re-bucketed (requantize ≡ fresh build over the
    live set, test-pinned on :func:`requantize_ivf_index`)."""
    cents, cells = read_ivf_index(spark, path)
    row = (
        cells.groupBy("cell")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("max_n"), F.avg("n").alias("mean_n"))
        .collect()[0]
    )
    if row["max_n"] is None:
        # zero live cells (everything tombstoned): the occupancy
        # aggregate is a NULL row. There is nothing to retrain over —
        # and requantize_ivf_index would refuse the empty live set
        # loudly anyway — so the POLICY no-ops instead of dying on an
        # opaque float(None) TypeError.
        return False
    ratio = float(row["max_n"]) / float(row["mean_n"])
    if ratio <= max_occupancy_ratio:
        return False
    requantize_ivf_index(spark, path, n_centroids=len(cents), _cells=cells)
    return True


def top_component_power(
    emb: DataFrame,
    iters: int = 2,
    topk: int = 8,
    cache_key: str | None = None,
) -> DataFrame:
    """Top principal direction of the embedding cloud via POWER
    ITERATION on the (uncentered) second-moment matrix — the
    data-driven complement to the data-oblivious JL projection
    (`random_projection`): which axis actually carries the variance.
    Each iteration is two matvecs that never materialize the d×d
    matrix: scores s = Xv (one shuffle on vec_id), update w = Xᵀs
    (one shuffle on pos) — O(n·d) rows moved per iteration, the only
    shape that survives 100 TB (a Gram-matrix build is n·d² and a
    covariance build d²-dense).

    Determinism contract (the kmeans/GD pattern): v₀ = round(1/√d, 8)
    (exactly 0.125 for d=64); every product is DECIMAL(12,10) ×
    DECIMAL(9,8) → exact (22,18), summed exactly (order-independent);
    each normalization is ONE double sqrt + divide, rounded back to
    8dp DECIMAL — so both engines walk the identical IEEE chain and
    the oracle replays every iteration CTE-for-CTE. At extreme n the
    (38,16) norm accumulator needs a pre-scale (divide scores by a
    power of 10) — noted, not needed at any tested SF.

    Output: top-``topk`` dimensions by |loading| of the final
    direction (4dp), with the dominant singular-value estimate
    (‖w‖ of the last update, before normalization) attached."""
    spark = emb.sparkSession
    d = embedding_dim(emb, cache_key=cache_key)
    comp = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("pos", "val")
    ).withColumn("_x", F.col("val").cast("decimal(12,10)"))
    v = spark.range(d).select(
        F.col("id").cast("int").alias("pos"),
        F.round(F.lit(1.0) / F.sqrt(F.lit(float(d))), 8)
        .cast("decimal(9,8)")
        .alias("_v"),
    )
    sigma = None
    for _ in range(iters):
        dots = (
            comp.join(F.broadcast(v), "pos")
            .groupBy("vec_id")
            .agg(F.sum(F.col("_x") * F.col("_v")).alias("_draw"))
            .withColumn("_dot", F.col("_draw").cast("decimal(18,8)"))
        )
        ns = dots.agg(
            F.sqrt(
                F.sum((F.col("_dot") * F.col("_dot")).cast("decimal(38,16)"))
                .cast("double")
            ).alias("_ns")
        )
        s = dots.crossJoin(F.broadcast(ns)).select(
            "vec_id",
            F.round(F.col("_dot").cast("double") / F.col("_ns"), 8)
            .cast("decimal(9,8)")
            .alias("_s"),
        )
        w = (
            comp.join(s, "vec_id")
            .groupBy("pos")
            .agg(F.sum(F.col("_x") * F.col("_s")).alias("_wraw"))
            .withColumn("_w", F.col("_wraw").cast("decimal(18,8)"))
        )
        nw = w.agg(
            F.sqrt(
                F.sum((F.col("_w") * F.col("_w")).cast("decimal(38,16)"))
                .cast("double")
            ).alias("_nw")
        )
        vn = (
            w.crossJoin(F.broadcast(nw))
            .select(
                "pos",
                F.round(F.col("_w").cast("double") / F.col("_nw"), 8)
                .cast("decimal(9,8)")
                .alias("_v"),
                "_nw",
            )
            .localCheckpoint(eager=True)
        )
        sigma = vn.select(F.round(F.col("_nw"), 4).alias("sigma_est")).limit(1)
        v = vn.select("pos", "_v")
    out = v.crossJoin(F.broadcast(sigma)).select(
        "pos",
        F.round(F.col("_v").cast("double"), 4).alias("loading"),
        "sigma_est",
    )
    return out.orderBy(F.abs(F.col("loading")).desc(), "pos").limit(topk)


def knn_graph_beam(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cache_key: str | None = None,
) -> DataFrame:
    """GRAPH-based ANN (the NSW family, in its bounded declarative
    form) with IVF-ROUTED ENTRY — the production composition: the
    coarse quantizer picks WHERE to start (the query's own cell's
    members), the kNN graph decides WHERE TO GO NEXT (each vector's
    top-6 cosine neighbors among its 2-probe cell-mates — the
    2-probe assignment is what BRIDGES adjacent cells; a 1-probe
    graph is disconnected across cells and beam search can never
    leave the entry cell, measured recall 0.06). Serve by fixed-hop
    BEAM SEARCH: score the entry set, expand the per-query best
    8 nodes (the beam) through the graph twice (two hops), exact-rerank
    everything visited. Per-query work is O(|cell| + hops·beam·m)
    scored candidates — independent of corpus size.

    Honest contract: production HNSW is hierarchical with
    query-adaptive TERMINATION; this is the fixed-depth expressible
    core (every frontier is a window top-8 per query, every
    visited set a union of equi-join expansions), so the whole search
    is a finite expression chain a SQL oracle replays CTE-for-CTE.
    Visited = entries ∪ every FULL expansion (pre-beam-cut);
    frontier_h = top-8 of expansion_h alone — both engines
    share the identical definition and the (cos, id) tie-break.
    Graph build work is Σ|2-probe cell|² (4× the SemDeDup bound),
    never O(n²); the graph is always localCheckpointed, and memoized
    per session under ``cache_key`` (``session.memo``) — build-once /
    query-many, like the IVF posting lists."""
    corpus = with_norm(emb).select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("_cv"), "_nrm"
    )

    def build() -> DataFrame:
        cents = ivf_centroids(emb, cache_key=cache_key)
        probe2 = _probe_udf(cents, 2)
        corpus2 = emb.select(
            F.col("vec_id").alias("nid"),
            F.explode(probe2(F.col("embedding"))).alias("cell"),
        )
        a = corpus2.select(F.col("nid").alias("src"), "cell")
        b = corpus2.select(F.col("nid").alias("dst"), "cell")
        va = corpus.select(
            F.col("nid").alias("src"), F.col("_cv").alias("_sv"),
            F.col("_nrm").alias("_sn"),
        )
        vb = corpus.select(
            F.col("nid").alias("dst"), F.col("_cv").alias("_dv"),
            F.col("_nrm").alias("_dn"),
        )
        pw = Window.partitionBy("src").orderBy(
            F.desc("_cos"), F.asc("dst")
        )
        return (
            a.join(b, "cell")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
            .join(va, "src")
            .join(vb, "dst")
            .withColumn(
                "_cos", dot(F.col("_sv"), F.col("_dv")) / (F.col("_sn") * F.col("_dn"))
            )
            .withColumn("_rn", F.row_number().over(pw))
            .filter(F.col("_rn") <= 6)
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )

    graph = memo(emb.sparkSession, cache_key, ("knn_graph_beam",), build)
    # IVF-routed entries: the query's own (1-probe) cell's members,
    # from the memoized posting lists
    corpus_cells, q_cells = ivf_cell_tables(emb, queries, 1, cache_key)
    entries = corpus_cells.join(F.broadcast(q_cells), "cell").select(
        "query_id", F.col("neighbor_id").alias("nid")
    )
    qv = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv")))

    def score(nodes: DataFrame) -> DataFrame:
        """(query_id, nid) → + _cos (pure function, exact join)."""
        return (
            nodes.join(corpus, "nid")
            .join(F.broadcast(qv), "query_id")
            .withColumn(
                "_cos",
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_nrm")),
            )
            .select("query_id", "nid", "_cos")
        )

    f0 = score(entries)
    visited = f0
    frontier = f0
    bw = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("nid"))
    for _ in range(2):
        cut = (
            frontier.withColumn("_rn", F.row_number().over(bw))
            .filter(F.col("_rn") <= 8)
            .select("query_id", "nid")
        )
        exp = (
            cut.join(graph, cut["nid"] == graph["src"])
            .select("query_id", F.col("dst").alias("nid"))
            .distinct()
        )
        frontier = score(exp)
        visited = visited.unionByName(frontier)
    # Exact rerank WITHOUT a third corpus pass: _cos is a pure
    # function of (query_id, nid), so the rows already scored in
    # ``visited`` carry the final ranking — max() only collapses the
    # duplicate (entry ∪ expansion) sightings of the same node. Same
    # (desc _cos, asc nid) tie-break as a re-score, one fewer corpus
    # join in the executed plan (pinned in test_plan_discipline).
    ranked = (
        visited.filter(F.col("nid") != F.col("query_id"))
        .groupBy("query_id", "nid")
        .agg(F.max("_cos").alias("_cos"))
        .withColumn("rank", F.row_number().over(bw))
    )
    return (
        ranked.filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("nid").alias("neighbor_id"),
            "rank",
            F.round("_cos", 4).alias("cos_sim"),
        )
    )

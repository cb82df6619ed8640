"""Tests for the LLM-data-pipeline operators: dedup family equivalence,
ANN recall floors, multimodal byte-feature correctness, text heuristics.

Hash-seeded paths (MinHash/SimHash/LSH) have no SQL oracle; these tests
pin them against their exact counterparts instead.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import load_table
from ecommerce_realtime_pipeline_spark.operators import dedup as DD
from ecommerce_realtime_pipeline_spark.operators import multimodal as MM
from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
from ecommerce_realtime_pipeline_spark.operators import text as TX
from ecommerce_realtime_pipeline_spark.plans import fixtures as FX
from ecommerce_realtime_pipeline_spark.plans import (
    ann,
    dedup,
    multimodal,
    textsearch,
    training,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


def test_minhash_lsh_equals_exact_jaccard(spark):
    """The LSH-banded path must recover exactly the inverted-index
    exact-Jaccard pairs on this corpus (clean separation ⇒ recall 1);
    this is what licenses sharing the oracle between the two entries."""
    exact = {(r[0], r[1], r[2]) for r in dedup.docs_neardup_jaccard(spark, SF).collect()}
    lsh = {(r[0], r[1], r[2]) for r in dedup.docs_neardup_minhash(spark, SF).collect()}
    assert exact == lsh
    assert len(exact) > 0  # corpus carries deliberate near-dups


def test_simhash_pairs_subset_of_neardups(spark, docs):
    """SimHash(hamming ≤ 3) must be high-precision: every emitted pair
    is a true near-dup (member of the exact-Jaccard pair set), with
    recall ≥ 0.8 on this corpus — on the production (xxhash64) path."""
    exact = {(r[0], r[1]) for r in dedup.docs_neardup_jaccard(spark, SF).collect()}
    sim = {(r[0], r[1]) for r in DD.simhash_pairs(docs, max_hamming=3).collect()}
    assert sim <= exact
    assert len(sim) / len(exact) >= 0.8


def test_simhash_portable_and_fast_paths_agree(spark, docs):
    """The portable (md5, oracle-parity) and production (xxhash64)
    shingle hashes must make the same near-dup decisions up to the
    hamming BOUNDARY: simhash values differ by construction, so a pair
    sitting exactly at hamming == max can flip with the hash (observed:
    one pair each way on this ~27-pair corpus → overlap 0.93). The
    pinned contract: both decision sets are subsets of the exact-
    Jaccard near-dup set (no hash introduces a false positive), both
    keep recall ≥ 0.8, and their overlap Jaccard is ≥ 0.9 (the hash
    swap only perturbs the boundary, never the bulk)."""
    exact = {(r[0], r[1]) for r in dedup.docs_neardup_jaccard(spark, SF).collect()}
    fast = {
        (r[0], r[1])
        for r in DD.simhash_pairs(docs, max_hamming=3).collect()
    }
    portable = {
        (r[0], r[1])
        for r in DD.simhash_pairs(
            docs, max_hamming=3, portable_hash=True
        ).collect()
    }
    assert fast <= exact and portable <= exact
    assert len(fast) / len(exact) >= 0.8
    assert len(portable) / len(exact) >= 0.8
    overlap = len(fast & portable) / len(fast | portable)
    assert overlap >= 0.9


def test_jaccard_cutoff_scores_over_full_sets(spark):
    """max_shingle_df filters CANDIDATE GENERATION only; surviving
    pairs must score exact Jaccard over full shingle sets — the cutoff
    may lose pairs, never deflate a surviving pair's score."""
    base = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),  # J vs 1 well above 0.5
        (3, "z y w v u t s r"),
    ]
    docs = spark.createDataFrame(base, "doc_id long, text string")
    full = {(r[0], r[1]): r[2] for r in DD.jaccard_pairs(docs, 0.1).collect()}
    # cutoff high enough to keep some shared shingles → same scores
    cut = {(r[0], r[1]): r[2] for r in DD.jaccard_pairs(docs, 0.1, max_shingle_df=2).collect()}
    assert set(cut) <= set(full)
    for pair, j in cut.items():
        assert j == full[pair], f"{pair}: cutoff changed score {j} != {full[pair]}"


def test_lsh_dim_param_skips_probe_job(spark, monkeypatch):
    """With dim supplied, knn_lsh/cosine_neardup_pairs must not run the
    one-row .first() probe job before planning."""
    from pyspark.sql import DataFrame

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, -1.0], "l") for i in range(20)],
        "vec_id long, embedding array<float>, label string",
    )
    q = emb.filter(F.col("vec_id") < 2)

    def boom(self):
        raise AssertionError(".first() probe job ran despite dim param")

    monkeypatch.setattr(DataFrame, "first", boom)
    SIM.knn_lsh(emb, q, k=2, dim=4)  # plan construction only
    SIM.cosine_neardup_pairs(emb, threshold=0.99, dim=4)
    monkeypatch.undo()


def test_embedding_dim_memoized(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    assert SIM.embedding_dim(emb, cache_key="t1") == 3
    assert SIM._DIM_CACHE["t1"] == 3
    # cache hit: no DataFrame access at all
    assert SIM.embedding_dim(None, cache_key="t1") == 3


def test_quantize_int8_bounds_and_roundtrip(spark):
    """Codes stay in [-127, 127] and dequantization error is bounded by
    half a quantization step (scale/254) per component."""
    emb = load_table(spark, SF, "embeddings")
    q = SIM.quantize_int8(emb)
    joined = q.join(emb, "vec_id").select(
        "vec_id", "scale", "q", F.col("embedding").cast("array<double>").alias("x")
    )
    rows = joined.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert all(-127 <= c <= 127 for c in r["q"])
        if r["scale"] == 0:
            continue
        step = r["scale"] / 127
        for c, x in zip(r["q"], r["x"]):
            assert abs(c * step - x) <= step / 2 + 1e-12


def test_neardup_clusters_components(spark):
    """Min-label propagation finds exact connected components on a
    graph with a chain (needs >1 round), a triangle, and a far pair."""
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),          # chain 1-2-3-4
            (10, 11), (11, 12), (10, 12),    # triangle
            (100, 200),                      # pair
        ],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in DD.neardup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 100: 100, 200: 100}


def test_lss_clusters_match_propagation(spark):
    """Large-star/small-star must find the identical components as
    min-label propagation — including on a LONG chain (16 hops, the
    shape where propagation needs O(diameter) rounds and LSS's
    O(log²) advantage shows), a triangle, and an isolated pair."""
    chain = [(i, i + 1) for i in range(20, 36)]
    pairs = spark.createDataFrame(
        chain + [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (100, 200)],
        "doc_a long, doc_b long",
    )
    prop = {r["doc_id"]: r["cluster_id"] for r in DD.neardup_clusters(pairs).collect()}
    lss = {r["doc_id"]: r["cluster_id"] for r in DD.neardup_clusters_lss(pairs).collect()}
    assert lss == prop
    assert all(lss[n] == 20 for n in range(20, 37))  # whole chain → root 20


def test_lss_clusters_empty_and_star_fixpoints(spark):
    """Degenerate inputs: no pairs → no labels; an already-star graph
    converges on the first signature repeat without changing labels."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert DD.neardup_clusters_lss(empty).count() == 0
    star = spark.createDataFrame(
        [(1, 5), (1, 6), (1, 7)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in DD.neardup_clusters_lss(star).collect()}
    assert got == {1: 1, 5: 1, 6: 1, 7: 1}


def test_mixture_weights_temperature_flattening(spark, monkeypatch):
    """alpha=0.7 upweights small sources vs proportional sampling:
    with sources of 100 vs 10000 tokens, the small source's mix share
    must exceed its token share by exactly (ratio)^(alpha-1); rates
    cap at 1."""
    import ecommerce_realtime_pipeline_spark.catalog as CAT

    docs = spark.createDataFrame(
        [(1, " ".join(["w"] * 100), "small"), (2, " ".join(["w"] * 10000), "big")],
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(CAT, "load_table", lambda s, d, t: docs)
    monkeypatch.setattr(training, "load_table", lambda s, d, t: docs)
    out = {r["source"]: r for r in training.docs_mixture_weights(spark, "x").collect()}
    token_share = 100 / 10100
    assert out["small"]["mix_weight"] > token_share  # flattened up
    expected = 100**0.7 / (100**0.7 + 10000**0.7)
    assert out["small"]["mix_weight"] == pytest.approx(expected, abs=1e-6)
    assert out["small"]["sample_rate"] <= 1.0 and out["big"]["sample_rate"] <= 1.0


def test_duplicate_span_stats_planted(spark):
    """A doc sharing exactly its first 8-token run with another doc
    gets exactly the shared-gram count that run produces; a fully
    unique doc gets dup_frac 0; short docs (<8 tokens) get no row."""
    shared = "a b c d e f g h"  # 8 tokens → 1 shared 8-gram
    docs = spark.createDataFrame(
        [
            (1, shared + " x1 y1 z1 w1"),
            (2, shared + " x2 y2 z2 w2"),
            (3, "q r s t u v w aa bb cc"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in DD.duplicate_span_stats(docs, n=8).collect()}
    assert 4 not in out  # no 8-grams
    assert out[3]["n_shared"] == 0 and out[3]["dup_frac"] == 0.0
    # docs 1/2: 12 tokens → 5 distinct 8-grams, exactly 1 shared
    for d in (1, 2):
        assert out[d]["n_grams"] == 5
        assert out[d]["n_shared"] == 1
        assert out[d]["dup_frac"] == 0.2


def test_hash_split_deterministic_and_partition_free(spark):
    """Split membership is a pure function of the id: identical across
    invocations and partition counts, roughly 80/10/10."""
    docs = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["s"] for r in docs.select("doc_id", TX.hash_split().alias("s")).collect()}
    b = {
        r["doc_id"]: r["s"]
        for r in docs.repartition(7).select("doc_id", TX.hash_split().alias("s")).collect()
    }
    assert a == b
    from collections import Counter

    shares = Counter(a.values())
    assert abs(shares["train"] / 2000 - 0.80) < 0.05
    assert abs(shares["val"] / 2000 - 0.10) < 0.03
    assert abs(shares["test"] / 2000 - 0.10) < 0.03


def test_quality_verdict_reasons(spark):
    base = [
        (1, "one two three four five six seven"),          # kept
        (2, "hi"),                                         # short
        (3, "spam spam spam spam spam spam spam spam"),    # repetitive
        (4, "aaaaaaaaaaaaaaaaaaaaaa bbbbbbbbbbbbbbbbbb cccccccccccccccccc dddddddddddddddddd eeeeeeeeeeeeeeeeee"),  # gibberish
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "unit") for i, t in base],
        "doc_id long, text string, lang string, source string",
    )
    feats = TX.quality_features(docs).withColumn("v", TX.quality_verdict())
    got = {r["doc_id"]: r["v"] for r in feats.select("doc_id", "v").collect()}
    assert got[1] == "kept"
    assert got[2] == "dropped:short"
    assert got[3] == "dropped:repetitive"
    assert got[4] == "dropped:gibberish"


def test_exact_dedup_drops_exact_copies(spark):
    base = [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "Alpha  beta gamma"), (4, "delta")]
    docs = spark.createDataFrame(base, "doc_id long, text string")
    kept, dropped = DD.exact_dedup(docs)
    # 3 normalizes to the same fingerprint as 1/2 → one survivor (min id)
    assert {r["doc_id"] for r in kept.collect()} == {1, 4}
    assert {r["doc_id"] for r in dropped.collect()} == {2, 3}


def test_knn_lsh_recall_floor(spark):
    """Multi-table sign-LSH recall ≥ 0.6 vs brute force even on this
    isotropic (worst-case) corpus; clustered real embeddings do better."""
    bf, lsh = {}, {}
    for r in ann.emb_knn_bruteforce(spark, SF).collect():
        bf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ann.emb_knn_lsh(spark, SF).collect():
        lsh.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(bf[q] & lsh.get(q, set())) / len(bf[q]) for q in bf]
    assert sum(recalls) / len(recalls) >= 0.6


def test_knn_ivf_recall_floor(spark):
    """IVF probing 4 of 16 cells: ≥0.5 mean recall on isotropic vectors
    (the worst case — scan fraction ~25%); clustered embeddings do far
    better. Exact rerank makes every returned neighbor's cos_sim true."""
    bf, ivf = {}, {}
    for r in ann.emb_knn_bruteforce(spark, SF).collect():
        bf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ann.emb_knn_ivf(spark, SF).collect():
        ivf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(bf[q] & ivf.get(q, set())) / len(bf[q]) for q in bf]
    assert sum(recalls) / len(recalls) >= 0.5


def test_knn_pq_recall_floor(spark):
    """PQ+ADC (16 × 4-dim subspaces, 32 codewords, 40-candidate
    refine): ≥0.6 mean recall vs brute force on isotropic vectors —
    the hardest case for sampled-init codebooks; k-means refinement
    and clustered real embeddings only improve this. Exact rerank
    keeps every returned cos_sim true."""
    bf, pq = {}, {}
    for r in ann.emb_knn_bruteforce(spark, SF).collect():
        bf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ann.emb_knn_pq(spark, SF).collect():
        pq.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(bf[q] & pq.get(q, set())) / len(bf[q]) for q in bf]
    assert sum(recalls) / len(recalls) >= 0.6


def test_knn_ivfpq_recall_floor(spark):
    """Composite IVF-PQ (8/16 cells probed, ADC over codes, 40-refine):
    the two approximation stages compound, so the floor sits between
    plain-IVF and plain-PQ — ≥0.5 mean recall on isotropic vectors."""
    bf, iq = {}, {}
    for r in ann.emb_knn_bruteforce(spark, SF).collect():
        bf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ann.emb_knn_ivfpq(spark, SF).collect():
        iq.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(bf[q] & iq.get(q, set())) / len(bf[q]) for q in bf]
    assert sum(recalls) / len(recalls) >= 0.5


def _planted_recall_fixture(spark):
    """Planted-ground-truth corpus for retrieval-QUALITY gates (the
    emb_ann_recall fixture pattern): every 10th base vector gets a
    perturbed copy at id+1e6 with cosine >= 0.9428 analytically, while
    natural pairs max out near 0.51 — so a serving path with working
    retrieval must put the planted copy in its original's top-k.
    Returns (planted corpus, query vectors = the originals, n_queries,
    the planted delta batch alone)."""
    from ecommerce_realtime_pipeline_spark.plans.ann import _with_planted_dups

    emb = load_table(spark, SF, "embeddings")
    corpus = _with_planted_dups(emb)
    qs = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    planted_only = corpus.join(emb.select("vec_id"), "vec_id", "left_anti")
    return corpus, qs, qs.count(), planted_only


def _planted_recall(res, n_queries):
    hits: dict = {}
    for r in res.collect():
        hits.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return sum(1 for q, s in hits.items() if q + 1_000_000 in s) / n_queries


def test_knn_ivfpq_planted_recall_floor(spark):
    """IVF-PQ serving must SURVIVE THE CODEC: the exactness oracle
    proves plan equivalence, not retrieval quality — this gate proves
    the quantize->probe->ADC->refine pipeline still retrieves a true
    near-duplicate. Planted copies measured at recall 1.0 on this
    corpus; floor 0.9 guards regressions (codebook/probe changes)."""
    corpus, qs, n, _ = _planted_recall_fixture(spark)
    assert _planted_recall(SIM.knn_ivfpq(corpus, qs, k=5), n) >= 0.9


def test_persisted_ivf_planted_recall_floor(spark, tmp_path):
    """Serving from the PERSISTED manifest index must retrieve planted
    near-duplicates across the write/read boundary — a layout bug that
    scrambled segments or cells would pass a schema check but fail
    this. Measured 1.0; floor 0.9."""
    corpus, qs, n, _ = _planted_recall_fixture(spark)
    path = str(tmp_path / "ivf")
    SIM.write_ivf_index(corpus, path)
    res = SIM.knn_ivf_from_index(spark, path, qs, k=5, n_probe=8)
    assert _planted_recall(res, n) >= 0.9


def test_merged_ivf_planted_recall_floor(spark, tmp_path):
    """Recall ACROSS THE MERGE BOUNDARY: the index is built over the
    base corpus, the planted duplicates arrive via merge_ivf_index (a
    separate manifest segment), and serving must still surface them —
    the gate that would catch a merge writing an unreadable/unpruned
    segment while the exactness oracle still passed on the base half.
    Measured 1.0; floor 0.9."""
    _, qs, n, planted_only = _planted_recall_fixture(spark)
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf")
    SIM.write_ivf_index(emb, path)
    assert SIM.merge_ivf_index(planted_only, path)
    res = SIM.knn_ivf_from_index(spark, path, qs, k=5, n_probe=8)
    assert _planted_recall(res, n) >= 0.9


def test_pq_fast_assign_matches_exact(spark):
    """The Arrow-matmul fast path must produce the same codes as the
    decimal-exact join path — float64 argmin can only diverge on exact
    codeword-distance ties, which this corpus has none of."""
    from ecommerce_realtime_pipeline_spark.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in SIM.pq_encode(emb, exact=True).collect()
    }
    fast = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in SIM.pq_encode(emb, exact=False).collect()
    }
    assert fast == exact


def test_pq_codes_shape_and_self_quantization(spark):
    """Every vector gets exactly m=16 codes in [0,32); the 32
    md5-picked training vectors ARE codebook entries, so each must
    quantize to itself with distance exactly 0 in every subspace."""
    from ecommerce_realtime_pipeline_spark.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    codes = SIM.pq_encode(emb)
    per_vec = codes.groupBy("vec_id").agg(
        F.count("*").alias("n"),
        F.min("code").alias("lo"),
        F.max("code").alias("hi"),
    )
    bad = per_vec.filter(
        (F.col("n") != 16) | (F.col("lo") < 0) | (F.col("hi") >= 32)
    ).count()
    assert bad == 0
    train_ids = [
        r["vec_id"]
        for r in emb.select("vec_id")
        .orderBy(
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("|42"))),
            F.col("vec_id"),
        )
        .limit(32)
        .collect()
    ]
    zero = codes.filter(F.col("vec_id").isin(train_ids)).agg(
        F.count("*").alias("n"), F.max(F.col("_qd").cast("double")).alias("mx")
    ).collect()[0]
    assert zero["n"] == 32 * 16 and zero["mx"] == 0.0


def test_kmeans_refine_converges_to_group_means(spark):
    """On a corpus of two tight groups, 2 Lloyd iterations land each
    centroid exactly on its group mean (means are exact decimal sums).
    Group membership is built around the actual md5 pick so each
    initial centroid starts inside a different group."""
    import hashlib

    ids = [0, 1, 2, 3]
    order = sorted(ids, key=lambda d: (hashlib.md5(f"{d}|42".encode()).hexdigest(), d))
    group_a = {order[0], order[2]}  # first pick + one friend
    rows = [
        (d, [0.0, 0.2] if d in group_a else [10.0, 10.4]) for d in ids
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["cid"]: r for r in SIM.kmeans_refine(emb, k=2, iters=2).collect()}
    assert len(out) == 2
    assert sorted(r["n_vecs"] for r in out.values()) == [2, 2]
    norms = sorted(r["centroid_norm"] for r in out.values())
    # group means are exactly the planted vectors (both members equal)
    assert norms[0] == pytest.approx((0.0**2 + 0.2**2) ** 0.5, abs=1e-4)
    assert norms[1] == pytest.approx((10.0**2 + 10.4**2) ** 0.5, abs=1e-4)


def test_refined_ivf_beats_sampled_init_at_equal_probe(spark):
    """The point of quantizer training: at the SAME scan budget
    (n_probe=4 of 16 cells), IVF over Lloyd-refined centroids must
    recall at least as much as sampled-init IVF (measured 0.52 vs
    0.34 on this corpus)."""
    from ecommerce_realtime_pipeline_spark.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    bf, plain, ref = {}, {}, {}
    for d, fn in (
        (bf, lambda: SIM.knn_bruteforce(emb, q)),
        (plain, lambda: SIM.knn_ivf(emb, q, n_probe=4)),
        (ref, lambda: SIM.knn_ivf_refined(emb, q, n_probe=4)),
    ):
        for r in fn().collect():
            d.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    rec = lambda d: sum(  # noqa: E731
        len(bf[k] & d.get(k, set())) / len(bf[k]) for k in bf
    ) / len(bf)
    assert rec(ref) >= rec(plain)
    assert rec(ref) >= 0.4


def test_kmeans_refine_partition_independent(spark):
    from ecommerce_realtime_pipeline_spark.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    a = sorted(map(tuple, SIM.kmeans_refine(emb).collect()))
    b = sorted(map(tuple, SIM.kmeans_refine(emb.repartition(7)).collect()))
    assert a == b


def test_knn_bruteforce_is_top_k_sound(spark):
    out = ann.emb_knn_bruteforce(spark, SF)
    per_q = out.groupBy("query_id").agg(
        F.count("*").alias("n"), F.max("rank").alias("maxr")
    )
    assert all(r["n"] == 5 and r["maxr"] == 5 for r in per_q.collect())
    # ranks strictly ordered by cos_sim desc within each query
    rows = out.orderBy("query_id", "rank").collect()
    for a, b in zip(rows, rows[1:]):
        if a["query_id"] == b["query_id"]:
            assert a["cos_sim"] >= b["cos_sim"]


def test_multimodal_features_match_python(spark):
    docs = spark.createDataFrame([(1, "abc"), (2, "zzzz")], "doc_id long, text string")
    media = MM.attach_binary(docs.withColumn("source", F.lit("s")))
    feats = {r["doc_id"]: r for r in MM.extract_features(media).collect()}
    b1, b2 = b"abc", b"zzzz"
    assert feats[1]["n_bytes"] == 3
    assert feats[1]["mean_byte"] == pytest.approx(sum(b1) / 3)
    assert feats[1]["distinct_bytes"] == 3
    assert feats[2]["max_byte"] == ord("z")
    assert feats[2]["distinct_bytes"] == 1


def test_multimodal_metadata_consistent(spark, docs):
    out = multimodal.mm_feature_summary(spark, SF).collect()
    assert len(out) == 20  # one row per source
    assert all(r["n_meta_mismatch"] == 0 for r in out)


def test_corpus_is_ascii(spark, docs):
    """Precondition of the mm_feature_summary oracle: the corpus is
    pure ASCII, so UTF-8 byte values equal char codepoints and DuckDB
    can reproduce the Pandas byte statistics from chars."""
    n_multi = docs.filter(
        F.octet_length("text") != F.length("text")
    ).count()
    assert n_multi == 0


def test_decode_rejects_unknown_and_truncated(spark):
    with pytest.raises(ValueError):
        MM.decode_image(b"\x89PNG")  # compressed formats not wired
    with pytest.raises(ValueError):
        MM.decode_image(b"P6\n3 2\n255\n" + bytes(5))  # truncated raster
    with pytest.raises(ValueError):
        MM.decode_image(b"BM" + bytes(10))  # truncated header


@pytest.mark.parametrize("w,h", [(1, 1), (3, 2), (4, 4), (5, 3), (7, 1)])
def test_codec_roundtrip_exact(w, h):
    """Both codecs must reproduce the exact RGB byte sequence — widths
    not divisible by 4 exercise BMP row padding; BMP also exercises the
    bottom-up row order + BGR swap."""
    import random

    random.seed(w * 100 + h)
    rgb = bytes(random.randrange(256) for _ in range(w * h * 3))
    assert MM.decode_image(MM.encode_ppm(w, h, rgb)) == ("ppm", w, h, rgb)
    assert MM.decode_image(MM.encode_bmp(w, h, rgb)) == ("bmp", w, h, rgb)


def test_bmp_topdown_and_ppm_comments():
    """Top-down BMPs (negative height) and commented PPM headers are
    part of both formats' public specs — decode must handle them."""
    import struct

    w, h = 3, 2
    rgb = bytes(range(18))
    bmp = MM.encode_bmp(w, h, rgb)
    row_size = (3 * w + 3) // 4 * 4
    rows_bu = bmp[54:]
    rows_td = b"".join(
        rows_bu[i * row_size : (i + 1) * row_size] for i in range(h - 1, -1, -1)
    )
    td = bmp[:22] + struct.pack("<i", -h) + bmp[26:54] + rows_td
    assert MM.decode_image(td) == ("bmp", w, h, rgb)

    ppm = b"P6\n# comment\n3 2\n# more\n255\n" + rgb
    assert MM.decode_image(ppm) == ("ppm", 3, 2, rgb)


def test_decode_features_real_decode(spark):
    """synthesize_media → decode_features round-trips through the real
    codecs: decoded dims/format/pixel sums must equal the synthesis
    contract (synth_dims + md5 pixel stream) for both formats."""
    docs = spark.createDataFrame([(6,), (7,)], "doc_id long")
    out = {r["doc_id"]: r for r in MM.decode_features(MM.synthesize_media(docs)).collect()}
    for d in (6, 7):
        w, h, fmt = MM.synth_dims(d)
        rgb = MM._pixel_stream(d, w * h * 3)
        r = out[d]
        assert (r["format"], r["width"], r["height"]) == (fmt, w, h)
        assert r["n_px"] == w * h
        assert r["px_sum"] == sum(rgb)
        assert r["max_px"] == max(rgb)
        assert r["min_px"] == min(rgb)


def test_resize_bounds_and_restamps_metadata(spark):
    docs = spark.createDataFrame(
        [(1, "x" * 500), (2, "ab")], "doc_id long, text string"
    ).withColumn("source", F.lit("s"))
    out = {r["doc_id"]: r for r in MM.resize_payload(MM.attach_binary(docs), 64).collect()}
    assert len(out[1]["payload"]) == 64  # shrunk to target
    assert out[2]["payload"] == b"ab"  # small payloads pass through
    assert out[1]["media_meta"]["n_bytes"] == 64
    assert out[1]["media_meta"]["format"] == "application/x-resized"
    import hashlib

    assert out[1]["media_meta"]["checksum"] == hashlib.md5(bytes(out[1]["payload"])).hexdigest()


def test_wav_codec_roundtrip_and_chunk_walk(spark):
    """WAV encode→decode reproduces the exact signed samples (mono and
    stereo); the decoder walks RIFF chunks, so an interposed LIST chunk
    (spec-legal) must be skipped; truncated/foreign payloads raise."""
    import struct

    samples = [0, 1, -1, 32767, -32768, 12345, -12345, 256]
    pcm = struct.pack(f"<{len(samples)}h", *samples)
    for ch in (1, 2):
        got = MM.decode_audio(MM.encode_wav(ch, 8000, pcm))
        assert got == (ch, 8000, len(samples) // ch, samples)

    wav = MM.encode_wav(1, 8000, pcm)
    fmt_chunk = wav[12:36]  # "fmt " + body
    data_chunk = wav[36:]
    lst = b"LIST" + struct.pack("<I", 4) + b"INFO"
    interposed = wav[:12] + fmt_chunk + lst + data_chunk
    assert MM.decode_audio(interposed) == (1, 8000, len(samples), samples)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        MM.decode_audio(b"OggS" + bytes(40))
    with _pytest.raises(ValueError):
        MM.decode_audio(wav[:20])


def test_audio_features_match_digest_stream(spark):
    """decode_audio_features must reproduce the synthesis contract:
    dims from synth_audio_dims, sample stats from the md5 digest
    stream parsed as little-endian signed int16."""
    import struct

    docs = spark.createDataFrame([(4,), (5,)], "doc_id long")
    out = {r["doc_id"]: r for r in MM.decode_audio_features(MM.synthesize_audio(docs)).collect()}
    for d in (4, 5):
        ch, rate, frames = MM.synth_audio_dims(d)
        pcm = MM._digest_stream(d, frames * ch * 2)
        samples = list(struct.unpack(f"<{frames * ch}h", pcm))
        r = out[d]
        assert (r["channels"], r["sample_rate"], r["n_frames"]) == (ch, rate, frames)
        assert r["sample_sum"] == sum(samples)
        assert r["max_sample"] == max(samples)
        assert r["min_sample"] == min(samples)


def test_resize_image_exact_nearest_neighbor(spark):
    """resize_image must sample exactly pixel (r·h//4, c·w//4) of the
    decoded raster — checked pixel-for-pixel on an 8×6 image, through
    both input codecs."""
    w, h = 8, 6
    rgb = bytes((i * 7) % 256 for i in range(w * h * 3))
    for enc in (MM.encode_ppm, MM.encode_bmp):
        media = spark.createDataFrame(
            [(1, enc(w, h, rgb))], "doc_id long, payload binary"
        )
        out = MM.resize_image(media, 4, 4).collect()[0]
        fmt, ow, oh, orgb = MM.decode_image(bytes(out["payload"]))
        assert (fmt, ow, oh) == ("ppm", 4, 4)
        for r in range(4):
            for c in range(4):
                si = ((r * h // 4) * w + (c * w // 4)) * 3
                oi = (r * 4 + c) * 3
                assert orgb[oi : oi + 3] == rgb[si : si + 3], (r, c)
        assert out["media_meta"]["n_bytes"] == len(bytes(out["payload"]))


def test_frame_sampling_strides_payload(spark):
    # 80 bytes / frame_size 16 = 5 frames; sample 4 evenly
    payload = bytes(range(80))
    docs = spark.createDataFrame([(1, "ignored")], "doc_id long, text string")
    media = spark.createDataFrame(
        [(1, payload)], "doc_id long, payload binary"
    )
    rows = sorted(
        MM.sample_frames(media, frame_size=16, n_frames=4).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert len(rows) == 4
    idxs = [r["frame_idx"] for r in rows]
    assert idxs == [0, 1, 2, 3]  # stride 5/4 -> frames 0,1,2,3
    for r in rows:
        fi = r["frame_idx"]
        assert bytes(r["frame_payload"]) == payload[fi * 16 : (fi + 1) * 16]
        assert r["n_bytes"] == 16
        assert r["byte_sum"] == sum(payload[fi * 16 : (fi + 1) * 16])


def test_lang_id_deterministic_und(spark):
    docs = spark.createDataFrame(
        [(1, "the quick fox"), (2, "zzz qqq www")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["pred"] for r in docs.select(
        "doc_id", TX.predict_lang(TX.tokens("text")).alias("pred")
    ).collect()}
    assert out[1] == "en"
    assert out[2] == "und"


def test_cosine_neardup_finds_exactly_planted_pairs(spark):
    """Non-vacuous recall gate: the LSH self-join must recover every
    planted perturbed duplicate (cos ≥ 0.9428 by construction) and
    nothing else (natural max cos ≈ 0.51)."""
    out = {(r["vec_a"], r["vec_b"]) for r in ann.emb_cosine_neardup(spark, SF).collect()}
    emb = load_table(spark, SF, "embeddings")
    planted_ids = [r[0] for r in emb.filter(F.col("vec_id") % 10 == 0).select("vec_id").collect()]
    assert len(planted_ids) > 0
    assert out == {(i, i + 1_000_000) for i in planted_ids}


def test_auto_lsh_params_sizing_law():
    """Occupancy-pinned LSH sizing: bits track log2(n/occ) so candidate
    volume (~n·occ·T) stays linear in n; tables hold the analytic miss
    bound; small corpora never drop below the static floor."""
    import math

    assert SIM.auto_lsh_params(100, 0.9) == SIM.auto_lsh_params(1000, 0.9)
    b_small, t_small = SIM.auto_lsh_params(2_000, 0.9)
    assert b_small == 8  # static floor
    last_b = 0
    for n in (10**4, 10**5, 10**6, 10**7):
        b, t = SIM.auto_lsh_params(n, 0.9)
        assert b >= last_b
        last_b = b
        # mean occupancy stays under the 16-row target (×2 slack)
        assert n / 2**b <= 32
        # analytic per-pair miss bound at threshold+margin holds
        p = 1.0 - math.acos(0.95) / math.pi
        assert (1.0 - p**b) ** t <= 1e-4 * (1 + 1e-9)


def test_shingles_short_doc_empty(spark):
    docs = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    out = docs.select(TX.shingles(TX.tokens("text"), 3).alias("sh")).collect()
    assert out[0]["sh"] == []


def test_with_shingles_udf_matches_expression(spark, docs):
    """The Arrow-batched hot path must emit byte-identical shingle
    arrays (values AND first-occurrence order) to the reference
    higher-order-function expression, including the <n-token edge."""
    edge = spark.createDataFrame(
        [(9001, "one two"), (9002, "a b c a b c a b c")], "doc_id long, text string"
    )
    sample = docs.select("doc_id", "text").limit(200).unionByName(edge)
    fast = {r["doc_id"]: r["_sh"] for r in TX.with_shingles(sample).collect()}
    ref = {
        r["doc_id"]: r["_sh"]
        for r in sample.withColumn("_toks", TX.tokens("text"))
        .withColumn("_sh", TX.shingles(F.col("_toks"), 3))
        .collect()
    }
    assert fast == ref


# -- BPE merge learning -----------------------------------------------------


def test_apply_merge_shared_boundary_pairs(spark):
    """The two-pass padded replace must catch adjacent occurrences that
    share their boundary space ('a b a b' → both merged)."""
    seqs = spark.createDataFrame(
        [("w", 1, "a b a b </w>"), ("x", 1, "c a b d </w>"), ("y", 1, "a c b </w>")],
        "word string, freq int, seq string",
    )
    out = {r["word"]: r["seq"] for r in TX.apply_merge(seqs, "a", "b").collect()}
    assert out["w"] == "ab ab </w>"
    assert out["x"] == "c ab d </w>"
    assert out["y"] == "a c b </w>"  # non-adjacent a..b untouched


def test_apply_merge_is_boundary_aligned(spark):
    """'xa b' must NOT merge on pair (a, b): symbols match whole tokens
    only (the padded-space pattern can't fire inside a symbol)."""
    seqs = spark.createDataFrame(
        [("w", 1, "xa b </w>")], "word string, freq int, seq string"
    )
    assert TX.apply_merge(seqs, "a", "b").collect()[0]["seq"] == "xa b </w>"


def test_bpe_learns_expected_merges(spark):
    """Textbook miniature: vocabulary {low×5, lowest×2}. Round 1 must
    merge the most frequent adjacent pair (l,o) count 7; round 2
    (lo,w) count 7; round 3 then prefers the 5-weighted 'low </w>'
    boundary merge over the 2-weighted 'lowest' interior pairs."""
    words = spark.createDataFrame(
        [("low", 5), ("lowest", 2)], "word string, freq long"
    )
    merges = [
        (r["merge_round"], r["w1"], r["w2"], r["pair_count"])
        for r in TX.bpe_learn_merges(words, 3).orderBy("merge_round").collect()
    ]
    assert merges == [(1, "l", "o", 7), (2, "lo", "w", 7), (3, "low", "</w>", 5)]


def test_bpe_merge_table_partition_invariant(spark):
    """Same merges regardless of input partitioning (the argmax is a
    global agg with a total tie-break; nothing depends on task order)."""
    docs = load_table(spark, SF, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    one = [tuple(r) for r in TX.bpe_learn_merges(words.coalesce(1), 4).collect()]
    many = [tuple(r) for r in TX.bpe_learn_merges(words.repartition(13), 4).collect()]
    assert one == many and len(one) == 4


# -- SemDeDup ---------------------------------------------------------------


def test_semdedup_drops_are_planted_copies(spark):
    """Every dropped row must be a planted perturbed copy matched to
    exactly its source (naturals max out near cos 0.51, far under the
    0.9 threshold), i.e. (vec_id = v + 1e6, first_match = v,
    n_matches = 1); and within-cell recall must be positive."""
    drops = ann.emb_semdedup(spark, SF).collect()
    assert len(drops) > 0
    for r in drops:
        assert r["vec_id"] >= 1_000_000
        assert r["first_match"] == r["vec_id"] - 1_000_000
        assert r["n_matches"] == 1


def test_semdedup_subset_of_lsh_neardups(spark):
    """Cell-bounded compare can only MISS pairs the unbounded LSH path
    finds (the published boundary-miss mode) — never invent one."""
    lsh_pairs = {
        (r["vec_a"], r["vec_b"])
        for r in ann.emb_cosine_neardup(spark, SF).collect()
    }
    sem_pairs = {
        (r["first_match"], r["vec_id"]) for r in ann.emb_semdedup(spark, SF).collect()
    }
    assert sem_pairs <= lsh_pairs


def test_bpe_encode_fertility_bounds(spark):
    """Per-source BPE fertility must be ≥ 1 unit/word and strictly
    below chars+marker (the merges must actually compress), and the
    unit totals must be consistent with the word totals."""
    rows = training.docs_bpe_encode(spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_docs"] > 0 and r["total_words"] > 0
        assert 1.0 <= r["units_per_word"]
        assert r["total_units"] >= r["total_words"]  # ≥ 1 unit per word
    # merges compress: the corpus-wide mean must beat the unmerged
    # baseline (chars + </w> per word), by a wide margin on text
    words = training._corpus_words(spark, SF)
    base = words.select(
        F.sum(F.length("word") * F.col("freq")).alias("chars"),
        F.sum((F.lit(1)) * F.col("freq")).alias("n"),
    ).collect()[0]
    baseline_upw = (base["chars"] + base["n"]) / base["n"]
    total_units = sum(r["total_units"] for r in rows)
    total_words = sum(r["total_words"] for r in rows)
    assert total_units / total_words < baseline_upw


# -- in-engine logistic-regression quality classifier -----------------------


def test_quality_lr_beats_majority_baseline(spark):
    """The trained classifier must actually LEARN: training accuracy
    strictly above the majority-class baseline (otherwise GD collapsed
    to the constant predictor and the query is decoration)."""
    row = training.docs_quality_lr(spark, SF).collect()[0]
    docs = load_table(spark, SF, "documents")
    pos_rate = docs.select(
        F.avg(
            F.when(
                F.size(F.split("text", " ")) >= training.LR_MIN_TOKENS, 1.0
            ).otherwise(0.0)
        )
    ).collect()[0][0]
    majority = max(pos_rate, 1.0 - pos_rate)
    assert row["accuracy"] > majority + 0.05, (row["accuracy"], majority)
    # the rule is length-based: the token-count weight must carry
    # positive signal after training
    assert row["w_tokens"] > 0


def test_logistic_train_partition_invariant(spark):
    """DECIMAL-exact gradient sums ⇒ identical weights under any input
    partitioning (float sums would drift per partition order)."""
    from ecommerce_realtime_pipeline_spark.operators import model as MODEL

    docs = load_table(spark, SF, "documents")
    feats = training._lr_features(docs)
    cols = training.LR_FEATURES
    w1 = MODEL.logistic_train(feats.coalesce(1), cols, "y", 2, 4.0).collect()[0]
    w32 = MODEL.logistic_train(feats.repartition(32), cols, "y", 2, 4.0).collect()[0]
    assert tuple(w1) == tuple(w32)


def test_semdedup_fast_path_same_contract(spark):
    """Force the Arrow-matmul large-k path (max_exact_cells=4) and
    assert the drop CONTRACT holds across kernels: only true planted
    pairs dropped (cells change shape, correctness doesn't), and the
    drop set is a subset of the unbounded LSH near-dup pairs."""
    emb = load_table(spark, SF, "embeddings")
    corpus = ann._with_planted_dups(emb).localCheckpoint()
    drops = SIM.semdedup_drops(
        corpus, threshold=0.9, train=emb, max_exact_cells=4, n=corpus.count()
    ).collect()
    assert len(drops) > 0
    for r in drops:
        assert r["vec_id"] >= 1_000_000
        assert r["first_match"] == r["vec_id"] - 1_000_000
    lsh_pairs = {
        (r["vec_a"], r["vec_b"])
        for r in ann.emb_cosine_neardup(spark, SF).collect()
    }
    assert {(r["first_match"], r["vec_id"]) for r in drops} <= lsh_pairs


def test_cluster_representatives_pick_longest_member(spark, docs):
    """Every representative must be a member of its cluster with the
    maximal n_chars (ties → smallest doc_id), and the bookkeeping
    (n_members/n_dropped) must reconcile with the cluster table."""
    reps = dedup.docs_cluster_representatives(spark, SF).collect()
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.docs_neardup_clusters_lss(spark, SF).collect()
    }
    chars = {r["doc_id"]: r["n_chars"] for r in docs.select("doc_id", "n_chars").collect()}
    assert len(reps) > 0
    by_cluster: dict = {}
    for d, c in clusters.items():
        by_cluster.setdefault(c, []).append(d)
    assert sum(r["n_members"] for r in reps) == len(clusters)
    for r in reps:
        members = by_cluster[r["cluster_id"]]
        assert r["n_members"] == len(members)
        assert r["n_dropped"] == len(members) - 1
        best = max(members, key=lambda d: (chars[d], -d))
        assert r["rep_doc_id"] == best
        assert r["rep_n_chars"] == chars[best]


def test_persisted_ivf_equals_in_session(spark):
    """write→load→serve must return bit-identical rows to the
    in-session IVF (same quantizer): the persisted path is a storage
    layout, not a semantic change."""
    mem = [tuple(r) for r in ann.emb_knn_ivf(spark, SF).collect()]
    disk = [tuple(r) for r in ann.emb_knn_ivf_persisted(spark, SF).collect()]
    assert sorted(mem) == sorted(disk) and len(mem) > 0


def test_fixture_build_once_lock_protocol(tmp_path, monkeypatch):
    """fixtures.build_once: the winner builds exactly once; a
    caller arriving while a fixture is READY never rebuilds; a stale
    build lock from a crashed process is broken and the build
    proceeds; the lock file is removed afterward."""
    calls = []
    path = str(tmp_path / "fix")

    def ready(p):
        return os.path.exists(os.path.join(p, "DONE"))

    def build(p):
        os.makedirs(p)
        calls.append(1)
        open(os.path.join(p, "DONE"), "w").close()

    FX.build_once(path, ready, build)
    FX.build_once(path, ready, build)  # ready → no rebuild
    assert calls == [1]
    assert not os.path.exists(f"{path}.build-lock")
    # crashed builder: stale lock + half-built dir → broken + rebuilt
    import shutil as _sh

    _sh.rmtree(path)
    open(f"{path}.build-lock", "w").close()
    os.utime(f"{path}.build-lock", (1, 1))  # ancient ⇒ stale
    FX.build_once(path, ready, build)
    assert calls == [1, 1] and ready(path)
    assert not os.path.exists(f"{path}.build-lock")


def test_deleted_fixture_memo_correctness(spark, tmp_path):
    """The session-shared deleted-index fixtures (r13, judge task 3):
    (a) a second call in the same session returns the SAME path and
    does NOT rebuild (the manifest generation history is untouched);
    (b) a different sf_dir gets a fresh path; (c) the generation
    contract holds — v1 is the pre-delete full build, v2 carries live
    tombstones."""
    import shutil

    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
    )

    docs = load_table(spark, SF, "documents")
    p1 = FX.persisted_text_deleted_path(spark, SF, docs)
    m1 = indexfmt.read_manifest(p1, TEXT_INDEX_FORMAT)
    assert int(m1["version"]) == 2 and m1.get("tombstones")
    mtime = os.path.getmtime(os.path.join(p1, indexfmt.MANIFEST))
    p2 = FX.persisted_text_deleted_path(spark, SF, docs)
    assert p2 == p1  # memo hit
    assert os.path.getmtime(os.path.join(p1, indexfmt.MANIFEST)) == mtime
    # v1 = full pre-delete build: no tombstones in the retained gen
    m_v1 = indexfmt.read_manifest(p1, TEXT_INDEX_FORMAT, version=1)
    assert int(m_v1["version"]) == 1 and not m_v1.get("tombstones")
    # different corpus stamp → different fixture
    alt = tmp_path / "alt_sf"
    shutil.copytree(SF, alt)
    p3 = FX.persisted_text_deleted_path(spark, str(alt), docs)
    assert p3 != p1
    # a crashed/half-built fixture (wrong generation shape) rebuilds
    shutil.rmtree(p3)
    os.makedirs(p3)
    p4 = FX.persisted_text_deleted_path(spark, str(alt), docs)
    assert p4 == p3
    m4 = indexfmt.read_manifest(p4, TEXT_INDEX_FORMAT)
    assert int(m4["version"]) == 2 and m4.get("tombstones")
    shutil.rmtree(p3, ignore_errors=True)


def test_merged_fixture_memo_and_mutable_copy(spark):
    """The merged/drifted shared fixtures: (a) build-once memo —
    a second call returns the same path with the manifest untouched;
    (b) the pinned 2-segment v2 no-tombstone shape; (c)
    `mutable_index_copy` yields a relocatable byte-equal index whose
    MUTATION (compact / requantize) leaves the shared base untouched
    — the property that licenses sharing one base across the whole
    mutation family."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
        compact_text_index,
        read_text_index,
    )

    docs = load_table(spark, SF, "documents")
    base = FX.merged_text_path(spark, SF, docs)
    m = indexfmt.read_manifest(base, TEXT_INDEX_FORMAT)
    assert (
        int(m["version"]) == 2
        and len(m["segments"]) == 2
        and not m.get("tombstones")
    )
    mtime = os.path.getmtime(os.path.join(base, indexfmt.MANIFEST))
    assert FX.merged_text_path(spark, SF, docs) == base  # memo hit
    assert os.path.getmtime(os.path.join(base, indexfmt.MANIFEST)) == mtime

    def _content(p):
        postings, dfreq, stats = read_text_index(spark, p)
        return (
            {tuple(r) for r in postings.collect()},
            {tuple(r) for r in dfreq.collect()},
            {tuple(r) for r in stats.collect()},
        )

    before = _content(base)
    with FX.mutable_index_copy(base, "eng_test_copy_") as copy:
        assert compact_text_index(spark, copy) == 2
        mc = indexfmt.read_manifest(copy, TEXT_INDEX_FORMAT)
        assert int(mc["version"]) == 3 and len(mc["segments"]) == 1
        # the mutated copy's CONTENT is the base's (compaction is
        # layout-only) and the shared base is untouched
        assert _content(copy) == before
        mb = indexfmt.read_manifest(base, TEXT_INDEX_FORMAT)
        assert int(mb["version"]) == 2 and len(mb["segments"]) == 2
        assert (
            os.path.getmtime(os.path.join(base, indexfmt.MANIFEST)) == mtime
        )
    assert not os.path.exists(copy)  # the copy is removed on exit
    # the drifted IVF fixture pins the same shape
    emb = load_table(spark, SF, "embeddings")
    dbase = FX.ivf_drifted_path(spark, SF, emb)
    md = indexfmt.read_manifest(dbase, SIM.IVF_INDEX_FORMAT)
    assert (
        int(md["version"]) == 2
        and len(md["segments"]) == 2
        and not md.get("tombstones")
    )
    assert FX.ivf_drifted_path(spark, SF, emb) == dbase


# -- HLL sketch -------------------------------------------------------------


def test_hll_accuracy_and_merge(spark):
    """(a) Estimate within 3σ (~20%) of exact; (b) the register table
    is max-mergeable: fold(merge(shard registers)) == fold(full
    registers) EXACTLY (merge must be lossless on state)."""
    from ecommerce_realtime_pipeline_spark.operators import sketch as SK

    events = load_table(spark, SF, "events")
    est = {
        r["event_type"]: r["hll_estimate"]
        for r in SK.hll_distinct(events, "user_id", ["event_type"]).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, n in exact.items():
        assert abs(est[et] - n) / n < 0.20, (et, est[et], n)
    # mergeability
    h1 = events.filter(F.col("event_id") % 2 == 0)
    h2 = events.filter(F.col("event_id") % 2 == 1)
    merged = SK.hll_merge(
        [
            SK.hll_registers(h1, "user_id", ["event_type"]),
            SK.hll_registers(h2, "user_id", ["event_type"]),
        ],
        ["event_type"],
    )
    via_merge = {
        r["event_type"]: r["hll_estimate"]
        for r in SK.hll_fold(merged, ["event_type"]).collect()
    }
    assert via_merge == est


def test_hll_partition_invariant(spark):
    """Integer register max + DECIMAL fold ⇒ identical estimate under
    any partitioning."""
    from ecommerce_realtime_pipeline_spark.operators import sketch as SK

    events = load_table(spark, SF, "events")
    a = sorted(
        tuple(r)
        for r in SK.hll_distinct(events.coalesce(1), "user_id", ["event_type"]).collect()
    )
    b = sorted(
        tuple(r)
        for r in SK.hll_distinct(
            events.repartition(17), "user_id", ["event_type"]
        ).collect()
    )
    assert a == b


def test_twopass_quantiles_null_contract(spark):
    """NULL col rows must be excluded from the rank order entirely
    (they used to count toward n while least(NULL, n_bins-1) mapped
    them into the LAST histogram bin — ranks near n returned the wrong
    row), and all-NULL input must raise instead of crashing on
    lo=hi=None width arithmetic."""
    import pytest as _pytest

    from ecommerce_realtime_pipeline_spark.operators import sketch as SK

    vals = list(range(1, 101))  # 1..100
    rows = [(float(v), v) for v in vals] + [(None, 1000 + i) for i in range(40)]
    df = spark.createDataFrame(rows, "v double, id long")
    # exact quantiles over the 100 non-null values only
    got = dict(SK.exact_quantiles_twopass(df, "v", [0.5, 1.0]))
    assert got[0.5] == 50.0 and got[1.0] == 100.0
    # rank rows: rank n must be the true max non-null row, not the
    # (n_bins-1, 1) fall-through
    picked = SK.exact_rank_rows_twopass(df, "v", "id", [1, 100])
    assert [(k, v) for k, v, _ in picked] == [(1, 1.0), (100, 100.0)]
    # rank beyond the non-null count is out of range now
    with _pytest.raises(ValueError, match="not in"):
        SK.exact_rank_rows_twopass(df, "v", "id", [101])
    all_null = spark.createDataFrame([(None, 1), (None, 2)], "v double, id long")
    with _pytest.raises(ValueError, match="non-NULL"):
        SK.exact_quantiles_twopass(all_null, "v", [0.5])
    with _pytest.raises(ValueError, match="non-NULL"):
        SK.exact_rank_rows_twopass(all_null, "v", "id", [1])


def test_cms_overestimate_bound_and_merge(spark):
    """(a) CM never underestimates (min-of-counters ≥ true count);
    (b) the error is within εN for ε = e/w at these parameters;
    (c) counter states from disjoint shards merge by (r,c) SUM into
    exactly the full state."""
    import math

    from ecommerce_realtime_pipeline_spark.operators import sketch as SK

    events = load_table(spark, SF, "events")
    n_total = events.count()
    counters = SK.cms_counters(events, "user_id")
    est = {
        r["user_id"]: r["cms_estimate"]
        for r in SK.cms_estimate(counters, events, "user_id").collect()
    }
    exact = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    eps_n = math.e / SK.CMS_W * n_total
    for u, n in exact.items():
        assert est[u] >= n, (u, est[u], n)
        assert est[u] - n <= 4 * eps_n, (u, est[u], n, eps_n)
    # shard merge: sum counters by (r,c)
    h1 = SK.cms_counters(events.filter(F.col("event_id") % 2 == 0), "user_id")
    h2 = SK.cms_counters(events.filter(F.col("event_id") % 2 == 1), "user_id")
    merged = (
        h1.unionByName(h2).groupBy("_r", "_c").agg(F.sum("cnt").alias("cnt"))
    )
    est_m = {
        r["user_id"]: r["cms_estimate"]
        for r in SK.cms_estimate(merged, events, "user_id").collect()
    }
    assert est_m == est


def test_winnowing_guarantee_and_density(spark):
    """The winnowing guarantee: two docs sharing a run of ≥ w+k-1
    tokens MUST share a fingerprint (regardless of surrounding text);
    and the fingerprint set is a proper sample: ≥ n_grams/w (every
    window selects something) and ≤ n_grams."""
    run = "alpha beta gamma delta epsilon zeta"  # w+k-1 = 6 tokens
    docs = spark.createDataFrame(
        [
            (1, f"one two {run} three four five six"),
            (2, f"seven eight nine ten {run} eleven twelve"),
            (3, "unrelated words only here nothing shared at all today"),
        ],
        "doc_id long, text string",
    )
    fps = TX.winnow_fingerprints(docs).collect()
    by_doc: dict = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["h"])
    assert by_doc[1] & by_doc[2], "shared 6-token run produced no shared fingerprint"
    assert not (by_doc[1] & by_doc[3])
    for d in (1, 2, 3):
        n_grams = len(docs.filter(F.col("doc_id") == d).collect()[0]["text"].split()) - TX.WINNOW_K + 1
        n_windows = n_grams - TX.WINNOW_W + 1
        # each window picks one position; dedup can only shrink it to
        # no fewer than ceil(n_windows / w) distinct picks
        assert (n_windows + TX.WINNOW_W - 1) // TX.WINNOW_W <= len(by_doc[d]) <= n_grams


def test_hist_quantile_within_one_bin_of_exact(spark):
    """The grid guarantee, stated precisely: the estimate lands inside
    the bin that contains the ceil(q·n)-th smallest value, so it is
    within one bin width of that ORDER STATISTIC (the interpolated
    percentile can drift further in sparse tails — that is the grid
    trade the docstring names). Also monotone in q."""
    import math

    from ecommerce_realtime_pipeline_spark.operators import sketch as SK

    events = load_table(spark, SF, "events")
    approx = {
        (r["event_type"], r["q"]): r["approx_value"]
        for r in SK.hist_quantiles(
            events, "value", ["event_type"], [0.5, 0.9, 0.99]
        ).collect()
    }
    groups = {
        r["event_type"]: (sorted(r["vals"]), r["w"])
        for r in events.groupBy("event_type")
        .agg(
            F.collect_list("value").alias("vals"),
            ((F.max("value") - F.min("value")) / SK.HIST_BINS).alias("w"),
        )
        .collect()
    }
    for et, (vals, w) in groups.items():
        for q in [0.5, 0.9, 0.99]:
            kth = vals[min(len(vals) - 1, math.ceil(q * len(vals)) - 1)]
            got = approx[(et, q)]
            assert abs(got - kth) <= w + 1e-9, (et, q, got, kth, w)
        assert approx[(et, 0.5)] <= approx[(et, 0.9)] <= approx[(et, 0.99)]


def test_leakage_safe_split_vs_naive(spark, docs):
    """(a) The cluster-aware split NEVER separates near-dup cluster
    members across splits; (b) on this corpus the naive per-doc hash
    split DOES (the leakage mode being fixed) — i.e. the query isn't
    vacuously equal to the naive one."""
    pairs = DD.jaccard_pairs(docs, threshold=0.5, n=3)
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in DD.neardup_clusters_lss(pairs).collect()
    }
    split_of = {
        r["doc_id"]: r["split"]
        for r in docs.select(
            "doc_id", TX.hash_split("doc_id").alias("split")
        ).collect()
    }
    import hashlib

    def cluster_split(gk: int) -> str:
        b = int(hashlib.md5(str(gk).encode()).hexdigest()[:8], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    by_cluster: dict = {}
    naive_by_cluster: dict = {}
    for d, c in clusters.items():
        by_cluster.setdefault(c, set()).add(cluster_split(c))
        naive_by_cluster.setdefault(c, set()).add(split_of[d])
    assert all(len(s) == 1 for s in by_cluster.values())
    assert any(len(s) > 1 for s in naive_by_cluster.values()), (
        "corpus has no naive-split leakage; test can't demonstrate the fix"
    )


class TestChunkTokens:
    """Contract properties of the RAG chunking operator."""

    def _chunks(self, spark, text, size=5, stride=3):
        from ecommerce_realtime_pipeline_spark.operators.text import chunk_tokens

        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return sorted(
            chunk_tokens(df, size=size, stride=stride).collect(),
            key=lambda r: r["chunk_idx"],
        )

    def test_every_token_covered_and_overlap_exact(self, spark):
        toks = [f"t{i}" for i in range(11)]
        rows = self._chunks(spark, " ".join(toks), size=5, stride=3)
        # starts 0,3,6,9 — 4 chunks; tail chunk short (2 tokens)
        assert [r["start_tok"] for r in rows] == [0, 3, 6, 9]
        assert [r["n_tok"] for r in rows] == [5, 5, 5, 2]
        covered = set()
        for r in rows:
            covered |= set(range(r["start_tok"], r["start_tok"] + r["n_tok"]))
        assert covered == set(range(11))  # no token falls in a gap

    def test_chunk_hash_matches_slice(self, spark):
        import hashlib

        toks = [f"w{i}" for i in range(8)]
        rows = self._chunks(spark, " ".join(toks), size=4, stride=4)
        for r in rows:
            want = " ".join(toks[r["start_tok"] : r["start_tok"] + 4])
            assert r["chunk_hash"] == hashlib.md5(want.encode()).hexdigest()

    def test_single_short_doc_one_chunk(self, spark):
        rows = self._chunks(spark, "a b", size=5, stride=3)
        assert len(rows) == 1 and rows[0]["n_tok"] == 2


# -- corpus-comparison passes (round 5) --------------------------------------


def test_distinctive_terms_shape_and_monotone_rank(spark):
    out = training.docs_distinctive_terms(spark, SF).collect()
    by_source = {}
    for r in out:
        by_source.setdefault(r["source"], []).append(r)
    for source, rows in by_source.items():
        assert [r["rank"] for r in rows] == list(
            range(1, training.DISTINCTIVE_TOP_K + 1)
        ), source
        zs = [r["z"] for r in rows]
        assert zs == sorted(zs, reverse=True), source
        assert all(
            r["n_in_source"] >= training.DISTINCTIVE_MIN_COUNT for r in rows
        ), source


def test_distinctive_terms_planted_token_wins(spark, tmp_path):
    """A token that only one source uses (with heavy support) must be
    that source's #1 distinctive term with a large positive z."""
    base = " ".join(f"w{i % 7}" for i in range(40))
    rows = [(i, base + " zzqx" * 0, "en", "src_other", 0) for i in range(20)]
    rows += [
        (100 + i, base + " zzqx zzqx zzqx", "en", "src_plant", 0)
        for i in range(5)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "documents.parquet")
    docs.repartition(1).write.parquet(path)
    # the query loads <sf_dir>/documents.parquet — point it at the plant
    out = training.docs_distinctive_terms(spark, str(tmp_path)).collect()
    top_plant = next(
        r for r in out if r["source"] == "src_plant" and r["rank"] == 1
    )
    assert top_plant["term"] == "zzqx" and top_plant["z"] > 0


def test_source_overlap_matrix_symmetric_counts(spark):
    out = training.docs_source_overlap_matrix(spark, SF).collect()
    shared = {(r["source_a"], r["source_b"]): r["n_shared"] for r in out}
    for (a, b), n in shared.items():
        assert a != b
        assert shared.get((b, a)) == n  # |A∩B| is symmetric
    assert all(0 < r["overlap_rate"] <= 1.0 for r in out)


def test_label_outliers_planted_mislabel_is_top(spark, tmp_path):
    """A vector planted FAR from its label's tight cluster must be the
    #1 review-queue row; cluster members share (label, n_label)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for lbl in (0, 1):
        center = np.zeros(8)
        center[lbl] = 5.0
        for i in range(20):
            v = center + rng.normal(0, 0.01, 8)
            rows.append((lbl * 100 + i, [float(x) for x in v], lbl))
    rows.append((999, [float(x) for x in np.full(8, -9.0)], 0))  # mislabel
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).repartition(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = ann.emb_label_outliers(spark, str(tmp_path)).collect()
    assert out[0]["vec_id"] == 999 and out[0]["label"] == 0
    assert out[0]["centroid_dist"] > 5 * out[1]["centroid_dist"]
    assert out[0]["n_label"] == 21


def test_hard_negatives_cross_label_and_ranked(spark):
    out = ann.emb_hard_negatives(spark, SF).collect()
    assert out, "anchor set must mine at least one hard negative"
    per_q = {}
    for r in out:
        assert r["query_label"] != r["neighbor_label"]
        assert 1 <= r["rank"] <= ann.HARD_NEG_K
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["cos_sim"]))
    for q, rows in per_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True), q


def test_ann_recall_eval_bounds_and_floor(spark):
    out = ann.emb_ann_recall(spark, SF).collect()
    assert len(out) == 10  # one row per query vector
    assert all(0.0 <= r["recall_at_k"] <= 1.0 for r in out)
    assert all(r["n_hits"] == round(r["recall_at_k"] * ann.KNN_K) for r in out)
    mean = sum(r["recall_at_k"] for r in out) / len(out)
    assert mean >= 0.8  # the documented isotropic-corpus floor for 4x12 LSH


def _mk_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _text_index_content(spark, path):
    from ecommerce_realtime_pipeline_spark.operators.text import read_text_index

    postings, dfreq, stats = read_text_index(spark, path)
    return (
        sorted(tuple(r) for r in postings.collect()),
        sorted(tuple(r) for r in dfreq.collect()),
        sorted(tuple(r) for r in stats.collect()),
    )


def _seg_bytes(path, seg):
    """Every parquet file byte under one immutable segment dir."""
    out = {}
    for root, _, files in os.walk(os.path.join(path, seg)):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = open(full, "rb").read()
    return out


def test_probe_udf_cosine_ties_resolve_to_lower_cid(spark):
    """Exact cosine ties between centroids must assign the LOWER cid
    — the documented tie-break every SQL oracle replicates via
    row_number() ORDER BY sim DESC, cid ASC. np.argsort's default
    quicksort is NOT stable, so this pins the kind='stable' sort:
    duplicate centroids (the worst case — every vector ties) must
    always probe in ascending-cid order."""
    # cids 0 and 1 are identical; 2 is orthogonal — every corpus
    # vector along [1,0,...] ties exactly between 0 and 1
    cents = [[1.0, 0.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    probe = SIM._probe_udf(cents, 2)
    vecs = spark.createDataFrame(
        [(i, [float(i + 1), 0.0, 0.0, 0.0]) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    out = vecs.select(probe(F.col("embedding")).alias("p")).collect()
    assert all(list(r["p"]) == [0, 1] for r in out)


def test_merge_text_index_incremental_equivalence(spark, tmp_path):
    """merge_text_index must (a) append ONE new segment and leave the
    existing segment's files byte-identical (immutable-segment claim
    — the merge never even opens existing postings), and (b) produce
    an index whose postings/dfreq/stats CONTENT equals a full rebuild
    over the union corpus, with the manifest version bumped by one."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
        merge_text_index,
        write_text_index,
    )

    rows_a = [(1, "alpha beta gamma"), (2, "alpha delta")]
    rows_b = [(3, "beta epsilon"), (4, "zeta zeta eta")]
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    write_text_index(_mk_docs(spark, rows_a), inc)
    m0 = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)
    assert len(m0["segments"]) == 1
    before = _seg_bytes(inc, m0["segments"][0])
    touched = merge_text_index(_mk_docs(spark, rows_b), inc)
    assert touched == ["beta", "epsilon", "eta", "zeta"]
    m1 = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)
    # (a) one appended segment; the original is byte-identical
    assert m1["version"] == m0["version"] + 1
    assert m1["segments"][:1] == m0["segments"] and len(m1["segments"]) == 2
    assert _seg_bytes(inc, m0["segments"][0]) == before
    # (b) merged CONTENT == full rebuild (layouts differ: 2 segs vs 1)
    write_text_index(_mk_docs(spark, rows_a + rows_b), full)
    assert _text_index_content(spark, inc) == _text_index_content(spark, full)


def test_merge_text_index_touched_report_is_capped(spark, tmp_path, monkeypatch):
    """The touched-token report is a SORTED SAMPLE bounded by
    TOUCHED_REPORT_CAP — the full delta vocabulary never becomes the
    report (a heavy ingest batch can carry an O(10⁵–10⁶)-term
    vocab). The cap is reporting-only: the index
    content must still cover EVERY token in the batch."""
    from ecommerce_realtime_pipeline_spark.operators import text as TX

    inc = str(tmp_path / "inc")
    TX.write_text_index(_mk_docs(spark, [(1, "aa bb")]), inc)
    monkeypatch.setattr(TX, "TOUCHED_REPORT_CAP", 3)
    touched = TX.merge_text_index(
        _mk_docs(spark, [(2, "cc dd ee ff gg")]), inc
    )
    assert touched == ["cc", "dd", "ee"]  # first 3 in sort order
    # reporting cap only — all 5 tokens are served
    postings, _, _ = TX.read_text_index(spark, inc)
    got = {r["token"] for r in postings.select("token").distinct().collect()}
    assert {"cc", "dd", "ee", "ff", "gg"} <= got
    # NULL/empty contract still enforced (on the written segment layout)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="NULL/empty"):
        TX.merge_text_index(_mk_docs(spark, [(9, "")]), inc)


def test_compact_text_index_folds_segments_and_vacuums(spark, tmp_path):
    """compact_text_index must fold the segment list back to ONE with
    identical content and vacuum every unreferenced child (superseded
    segments and dfreq/stats generations) — the tiered-merge step that
    bounds per-query segment fan-out."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
        compact_text_index,
        merge_text_index,
        write_text_index,
    )

    inc = str(tmp_path / "inc")
    write_text_index(_mk_docs(spark, [(1, "alpha beta")]), inc)
    merge_text_index(_mk_docs(spark, [(2, "beta gamma")]), inc)
    merge_text_index(_mk_docs(spark, [(3, "gamma delta")]), inc)
    want = _text_index_content(spark, inc)
    assert len(indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)["segments"]) == 3
    assert compact_text_index(spark, inc) == 3
    m = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)
    assert len(m["segments"]) == 1
    assert _text_index_content(spark, inc) == want
    # vacuumed up to the retention horizon: every child dir on disk is
    # referenced by a RETAINED manifest generation (the previous
    # generation's children survive one flip+vacuum — the concurrent-
    # reader grace window), and nothing else
    live = set()
    for gen in indexfmt.retained_manifests(inc):
        live |= indexfmt.referenced_children(gen)
    on_disk = {
        d for d in os.listdir(inc) if os.path.isdir(os.path.join(inc, d))
    }
    assert on_disk == live
    assert indexfmt.referenced_children(m) <= live


def test_merge_max_segments_policy_compacts_inline(spark, tmp_path):
    """max_segments turns compaction into a tiered-merge POLICY: a
    merge that would leave more live segments than the tier size
    compacts inline, so segment fan-out stays bounded across an
    arbitrary merge sequence while content still equals a full
    rebuild — for BOTH index families."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
        merge_text_index,
        write_text_index,
    )

    rows = [(i, f"w{i} shared") for i in range(6)]
    inc = str(tmp_path / "inc")
    write_text_index(_mk_docs(spark, rows[:2]), inc)
    for i in range(2, 6):
        merge_text_index(_mk_docs(spark, [rows[i]]), inc, max_segments=2)
        m = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)
        assert len(m["segments"]) <= 2
    full = str(tmp_path / "full")
    write_text_index(_mk_docs(spark, rows), full)
    assert _text_index_content(spark, inc) == _text_index_content(spark, full)

    def mk(ids):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids
            ],
            "vec_id long, embedding array<float>, label int",
        )

    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(0, 20, 2)), ivf, n_centroids=2)
    for batch in ([1], [3], [5], [7]):
        SIM.merge_ivf_index(mk(batch), ivf, max_segments=2)
        m = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)
        assert len(m["segments"]) <= 2
    _, cells = SIM.read_ivf_index(spark, ivf)
    assert sorted(int(r["neighbor_id"]) for r in cells.collect()) == sorted(
        list(range(0, 20, 2)) + [1, 3, 5, 7]
    )


def test_merge_text_index_escaped_tokens(spark, tmp_path):
    """Tokens whose partition values Spark escapes (':', '%', '=', '#')
    must round-trip through an incremental merge: the segment write and
    the read-back both go through Spark's partition-value escaping, so
    an escaped token must come back verbatim with its postings."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        merge_text_index,
        write_text_index,
    )

    rows_a = [(1, "a:b plain 50%"), (2, "x=y plain")]
    rows_b = [(3, "a:b #tag"), (4, "50% x=y q?z")]
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    write_text_index(_mk_docs(spark, rows_a), inc)
    touched = merge_text_index(_mk_docs(spark, rows_b), inc)
    assert touched == ["#tag", "50%", "a:b", "q?z", "x=y"]
    write_text_index(_mk_docs(spark, rows_a + rows_b), full)
    assert _text_index_content(spark, inc) == _text_index_content(spark, full)


def test_merge_text_index_rejects_null_empty_tokens(spark, tmp_path):
    """A batch containing an empty token (bare space-split artifact)
    must be rejected up front with the CONTRACT message (a ValueError,
    not the TypeError a premature sorted() over None would raise):
    Spark writes NULL/empty as __HIVE_DEFAULT_PARTITION__, whose
    partition value reads back as NULL — unreachable by any term
    equality, silently desynchronizing postings from dfreq/stats."""
    import pytest as _pytest

    from ecommerce_realtime_pipeline_spark.operators.text import (
        merge_text_index,
        write_text_index,
    )

    inc = str(tmp_path / "inc")
    write_text_index(_mk_docs(spark, [(1, "alpha beta")]), inc)
    with _pytest.raises(ValueError, match="NULL/empty"):
        merge_text_index(_mk_docs(spark, [(2, " leading space")]), inc)


def test_crashed_merge_leaves_old_index_readable_and_retry_succeeds(
    spark, tmp_path, monkeypatch
):
    """THE torn-merge crash class, structurally closed by the manifest
    design (round-7 verdict task 2): kill the merge at the WORST
    moment — after every segment/metadata write, one instruction
    before the pointer flip — and the old index must still read
    byte-for-byte identically; then a plain RETRY of the same merge
    must succeed with content equal to a full rebuild. No marker, no
    delete-then-rebuild protocol. Both index families."""
    import pytest as _pytest

    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
    from ecommerce_realtime_pipeline_spark.operators.text import (
        merge_text_index,
        write_text_index,
    )

    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    write_text_index(_mk_docs(spark, [(1, "alpha beta")]), inc)
    want_old = _text_index_content(spark, inc)

    real_write = indexfmt.write_manifest

    def crash(path, manifest):
        raise OSError("injected crash at the commit point")

    monkeypatch.setattr(indexfmt, "write_manifest", crash)
    with _pytest.raises(OSError, match="injected crash"):
        merge_text_index(_mk_docs(spark, [(2, "beta gamma")]), inc)
    monkeypatch.setattr(indexfmt, "write_manifest", real_write)
    # old index fully intact (the manifest never moved)
    assert _text_index_content(spark, inc) == want_old
    # retry just works — no recovery protocol
    assert merge_text_index(_mk_docs(spark, [(2, "beta gamma")]), inc) == [
        "beta",
        "gamma",
    ]
    write_text_index(_mk_docs(spark, [(1, "alpha beta"), (2, "beta gamma")]), full)
    assert _text_index_content(spark, inc) == _text_index_content(spark, full)

    def mk_emb(ids):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids
            ],
            "vec_id long, embedding array<float>, label int",
        )

    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk_emb(range(0, 40, 2)), ivf, n_centroids=2)
    _, cells0 = SIM.read_ivf_index(spark, ivf)
    want_ivf = sorted(
        (int(r["cell"]), int(r["neighbor_id"])) for r in cells0.collect()
    )
    monkeypatch.setattr(indexfmt, "write_manifest", crash)
    with _pytest.raises(OSError, match="injected crash"):
        SIM.merge_ivf_index(mk_emb([1, 3]), ivf)
    monkeypatch.setattr(indexfmt, "write_manifest", real_write)
    _, cells1 = SIM.read_ivf_index(spark, ivf)
    assert (
        sorted((int(r["cell"]), int(r["neighbor_id"])) for r in cells1.collect())
        == want_ivf
    )
    assert SIM.merge_ivf_index(mk_emb([1, 3]), ivf)  # retry lands
    _, cells2 = SIM.read_ivf_index(spark, ivf)
    assert sorted(int(r["neighbor_id"]) for r in cells2.collect()) == sorted(
        list(range(0, 40, 2)) + [1, 3]
    )
    # compaction reclaims the crashed merge's orphan segment (the
    # retained previous generation never referenced it either)
    SIM.compact_ivf_index(spark, ivf)
    live = set()
    for gen in indexfmt.retained_manifests(ivf):
        live |= indexfmt.referenced_children(gen)
    on_disk = {
        d for d in os.listdir(ivf) if os.path.isdir(os.path.join(ivf, d))
    }
    assert on_disk == live
    _, cells3 = SIM.read_ivf_index(spark, ivf)
    assert sorted(int(r["neighbor_id"]) for r in cells3.collect()) == sorted(
        list(range(0, 40, 2)) + [1, 3]
    )


def test_hybrid_rrf_fusion_properties(spark):
    """RRF fusion contract: every returned doc appears in at least
    one leg, the score is exactly Σ 1/(60+rank) over present legs
    (recomputed row by row), and the list is sorted by (score desc,
    doc_id) — rank-only fusion, no score calibration."""
    rows = textsearch.docs_hybrid_search_rrf(spark, SF).collect()
    assert len(rows) == 10
    prev = None
    for r in rows:
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
        want = 0.0
        if r["lex_rank"] is not None:
            want += 1.0 / (textsearch.RRF_K + r["lex_rank"])
        if r["sem_rank"] is not None:
            want += 1.0 / (textsearch.RRF_K + r["sem_rank"])
        assert abs(r["rrf_score"] - round(want, 6)) < 1e-9
        if prev is not None:
            assert (r["rrf_score"], -r["doc_id"]) <= prev
        prev = (r["rrf_score"], -r["doc_id"])


def test_delete_from_text_index_lucene_live_docs_semantics(spark, tmp_path):
    """The full delete lifecycle on the manifest layout: (a) deleted
    docs vanish from postings (and thus BM25) IMMEDIATELY via the
    tombstone anti-join; (b) dfreq/stats stay the PRE-DELETE values
    until compaction (the documented Lucene staleness); (c) deletes
    survive a subsequent merge; (d) compaction applies tombstones
    physically, RECOMPUTES dfreq/stats exactly — content equals a
    fresh build over the surviving docs — and vacuums the tombstone
    dirs; (e) an empty delete set is a no-op (no pointer flip)."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
        compact_text_index,
        delete_from_text_index,
        merge_text_index,
        read_text_index,
        write_text_index,
    )

    rows_a = [(1, "alpha beta gamma"), (2, "alpha delta")]
    rows_b = [(3, "beta epsilon"), (4, "zeta zeta eta")]
    rows_c = [(5, "gamma theta")]
    # a surviving doc with NO postings rows (NULL text → explode drops
    # it, but it counts in n_docs): compaction must keep it in the
    # recomputed stats via the per-doc sidecar, not silently drop it
    no_tokens = spark.createDataFrame(
        [(6, None, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    inc = str(tmp_path / "inc")
    write_text_index(_mk_docs(spark, rows_a + rows_b).unionByName(no_tokens), inc)
    _, dfreq0, stats0 = read_text_index(spark, inc)
    dfreq_before = sorted(tuple(r) for r in dfreq0.collect())
    stats_before = sorted(tuple(r) for r in stats0.collect())

    ids_b = spark.createDataFrame([(3,), (4,)], "doc_id long")
    assert delete_from_text_index(ids_b, inc) == 2
    # (e) empty delete set: no-op, version unchanged
    v = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)["version"]
    assert (
        delete_from_text_index(
            spark.createDataFrame([], "doc_id long"), inc
        )
        == 0
    )
    assert indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)["version"] == v
    # (a) postings masked immediately; (b) metadata stale by design
    postings, dfreq1, stats1 = read_text_index(spark, inc)
    assert {r["doc_id"] for r in postings.select("doc_id").distinct().collect()} == {1, 2}
    assert sorted(tuple(r) for r in dfreq1.collect()) == dfreq_before
    assert sorted(tuple(r) for r in stats1.collect()) == stats_before
    # (c) deletes survive a merge
    merge_text_index(_mk_docs(spark, rows_c), inc)
    postings2, _, _ = read_text_index(spark, inc)
    assert {r["doc_id"] for r in postings2.select("doc_id").distinct().collect()} == {1, 2, 5}
    # (d) compact applies + recomputes; equals fresh build over the
    # survivors INCLUDING the zero-postings doc (stats recompute goes
    # through the per-doc sidecar, so n_docs/sum_dl stay exact)
    compact_text_index(spark, inc)
    m = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)
    assert m.get("tombstones", []) == [] and len(m["segments"]) == 1
    live = set()
    for gen in indexfmt.retained_manifests(inc):
        live |= indexfmt.referenced_children(gen)
    on_disk = {d for d in os.listdir(inc) if os.path.isdir(os.path.join(inc, d))}
    assert on_disk == live
    full = str(tmp_path / "full")
    write_text_index(
        _mk_docs(spark, rows_a + rows_c).unionByName(no_tokens), full
    )
    assert _text_index_content(spark, inc) == _text_index_content(spark, full)
    # the folded sidecar names exactly the survivor docs
    assert len(m["docs"]) == 1
    side = sorted(
        (r["doc_id"], r["dl"])
        for r in spark.read.parquet(f"{inc}/{m['docs'][0]}").collect()
    )
    assert [d for d, _ in side] == [1, 2, 5, 6]


def test_concurrent_reader_survives_inline_compaction(spark, tmp_path):
    """THE concurrent-reader window the r8 design documented and r9
    closes with generation retention: a reader resolves the index
    (lazy frames pin the OLD manifest's file list), a merge with
    max_segments then triggers an INLINE compaction + vacuum — and
    the reader's collect() must still succeed, because vacuum spares
    every child the retained previous generation references. One
    more flip+vacuum later (past the horizon) the old segments are
    actually reclaimed — retention delays, never leaks."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
        compact_text_index,
        merge_text_index,
        read_text_index,
        write_text_index,
    )

    inc = str(tmp_path / "inc")
    write_text_index(_mk_docs(spark, [(1, "alpha beta")]), inc)
    merge_text_index(_mk_docs(spark, [(2, "beta gamma")]), inc)
    m_old = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)
    # the reader: resolves the 2-segment manifest, does NOT execute yet
    postings_old, dfreq_old, _ = read_text_index(spark, inc)
    # a routine merge crosses the tier size -> inline compact + vacuum
    merge_text_index(_mk_docs(spark, [(3, "gamma delta")]), inc, max_segments=2)
    m_new = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)
    assert len(m_new["segments"]) == 1  # compaction really ran
    # old generation's children all still on disk...
    for child in indexfmt.referenced_children(m_old):
        assert os.path.isdir(os.path.join(inc, child)), child
    # ...so the in-flight reader completes instead of FileNotFound —
    # including its METADATA tables, which are superseded at every
    # flip and sit TWO generations back after the merge+compact
    # double flip (why KEEP_GENERATIONS is 2)
    assert {r["doc_id"] for r in postings_old.collect()} == {1, 2}
    assert dfreq_old.count() > 0
    # past the horizon: two more flips prune the old snapshots and
    # vacuum actually reclaims the pre-compaction segments
    merge_text_index(_mk_docs(spark, [(4, "delta epsilon")]), inc)
    merge_text_index(_mk_docs(spark, [(5, "epsilon zeta")]), inc)
    reclaimed = indexfmt.vacuum(inc, TEXT_INDEX_FORMAT)
    assert set(m_old["segments"]) <= set(reclaimed)


def test_streaming_index_fold_exactly_once_and_empty_landing(spark, tmp_path):
    """The streaming index-maintenance loop's idempotence story: two
    availableNow runs over ONE checkpoint fold each landed file into
    the index exactly once (a replay would double postings — tf would
    inflate, caught here by exact content equality vs a one-shot
    build), and a third run with NO new files is a complete no-op
    (no version bump, no empty-batch write)."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
        merge_text_index,
        write_text_index,
    )

    rows_a = [(1, "alpha beta"), (2, "beta gamma")]
    rows_b = [(3, "gamma delta")]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "idx")
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def fold(batch_df, batch_id):
        rows = batch_df.select("doc_id", "text", "lang", "source", "n_chars")
        if rows.isEmpty():
            return
        if indexfmt.has_index(idx):
            merge_text_index(rows, idx)
        else:
            write_text_index(rows, idx)

    def run():
        (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    for batch in (rows_a, rows_b):
        _mk_docs(spark, batch).repartition(1).write.mode("append").parquet(src)
        run()
    v2 = indexfmt.read_manifest(idx, TEXT_INDEX_FORMAT)["version"]
    run()  # no new files: exactly-once tracking makes this a no-op
    assert indexfmt.read_manifest(idx, TEXT_INDEX_FORMAT)["version"] == v2
    full = str(tmp_path / "full")
    write_text_index(_mk_docs(spark, rows_a + rows_b), full)
    assert _text_index_content(spark, idx) == _text_index_content(spark, full)


def test_index_time_travel_reads_retained_generation(spark, tmp_path):
    """Snapshot reads within the retention horizon (the Iceberg
    time-travel model on the _GEN snapshots): after a merge, reading
    at the pre-merge version returns exactly the pre-merge index for
    BOTH families; an expired/unknown version names the retained set
    in the error."""
    import pytest as _pytest

    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
    from ecommerce_realtime_pipeline_spark.operators.text import (
        merge_text_index,
        read_text_index,
        write_text_index,
    )

    inc = str(tmp_path / "inc")
    write_text_index(_mk_docs(spark, [(1, "alpha beta")]), inc)
    want_v1 = _text_index_content(spark, inc)
    merge_text_index(_mk_docs(spark, [(2, "beta gamma")]), inc)
    assert _text_index_content(spark, inc) != want_v1  # live index moved
    p1, d1, s1 = read_text_index(spark, inc, version=1)
    got_v1 = (
        sorted(tuple(r) for r in p1.collect()),
        sorted(tuple(r) for r in d1.collect()),
        sorted(tuple(r) for r in s1.collect()),
    )
    assert got_v1 == want_v1
    with _pytest.raises(ValueError, match="no retained generation 99"):
        read_text_index(spark, inc, version=99)

    def mk(ids):
        return spark.createDataFrame(
            [(i, [float((i * 3 + d) % 7) - 3.0 for d in range(4)], 0) for i in ids],
            "vec_id long, embedding array<float>, label int",
        )

    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(0, 10)), ivf, n_centroids=2)
    _, cells1 = SIM.read_ivf_index(spark, ivf)
    want_ids = sorted(int(r["neighbor_id"]) for r in cells1.collect())
    SIM.merge_ivf_index(mk(range(10, 14)), ivf)
    _, old_cells = SIM.read_ivf_index(spark, ivf, version=1)
    assert sorted(int(r["neighbor_id"]) for r in old_cells.collect()) == want_ids
    # reading the CURRENT version explicitly is also fine
    cur_v = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)["version"]
    _, cur_cells = SIM.read_ivf_index(spark, ivf, version=cur_v)
    assert cur_cells.count() == len(want_ids) + 4


def test_ivf_delete_compact_equals_fresh_build_over_survivors(spark, tmp_path):
    """Tombstone lifecycle SYMMETRY for the IVF family (text already
    pins delete→compact ≡ fresh-build-over-survivors): build over the
    evens (quantizer trains there — the emb_knn_ivf_merged sample
    contract), merge the odds in, tombstone exactly the odds, compact
    — the physical index must be bit-identical (cells, ids, stored
    vectors) to the ORIGINAL even-only index, and serving from it must
    equal serving from a fresh even-only build (same quantizer sample
    ⇒ same centroids ⇒ same everything)."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM

    def mk(ids):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids
            ],
            "vec_id long, embedding array<float>, label int",
        )

    def content(path):
        _, cells = SIM.read_ivf_index(spark, path)
        return sorted(
            (int(r["cell"]), int(r["neighbor_id"]), tuple(r["_v"]))
            for r in cells.collect()
        )

    def serve(path):
        return sorted(
            tuple(r)
            for r in SIM.knn_ivf_from_index(
                spark, path, mk([100, 102]), k=3, n_probe=2
            ).collect()
        )

    evens, odds = list(range(100, 140, 2)), list(range(101, 140, 2))
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    SIM.write_ivf_index(mk(evens), a, n_centroids=4)
    want_content, cents0 = content(a), SIM.read_ivf_index(spark, a)[0]
    SIM.merge_ivf_index(mk(odds), a)
    assert SIM.delete_from_ivf_index(
        spark.createDataFrame([(i,) for i in odds], "vec_id long"), a
    ) == len(odds)
    assert SIM.compact_ivf_index(spark, a) == 2
    m = indexfmt.read_manifest(a, SIM.IVF_INDEX_FORMAT)
    assert m.get("tombstones", []) == [] and len(m["segments"]) == 1
    # physical identity across the delete/compact boundary
    assert content(a) == want_content
    assert SIM.read_ivf_index(spark, a)[0] == cents0  # quantizer untouched
    # serving identity vs a fresh build over the survivor set
    SIM.write_ivf_index(mk(evens), b, n_centroids=4)
    assert serve(a) == serve(b)


def test_max_deleted_ratio_policy_compacts_inline_both_families(spark, tmp_path):
    """The deletes-percentage compaction policy (Lucene's tier
    trigger), both families: a delete below the ratio leaves
    tombstones live (no O(index) work on the hot path); the delete
    that crosses it compacts INLINE — tombstones cleared, content
    equal to a fresh build over the survivors; and deleting EVERYTHING
    stays tombstoned instead of raising (an empty index is
    unpublishable — the caller drops the directory)."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
        delete_from_text_index,
        write_text_index,
    )

    rows = [(i, f"tok{i} shared") for i in range(10)]
    inc = str(tmp_path / "inc")
    write_text_index(_mk_docs(spark, rows), inc)

    def ids(lo, hi):
        return spark.createDataFrame([(i,) for i in range(lo, hi)], "doc_id long")

    # 2/10 dead: under the 0.3 ratio, tombstones stay live
    assert delete_from_text_index(ids(0, 2), inc, max_deleted_ratio=0.3) == 2
    m = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)
    assert len(m.get("tombstones", [])) == 1
    # +2 more = 4/10 > 0.3: inline compaction fires
    assert delete_from_text_index(ids(2, 4), inc, max_deleted_ratio=0.3) == 2
    m = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)
    assert m.get("tombstones", []) == [] and len(m["segments"]) == 1
    full = str(tmp_path / "full")
    write_text_index(_mk_docs(spark, rows[4:]), full)
    assert _text_index_content(spark, inc) == _text_index_content(spark, full)
    # deleting every survivor under the policy: tombstoned, not raised
    assert (
        delete_from_text_index(ids(4, 10), inc, max_deleted_ratio=0.3) == 6
    )
    assert indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)["tombstones"]

    def mk(ids_):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids_
            ],
            "vec_id long, embedding array<float>, label int",
        )

    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(10)), ivf, n_centroids=2)
    vid = spark.createDataFrame([(0,), (1,)], "vec_id long")
    assert SIM.delete_from_ivf_index(vid, ivf, max_deleted_ratio=0.3) == 2
    m = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)
    assert len(m.get("tombstones", [])) == 1
    vid2 = spark.createDataFrame([(2,), (3,)], "vec_id long")
    assert SIM.delete_from_ivf_index(vid2, ivf, max_deleted_ratio=0.3) == 2
    m = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)
    assert m.get("tombstones", []) == [] and len(m["segments"]) == 1
    _, cells = SIM.read_ivf_index(spark, ivf)
    assert sorted(int(r["neighbor_id"]) for r in cells.collect()) == list(range(4, 10))


def test_compact_refuses_fully_tombstoned_index(spark, tmp_path):
    """Deleting EVERY doc and compacting must refuse loudly (an empty
    partitioned write is unreadable on the way back — the same
    empty-corpus contract as the writers), for both index families."""
    import pytest as _pytest

    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
    from ecommerce_realtime_pipeline_spark.operators.text import (
        compact_text_index,
        delete_from_text_index,
        write_text_index,
    )

    inc = str(tmp_path / "inc")
    write_text_index(_mk_docs(spark, [(1, "alpha beta")]), inc)
    delete_from_text_index(spark.createDataFrame([(1,)], "doc_id long"), inc)
    with _pytest.raises(ValueError, match="tombstoned"):
        compact_text_index(spark, inc)

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(emb, ivf, n_centroids=1)
    SIM.delete_from_ivf_index(emb.select("vec_id"), ivf)
    with _pytest.raises(ValueError, match="tombstoned"):
        SIM.compact_ivf_index(spark, ivf)


def test_delete_from_ivf_index_removes_planted_neighbors(spark, tmp_path):
    """ANN delete lifecycle: after planting near-duplicates and
    building the index over them, deleting the planted ids must
    remove them from every top-k IMMEDIATELY (tombstone anti-join on
    the serving path), and compaction must keep them gone while
    folding to one segment and vacuuming the tombstones."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt

    corpus, qs, n, planted_only = _planted_recall_fixture(spark)
    path = str(tmp_path / "ivf")
    SIM.write_ivf_index(corpus, path)
    res = SIM.knn_ivf_from_index(spark, path, qs, k=5, n_probe=8)
    assert _planted_recall(res, n) >= 0.9  # planted present pre-delete
    assert SIM.delete_from_ivf_index(planted_only.select("vec_id"), path) == n
    res2 = SIM.knn_ivf_from_index(spark, path, qs, k=5, n_probe=8)
    planted_ids = {r["vec_id"] for r in planted_only.select("vec_id").collect()}
    returned = {r["neighbor_id"] for r in res2.collect()}
    assert not (returned & planted_ids)  # gone immediately
    SIM.compact_ivf_index(spark, path)
    m = indexfmt.read_manifest(path, SIM.IVF_INDEX_FORMAT)
    assert m.get("tombstones", []) == [] and len(m["segments"]) == 1
    res3 = SIM.knn_ivf_from_index(spark, path, qs, k=5, n_probe=8)
    assert not ({r["neighbor_id"] for r in res3.collect()} & planted_ids)


def test_merge_ivf_index_empty_batch_is_noop(spark, tmp_path):
    """An EMPTY merge batch must leave the index untouched: no version
    bump, no new segment, `touched == []` — and (r13 optimization
    round: the touched report now derives from the WRITTEN partition
    layout) no orphan empty segment directory left behind either."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM

    def mk(ids):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids
            ],
            "vec_id long, embedding array<float>, label int",
        )

    path = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(0, 20, 2)), path, n_centroids=4)
    m0 = indexfmt.read_manifest(path, SIM.IVF_INDEX_FORMAT)
    children_before = sorted(os.listdir(path))
    touched = SIM.merge_ivf_index(mk([]), path)
    assert touched == []
    m1 = indexfmt.read_manifest(path, SIM.IVF_INDEX_FORMAT)
    assert m1 == m0  # no flip, same generation
    assert sorted(os.listdir(path)) == children_before  # no orphan dir


def test_merge_ivf_index_incremental_equivalence(spark, tmp_path):
    """merge_ivf_index must append ONE immutable segment (existing
    segment files byte-identical — the merge never opens them) and
    land every appended vector in the cell the shipped quantizer
    assigns (merged content == one-shot build + merge determinism)."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM

    def mk(ids):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids
            ],
            "vec_id long, embedding array<float>, label int",
        )

    base_ids = list(range(0, 40, 2))
    new_ids = [1, 3]
    path = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(base_ids), path, n_centroids=4)
    m0 = indexfmt.read_manifest(path, SIM.IVF_INDEX_FORMAT)
    before = _seg_bytes(path, m0["segments"][0])
    touched = SIM.merge_ivf_index(mk(new_ids), path)
    assert touched  # the batch landed somewhere
    m1 = indexfmt.read_manifest(path, SIM.IVF_INDEX_FORMAT)
    assert m1["version"] == m0["version"] + 1
    assert m1["segments"][:1] == m0["segments"] and len(m1["segments"]) == 2
    assert m1["centroids"] == m0["centroids"]  # quantizer carried over
    assert _seg_bytes(path, m0["segments"][0]) == before
    # merged postings == full union assigned by the SAME quantizer
    # (centroids trained on base_ids in both cases)
    _, cells = SIM.read_ivf_index(spark, path)
    got = sorted(
        (int(r["cell"]), int(r["neighbor_id"])) for r in cells.collect()
    )
    path2 = str(tmp_path / "ivf2")
    SIM.write_ivf_index(mk(base_ids), path2, n_centroids=4)
    SIM.merge_ivf_index(mk(new_ids), path2)
    assert sorted(i for _, i in got) == sorted(base_ids + new_ids)
    _, cells2 = SIM.read_ivf_index(spark, path2)
    got2 = sorted(
        (int(r["cell"]), int(r["neighbor_id"])) for r in cells2.collect()
    )
    assert got == got2  # deterministic merge


def test_knn_filtered_respects_constraint_and_matches_subcorpus(spark):
    """Filtered vector search: (a) every neighbor shares its query's
    label; (b) at FULL probe coverage (n_probe = n_centroids) the
    result is EXACTLY brute force over the label-restricted
    sub-corpus — the pre-filter recall contract (a post-filtered
    top-k would return fewer rows here)."""
    from ecommerce_realtime_pipeline_spark.catalog import load_table
    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM

    emb = load_table(spark, SF, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    q = emb.filter(F.col("vec_id") < 10)
    out = SIM.knn_ivf_filtered(emb, q, k=5, n_probe=16).collect()
    assert out, "filtered search returned nothing"
    for r in out:
        assert labels[r["neighbor_id"]] == labels[r["query_id"]]
    # brute force per query over ONLY its label's sub-corpus
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for qid, pairs in got.items():
        sub = emb.filter(F.col("label") == labels[qid])
        bf = SIM.knn_bruteforce(
            sub, emb.filter(F.col("vec_id") == qid), k=5
        ).collect()
        expect = [(r["rank"], r["neighbor_id"]) for r in bf]
        assert sorted(pairs) == sorted(expect), qid


def test_image_ahash_neardup_finds_planted_pairs(spark):
    """The planted (base, base+1) replica pairs dominate the detected
    set (hex-ASCII rasters are low-entropy, so an occasional
    coincidental pair within Hamming ≤ 7 is legitimate — both engines
    agree on it via the exact verify), every detected pair is within
    the threshold, and detection survives the PPM/BMP codec boundary
    (pair members alternate formats)."""
    pairs = multimodal.mm_image_ahash_neardup(spark, SF).collect()
    planted = [
        r for r in pairs
        if r["doc_b"] == r["doc_a"] + 1 and r["doc_a"] % 10 == 0
    ]
    assert len(planted) >= 10
    assert len(planted) >= len(pairs) - 3, pairs
    for r in pairs:
        assert 0 <= r["hamming"] <= 7


def test_power_iteration_finds_planted_dominant_axis(spark):
    """A cloud stretched along axis 3 (±2.0 there, ±0.05 noise
    elsewhere): two power iterations must put the top |loading| on
    pos 3 with near-unit weight, and the sigma estimate must be close
    to the planted spread times √n."""
    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM

    rows = []
    for i in range(40):
        v = [0.05 if (i + j) % 2 == 0 else -0.05 for j in range(8)]
        v[3] = 2.0 if i % 2 == 0 else -2.0
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = SIM.top_component_power(emb, iters=2, topk=3).collect()
    assert out[0]["pos"] == 3
    assert abs(abs(out[0]["loading"]) - 1.0) < 0.01
    # sigma ≈ sqrt(sum of squares along the axis) = 2.0 * sqrt(40)
    assert abs(out[0]["sigma_est"] - 2.0 * 40 ** 0.5) < 0.5


def test_knn_graph_beam_recall_floor(spark):
    """IVF-routed entry + 2-hop beam over the 2-probe kNN graph:
    ≥ 0.4 mean recall vs brute force on the isotropic (worst-case)
    corpus — comparable to IVF probing 4/16 cells while scoring a
    corpus-size-independent candidate set per query. (The 1-probe
    graph variant measured 0.06-0.1: cell-disconnected graphs strand
    the beam — the regression this floor guards.)"""
    bf, gb = {}, {}
    for r in ann.emb_knn_bruteforce(spark, SF).collect():
        bf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ann.emb_knn_graph_beam(spark, SF).collect():
        gb.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(bf[q] & gb.get(q, set())) / len(bf[q]) for q in bf]
    assert sum(recalls) / len(recalls) >= 0.4


def test_max_deleted_ratio_counts_distinct_live_dead(spark, tmp_path):
    """r9-ADVICE regression, both families: n_dead must count DISTINCT
    tombstoned ids THAT EXIST in the index. Raw tombstone-row sums let
    (a) deletes of never-indexed ids and (b) re-deletes of
    already-dead ids inflate n_dead past n_docs, where the
    ``0 < n_dead < n_docs`` guard silently disabled the policy
    forever; after the fix the same sequence still triggers compaction
    the moment the TRUE dead ratio crosses the knob."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
        delete_from_text_index,
        write_text_index,
    )

    rows = [(i, f"tok{i} shared") for i in range(10)]
    inc = str(tmp_path / "inc")
    write_text_index(_mk_docs(spark, rows), inc)

    def ids(seq):
        return spark.createDataFrame([(i,) for i in seq], "doc_id long")

    # 21 never-indexed ids: raw sum would be 21 >= n_docs=10; true dead = 0
    assert delete_from_text_index(ids(range(100, 121)), inc, max_deleted_ratio=0.3) == 21
    # re-delete id 0 twice: raw sum grows, distinct live dead stays 1
    for _ in range(2):
        assert delete_from_text_index(ids([0]), inc, max_deleted_ratio=0.3) == 1
    m = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)
    assert m["tombstones"]  # 1/10 true dead: policy correctly idle
    # 4/10 true dead > 0.3: the policy MUST still fire (old code: the
    # inflated n_dead=24 >= 10 guard had disabled it for good)
    assert delete_from_text_index(ids(range(1, 4)), inc, max_deleted_ratio=0.3) == 3
    m = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)
    assert m.get("tombstones", []) == [] and len(m["segments"]) == 1
    fresh = str(tmp_path / "fresh")
    write_text_index(_mk_docs(spark, rows[4:]), fresh)
    assert _text_index_content(spark, inc) == _text_index_content(spark, fresh)

    def mk(ids_):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids_
            ],
            "vec_id long, embedding array<float>, label int",
        )

    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(10)), ivf, n_centroids=2)
    vids = lambda seq: spark.createDataFrame([(i,) for i in seq], "vec_id long")  # noqa: E731
    assert SIM.delete_from_ivf_index(vids(range(100, 121)), ivf, max_deleted_ratio=0.3) == 21
    for _ in range(2):
        assert SIM.delete_from_ivf_index(vids([0]), ivf, max_deleted_ratio=0.3) == 1
    assert indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)["tombstones"]
    assert SIM.delete_from_ivf_index(vids(range(1, 4)), ivf, max_deleted_ratio=0.3) == 3
    m = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)
    assert m.get("tombstones", []) == [] and len(m["segments"]) == 1
    _, cells = SIM.read_ivf_index(spark, ivf)
    assert sorted(int(r["neighbor_id"]) for r in cells.collect()) == list(range(4, 10))


def _bm25_rows(postings, dfreq, stats):
    """BM25 over the fixed query terms, from pre-resolved index
    handles — the serving composition of docs_bm25_from_index."""
    res = textsearch.bm25_rank(
        postings.filter(F.col("token").isin(*textsearch.BM25_TERMS)).select(
            "doc_id", "token", "tf", "dl"
        ),
        dfreq.filter(F.col("token").isin(*textsearch.BM25_TERMS)),
        stats,
    )
    return sorted(tuple(r) for r in res.collect())


def test_retention_serves_preresolved_handles_through_compaction(spark, tmp_path):
    """r9 verdict task 5 — the end-to-end version of the manifest-layer
    retention pin: resolve index handles at version v, run
    delete→compact (which VACUUMS), then finish serving from the
    v-resolved handles — generation retention must keep the old
    segments alive, so the stale reader's results hash-match the
    pre-compaction truth. Both families."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators.text import (
        TEXT_INDEX_FORMAT,
        compact_text_index,
        delete_from_text_index,
        read_text_index,
        write_text_index,
    )

    rows = [(i, f"spark join tok{i}") for i in range(8)]
    inc = str(tmp_path / "inc")
    write_text_index(_mk_docs(spark, rows), inc)
    expected = _bm25_rows(*read_text_index(spark, inc))  # pre-mutation truth
    handles = read_text_index(spark, inc)  # v-resolved, NOT executed yet
    assert (
        delete_from_text_index(
            spark.createDataFrame([(0,), (1,)], "doc_id long"), inc
        )
        == 2
    )
    compact_text_index(spark, inc)  # flips the pointer AND vacuums
    m = indexfmt.read_manifest(inc, TEXT_INDEX_FORMAT)
    assert m.get("tombstones", []) == []  # the mutation really happened
    assert _bm25_rows(*handles) == expected  # stale reader unaffected
    # the CURRENT index genuinely moved (deletes applied): guard that
    # the equality above is not vacuous
    assert _bm25_rows(*read_text_index(spark, inc)) != expected

    def mk(ids_):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids_
            ],
            "vec_id long, embedding array<float>, label int",
        )

    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(20)), ivf, n_centroids=4)
    _, pre_cells = SIM.read_ivf_index(spark, ivf)
    expected_cells = sorted(
        (int(r["cell"]), int(r["neighbor_id"]), tuple(r["_v"]))
        for r in pre_cells.collect()
    )
    _, stale = SIM.read_ivf_index(spark, ivf)  # v-resolved handle
    assert (
        SIM.delete_from_ivf_index(
            spark.createDataFrame([(0,), (1,), (2,)], "vec_id long"), ivf
        )
        == 3
    )
    SIM.compact_ivf_index(spark, ivf)  # flips + vacuums
    got = sorted(
        (int(r["cell"]), int(r["neighbor_id"]), tuple(r["_v"]))
        for r in stale.collect()
    )
    assert got == expected_cells
    _, cur = SIM.read_ivf_index(spark, ivf)
    assert cur.count() == 17  # the current index genuinely moved


def test_time_travel_serving_parity_across_merge(spark, tmp_path):
    """r9 verdict task 6 — the POSITIVE time-travel pin (erroring on
    expired versions is already pinned): serving from ``version=v``
    AFTER a merge equals the query run BEFORE the merge — the Iceberg
    snapshot-read contract, for both families. The merge must change
    the current result (BM25 stats move; new vectors join cells), so
    the parity is non-vacuous."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        merge_text_index,
        read_text_index,
        write_text_index,
    )

    rows_a = [(i, f"spark join tok{i}") for i in range(6)]
    rows_b = [(i, f"spark stream tok{i}") for i in range(6, 12)]
    inc = str(tmp_path / "inc")
    write_text_index(_mk_docs(spark, rows_a), inc)  # version 1
    expected = _bm25_rows(*read_text_index(spark, inc))
    merge_text_index(_mk_docs(spark, rows_b), inc)  # version 2
    assert _bm25_rows(*read_text_index(spark, inc, version=1)) == expected
    assert _bm25_rows(*read_text_index(spark, inc)) != expected

    def mk(ids_):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids_
            ],
            "vec_id long, embedding array<float>, label int",
        )

    def serve(path, **kw):
        return sorted(
            tuple(r)
            for r in SIM.knn_ivf_from_index(
                spark, path, mk([200, 201]), k=3, n_probe=2, **kw
            ).collect()
        )

    evens, odds = list(range(100, 140, 2)), list(range(101, 140, 2))
    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(evens), ivf, n_centroids=4)  # version 1
    expected = serve(ivf)
    SIM.merge_ivf_index(mk(odds), ivf)  # version 2
    assert serve(ivf, version=1) == expected
    assert serve(ivf) != expected


def test_requantize_equals_fresh_build_over_live(spark, tmp_path):
    """requantize_ivf_index (quantizer-drift remediation, r10) must be
    BIT-IDENTICAL to a fresh build over the live vector set with the
    same n_centroids/seed — quantizer, cell contents, and serving —
    with tombstones applied physically and the stale generation still
    readable (retention). This identity is what licenses the
    emb_knn_ivf_requantized oracle being the plain full-corpus
    emb_knn_ivf chain."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt

    def mk(ids_):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids_
            ],
            "vec_id long, embedding array<float>, label int",
        )

    def content(path):
        cents, cells = SIM.read_ivf_index(spark, path)
        return cents, sorted(
            (int(r["cell"]), int(r["neighbor_id"]), tuple(r["_v"]))
            for r in cells.collect()
        )

    def serve(path):
        return sorted(
            tuple(r)
            for r in SIM.knn_ivf_from_index(
                spark, path, mk([300, 301]), k=3, n_probe=2
            ).collect()
        )

    evens, odds = list(range(100, 160, 2)), list(range(101, 160, 2))
    dead = [101, 103, 105, 110]
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    SIM.write_ivf_index(mk(evens), a, n_centroids=4)  # quantizer: evens only
    SIM.merge_ivf_index(mk(odds), a)  # drift: odds under the stale quantizer
    SIM.delete_from_ivf_index(
        spark.createDataFrame([(i,) for i in dead], "vec_id long"), a
    )
    assert SIM.requantize_ivf_index(spark, a, n_centroids=8) == 8
    m = indexfmt.read_manifest(a, SIM.IVF_INDEX_FORMAT)
    assert m.get("tombstones", []) == [] and len(m["segments"]) == 1
    live = [i for i in evens + odds if i not in dead]
    SIM.write_ivf_index(mk(live), b, n_centroids=8)
    assert content(a) == content(b)  # quantizer + cells bit-identical
    assert serve(a) == serve(b)  # serving identity
    # the stale pre-requantize generation still serves (retention) and
    # the quantizer genuinely moved (the remediation is non-vacuous)
    old_cents, old_cells = SIM.read_ivf_index(
        spark, a, version=int(m["version"]) - 1
    )
    assert old_cents != content(a)[0]
    assert old_cells.count() == len(evens) + len(odds) - len(dead)


def test_centroid_table_memo_is_generation_keyed(spark, tmp_path):
    """The persisted centroid-table memo (r13 optimization round) must
    key on the immutable centroid DIRECTORY name: a second read of the
    same generation is a cache hit (no re-collect), while a mutation
    (requantize → fresh centroid dir) is read fresh — never served the
    stale quantizer. r14 (ADVICE): the memo hands each caller a COPY —
    a caller mutating its returned centroids must not corrupt later
    serves of the same generation."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt

    emb = spark.createDataFrame(
        [
            (i, [float((i * 5 + d) % 7) for d in range(4)], 0)
            for i in range(40)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "idx")
    SIM.write_ivf_index(emb, path, n_centroids=4)
    m1 = indexfmt.read_manifest(path, SIM.IVF_INDEX_FORMAT)
    c1, _ = SIM.read_ivf_index(spark, path)
    assert (path, m1["centroids"]) in SIM._CENTROID_TABLE_CACHE
    # same generation → cache hit with the same VALUE, but a fresh
    # copy per caller: corrupting c1b must not leak into a later read
    c1b, _ = SIM.read_ivf_index(spark, path)
    assert c1b == c1 and c1b is not c1
    c1b[0][0] = 999.0
    c1c, _ = SIM.read_ivf_index(spark, path)
    assert c1c == c1  # unpoisoned by the caller's mutation
    # mutation lands a NEW centroid dir → fresh read, new quantizer
    SIM.requantize_ivf_index(spark, path, n_centroids=8)
    m2 = indexfmt.read_manifest(path, SIM.IVF_INDEX_FORMAT)
    assert m2["centroids"] != m1["centroids"]
    c2, _ = SIM.read_ivf_index(spark, path)
    assert len(c2) == 8 and c2 != c1


def test_requantize_refuses_fully_tombstoned_index(spark, tmp_path):
    """Re-quantization over an all-tombstoned index must refuse loudly
    (the empty-corpus contract shared with write/compact) and leave
    the index untouched — still serving the tombstone-masked view."""
    import pytest as _pytest

    from ecommerce_realtime_pipeline_spark.operators import indexfmt

    def mk(ids_):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids_
            ],
            "vec_id long, embedding array<float>, label int",
        )

    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(6)), ivf, n_centroids=2)
    SIM.delete_from_ivf_index(
        spark.createDataFrame([(i,) for i in range(6)], "vec_id long"), ivf
    )
    v_before = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)["version"]
    with _pytest.raises(ValueError, match="every vector is tombstoned"):
        SIM.requantize_ivf_index(spark, ivf)
    m = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)
    assert m["version"] == v_before  # no partial commit
    _, cells = SIM.read_ivf_index(spark, ivf)
    assert cells.isEmpty()


def test_maybe_requantize_fires_on_drift_and_noops_on_fresh(spark, tmp_path):
    """The drift POLICY loop (r11): maybe_requantize_ivf_index
    connects the emb_ivf_index_health alarm (max/mean cell occupancy)
    to requantize_ivf_index, shaped like the max_deleted_ratio
    policies — fires on the drifted fixture (even-trained quantizer +
    odd merge), no-ops on a fresh build, and serving afterwards is
    identical to a fresh build over the same vectors."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt

    def mk(ids_):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids_
            ],
            "vec_id long, embedding array<float>, label int",
        )

    evens, odds = list(range(100, 160, 2)), list(range(101, 160, 2))
    drifted = str(tmp_path / "drifted")
    SIM.write_ivf_index(mk(evens), drifted, n_centroids=4)
    SIM.merge_ivf_index(mk(odds), drifted)  # drift under frozen cells
    v_before = indexfmt.read_manifest(drifted, SIM.IVF_INDEX_FORMAT)[
        "version"
    ]
    # threshold 1.0 = "any imbalance at all": guarantees the breach on
    # the drifted index without hardcoding its skew
    assert SIM.maybe_requantize_ivf_index(spark, drifted, 1.0) is True
    m = indexfmt.read_manifest(drifted, SIM.IVF_INDEX_FORMAT)
    assert int(m["version"]) == v_before + 1 and len(m["segments"]) == 1
    # n_centroids=None retrained at the index's own capacity, and the
    # result is the fresh-build identity requantize guarantees
    fresh = str(tmp_path / "fresh")
    SIM.write_ivf_index(mk(evens + odds), fresh, n_centroids=4)
    key = lambda r: (int(r["cell"]), int(r["neighbor_id"]))  # noqa: E731
    _, got = SIM.read_ivf_index(spark, drifted)
    _, want = SIM.read_ivf_index(spark, fresh)
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    # a freshly-trained index under a sane threshold: policy stays quiet
    assert SIM.maybe_requantize_ivf_index(spark, fresh, 4.0) is False
    assert (
        indexfmt.read_manifest(fresh, SIM.IVF_INDEX_FORMAT)["version"] == 1
    )


def test_maybe_requantize_noops_on_fully_tombstoned_index(spark, tmp_path):
    """r11 ADVICE: a fully-tombstoned index makes the occupancy
    aggregate a NULL row — the policy must no-op (False) instead of
    dying on float(None); requantize_ivf_index keeps its own loud
    refusal for direct calls."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt

    def mk(ids_):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids_
            ],
            "vec_id long, embedding array<float>, label int",
        )

    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(6)), ivf, n_centroids=2)
    SIM.delete_from_ivf_index(
        spark.createDataFrame([(i,) for i in range(6)], "vec_id long"), ivf
    )
    v = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)["version"]
    assert SIM.maybe_requantize_ivf_index(spark, ivf, 1.0) is False
    assert indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)["version"] == v


def test_merge_occupancy_policy_inline_retrain(spark, tmp_path):
    """merge_ivf_index(max_occupancy_ratio=) — the r12 drift-policy
    knob, sibling of merge_positional_index(max_segments=): a skewed
    landing whose occupancy breaches the threshold triggers exactly
    one INLINE retrain (merge flip + requantize flip, segments folded
    to one), the post-policy index is content-identical to a fresh
    build over the union, and a landing under the threshold merges
    without retraining."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt

    def mk(ids_):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids_
            ],
            "vec_id long, embedding array<float>, label int",
        )

    evens, odds = list(range(200, 260, 2)), list(range(201, 260, 2))
    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(evens), ivf, n_centroids=4)
    # skewed landing under threshold 1.0 ("any imbalance"): the merge
    # commits, then the policy retrains inline — two flips, one segment
    SIM.merge_ivf_index(mk(odds), ivf, max_occupancy_ratio=1.0)
    m = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)
    assert int(m["version"]) == 3 and len(m["segments"]) == 1
    fresh = str(tmp_path / "fresh")
    SIM.write_ivf_index(mk(evens + odds), fresh, n_centroids=4)
    key = lambda r: (int(r["cell"]), int(r["neighbor_id"]))  # noqa: E731
    _, got = SIM.read_ivf_index(spark, ivf)
    _, want = SIM.read_ivf_index(spark, fresh)
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    # under a generous threshold the next landing is a plain merge:
    # one flip, segment appended, quantizer untouched
    SIM.merge_ivf_index(mk(range(300, 306)), ivf, max_occupancy_ratio=50.0)
    m2 = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)
    assert int(m2["version"]) == 4 and len(m2["segments"]) == 2
    assert m2["centroids"] == m["centroids"]


def test_merge_both_knobs_retrain_skips_compaction(
    spark, tmp_path, monkeypatch
):
    """When BOTH merge knobs would fire in one call (r12 ADVICE: the
    old order ran compact_ivf_index's O(index) fold and then
    maybe_requantize's O(index) retrain, which subsumes it), the
    occupancy policy is checked FIRST and the inline compaction is
    skipped when the retrain runs — one fold, same end state (one
    segment, fresh quantizer). When the occupancy policy does NOT
    fire, the segment policy still compacts as before."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt

    def mk(ids_):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids_
            ],
            "vec_id long, embedding array<float>, label int",
        )

    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(0, 40, 2)), ivf, n_centroids=4)
    compacts = []
    real_compact = SIM.compact_ivf_index
    monkeypatch.setattr(
        SIM,
        "compact_ivf_index",
        lambda s, p: (compacts.append(p), real_compact(s, p))[1],
    )
    # threshold 1.0 = any imbalance → retrain fires; max_segments=1
    # would also fire — the retrain must preempt the compaction
    SIM.merge_ivf_index(
        mk(range(1, 40, 2)), ivf, max_segments=1, max_occupancy_ratio=1.0
    )
    assert compacts == []  # no double fold
    m = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)
    assert len(m["segments"]) == 1  # requantize folded it anyway
    # generous occupancy threshold → retrain no-ops → segment policy
    # still owns compaction
    SIM.merge_ivf_index(
        mk(range(100, 106)), ivf, max_segments=1, max_occupancy_ratio=1e9
    )
    assert compacts == [ivf]
    m2 = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)
    assert len(m2["segments"]) == 1


def test_wide_cell_probe_takes_listing_branch(spark, tmp_path, monkeypatch):
    """A probe list wider than indexfmt.SEEK_LIST_THRESHOLD must route
    through the BATCHED one-listing-per-segment branch (r13 — proven
    by making the per-directory dir_exists explode; with the manifest
    vtype the seek needs zero footer reads either) and stay
    row-identical to the discovery read filtered to those cells."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt

    def mk(ids_):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)])
                for i in ids_
            ],
            "vec_id long, embedding array<float>",
        )

    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(64)), ivf, n_centroids=16)
    cells = list(range(16))  # 16 > SEEK_LIST_THRESHOLD
    monkeypatch.setattr(
        indexfmt,
        "dir_exists",
        lambda *_: (_ for _ in ()).throw(AssertionError("HEAD probe used")),
    )
    _, posts = SIM.seek_ivf_cells(spark, ivf, cells)
    got = sorted(
        (int(r["cell"]), int(r["neighbor_id"])) for r in posts.collect()
    )
    monkeypatch.undo()
    _, disc = SIM.read_ivf_index(spark, ivf)
    want = sorted(
        (int(r["cell"]), int(r["neighbor_id"]))
        for r in disc.filter(F.col("cell").isin(cells)).collect()
    )
    assert got == want and len(got) == 64


def test_ivf_vtype_pinned_across_heterogeneous_merge(spark, tmp_path):
    """The manifest records the index's `_v` element type at write
    time and every mutation preserves it: a float-built index merged
    with an array<double> batch must stay float on disk — the merge
    CASTS the batch — so the manifest-driven single-schema cell seek
    reads every segment."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt

    def mk(ids_, elem):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)])
                for i in ids_
            ],
            f"vec_id long, embedding array<{elem}>",
        )

    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(0, 20), "float"), ivf, n_centroids=2)
    m = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)
    assert m["vtype"] == "float"
    # heterogeneous batch: array<double> into a float index
    SIM.merge_ivf_index(mk(range(20, 30), "double"), ivf)
    m1 = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)
    assert m1["vtype"] == "float" and len(m1["segments"]) == 2
    _, posts = SIM.seek_ivf_cells(spark, ivf, [0, 1])
    assert posts.schema["_v"].dataType.elementType.simpleString() == "float"
    assert posts.count() == 30  # both segments served through one schema


def _required_key_case(spark, root, fmt):
    """(index path, stripped key, lifecycle calls that need the key)
    for one index family, built small in-process."""
    path = str(root / fmt)
    if fmt == SIM.IVF_INDEX_FORMAT:
        def emb(ids_):
            return spark.createDataFrame(
                [(i, [float(i % 5) - 2.0, 1.0, float(i % 3)]) for i in ids_],
                "vec_id long, embedding array<float>",
            )

        SIM.write_ivf_index(emb(range(8)), path, n_centroids=2)
        return path, "vtype", [
            lambda: SIM.seek_ivf_cells(spark, path, [0, 1]),
            lambda: SIM.merge_ivf_index(emb(range(8, 12)), path),
            lambda: SIM.compact_ivf_index(spark, path),
        ]
    write, merge, delete, compact = {
        TX.TEXT_INDEX_FORMAT: (
            TX.write_text_index, TX.merge_text_index,
            TX.delete_from_text_index, TX.compact_text_index,
        ),
        TX.POS_INDEX_FORMAT: (
            TX.write_positional_index, TX.merge_positional_index,
            TX.delete_from_positional_index, TX.compact_positional_index,
        ),
    }[fmt]
    write(_mk_docs(spark, [(i, f"tok{i} alpha") for i in range(4)]), path)
    return path, "docs", [
        lambda: merge(_mk_docs(spark, [(9, "tok9 beta")]), path),
        lambda: delete(
            spark.createDataFrame([(1,)], "doc_id long"), path,
            max_deleted_ratio=0.1,
        ),
        lambda: compact(spark, path),
    ]


@pytest.mark.parametrize("fmt", ["text-index", "pos-index", "ivf-index"])
def test_manifest_missing_required_key_is_refused(spark, tmp_path, fmt):
    """A manifest without the key every current writer of its format
    records (``docs`` for text and positional, ``vtype`` for IVF) has
    no fallback reader: every lifecycle call that needs the key raises
    a ValueError naming the format and the key, before it writes
    anything — never a KeyError, never silent schema inference."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt

    path, key, calls = _required_key_case(spark, tmp_path, fmt)
    m = indexfmt.read_manifest(path, fmt)
    stripped = {k: v for k, v in m.items() if k != key}
    stripped["version"] = int(m["version"]) + 1
    indexfmt.write_manifest(path, stripped)
    children = sorted(os.listdir(path))
    for call in calls:
        with pytest.raises(ValueError, match=f"{fmt} manifest .*no '{key}' key"):
            call()
        assert indexfmt.read_manifest(path, fmt) == stripped
    assert sorted(os.listdir(path)) == children


def test_seek_ivf_cells_equals_pruned_read(spark, tmp_path):
    """seek_ivf_cells (r11 — the cell-directory seek that skips
    partition discovery, twin of the text/positional term seeks) must
    be row-for-row identical to read_ivf_index postings filtered to
    the probed cells, on a multi-segment index with live tombstones,
    including a cell absent from one segment and an empty probe set."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt

    def mk(ids_):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids_
            ],
            "vec_id long, embedding array<float>, label int",
        )

    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(100, 140)), ivf, n_centroids=4)
    SIM.merge_ivf_index(mk(range(140, 146)), ivf)  # tiny second segment
    SIM.delete_from_ivf_index(
        spark.createDataFrame([(102,), (141,)], "vec_id long"), ivf
    )
    cents_r, cells = SIM.read_ivf_index(spark, ivf)
    key = lambda r: (int(r["cell"]), int(r["neighbor_id"]), tuple(r["_v"]))  # noqa: E731
    # [2, 0, 2]: duplicate probe ids must not duplicate that cell's
    # rows (r11 ADVICE — dict.fromkeys dedup, twin of the term seeks)
    for probe in ([0, 2], [1], [0, 1, 2, 3], [], [2, 0, 2]):
        cents_s, got = SIM.seek_ivf_cells(spark, ivf, probe)
        assert cents_s == cents_r
        want = cells.filter(F.col("cell").isin(probe)) if probe else cells.filter(F.lit(False))
        assert sorted(map(key, got.collect())) == sorted(
            map(key, want.collect())
        ), probe
    # retained-generation seek sees the pre-delete vectors
    m = indexfmt.read_manifest(ivf, SIM.IVF_INDEX_FORMAT)
    _, pre = SIM.seek_ivf_cells(
        spark, ivf, [0, 1, 2, 3], version=int(m["version"]) - 1
    )
    assert {int(r["neighbor_id"]) for r in pre.collect()} >= {102, 141}

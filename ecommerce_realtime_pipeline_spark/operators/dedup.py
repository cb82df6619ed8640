"""Deduplication operators for the LLM-data-pipeline surface
(SURVEY §2.9): exact (hash groupBy), n-gram-Jaccard near-dup (inverted
index), MinHash + LSH banding, and SimHash.

Scale stance (100 TB):
- Exact dedup: fingerprint groupBy — one shuffle on the md5 key.
- Jaccard: NEVER all-pairs. Pairs are generated only through shared
  shingles (inverted-index self-join) — the standard set-similarity
  join. At web scale you additionally drop ultra-frequent shingles
  (doc-frequency cutoff) to bound bucket fan-out; exposed as
  ``max_shingle_df`` so the cutoff is explicit, not silent.
- MinHash: k hash functions as k aggregate columns over ONE exploded
  shingle pass (one shuffle); LSH bands hashed and exploded so
  candidate generation is an equi-join on (band, band_hash) — never a
  cross join. Candidates are verified with exact Jaccard before
  emission (no false positives; recall governed by the b×r S-curve).
- SimHash: bitwise sign aggregation per doc (one shuffle), banded
  equi-join + popcount(xor) verify for near-dup pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.session import materialize

from ecommerce_realtime_pipeline_spark.operators import text as TX

#: width of the SimHash signature (the first 8 hex chars of an md5)
SIMHASH_BITS = 32


def exact_dedup(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Exact dedup on the normalized-text fingerprint: keeps the
    smallest doc_id per fingerprint (deterministic). Returns
    (kept, dropped)."""
    fp = docs.withColumn("_fp", TX.fingerprint("text"))
    keeper = fp.groupBy("_fp").agg(F.min("doc_id").alias("_keep_id"))
    tagged = fp.join(keeper, "_fp")
    kept = tagged.filter(F.col("doc_id") == F.col("_keep_id")).drop("_fp", "_keep_id")
    dropped = tagged.filter(F.col("doc_id") != F.col("_keep_id")).drop("_keep_id")
    return kept, dropped


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via inverted-index join.

    ``max_shingle_df`` drops shingles appearing in more than that many
    docs from candidate generation (classic frequency cutoff). When
    set, the filtered index generates CANDIDATES only; surviving pairs
    are then verified with exact Jaccard over the FULL shingle sets, so
    the cutoff can only lose candidates (recall), never corrupt scores.
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    idx = TX.shingle_index(docs, n)
    if max_shingle_df is not None:
        freq = idx.groupBy("shingle").agg(F.count("*").alias("_df"))
        gen = idx.join(
            F.broadcast(freq.filter(F.col("_df") <= max_shingle_df).select("shingle")),
            "shingle",
        )
        cand = (
            gen.select(F.col("doc_id").alias("doc_a"), "shingle")
            .join(gen.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        return verify_jaccard(cand, docs, threshold, n)
    a = idx.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    b = idx.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("_inter"),
            F.first("n_a").alias("_n_a"),
            F.first("n_b").alias("_n_b"),
        )
    )
    jac = F.col("_inter") / (F.col("_n_a") + F.col("_n_b") - F.col("_inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def verify_jaccard(
    cand: DataFrame, docs: DataFrame, threshold: float, n: int = 3
) -> DataFrame:
    """Exact-Jaccard verification of a (doc_a, doc_b) candidate set over
    the FULL shingle sets — the shared tail of every approximate
    candidate generator (LSH banding, frequency-cutoff inverted index).
    Output: (doc_a, doc_b, jaccard) with jaccard ≥ threshold."""
    sets = TX.with_shingles(docs.select("doc_id", "text"), n)
    return (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sa")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_sb")),
            "doc_b",
        )
        .withColumn("_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            # two sub-n-token docs have EMPTY shingle sets: 0/0 throws
            # under ANSI, and Jaccard of two empty sets is 0 by
            # convention (unreachable from the shipped candidate
            # generators — no shingles means no band keys — but this
            # is a general-purpose verification tail)
            F.when(
                F.size("_sa") + F.size("_sb") - F.col("_inter") > 0,
                F.round(
                    F.col("_inter")
                    / (F.size("_sa") + F.size("_sb") - F.col("_inter")),
                    4,
                ),
            ).otherwise(F.lit(0.0)),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(docs: DataFrame, num_hashes: int) -> DataFrame:
    """MinHash signature per doc: for each of ``num_hashes`` seeded
    xxhash64 functions, the min over the doc's distinct 3-gram shingles.
    One explode + one groupBy (single shuffle), k aggregates wide."""
    idx = TX.shingle_index(docs, 3)
    aggs = [
        F.min(F.xxhash64("shingle", F.lit(seed))).alias(f"h{seed}")
        for seed in range(num_hashes)
    ]
    return idx.groupBy("doc_id").agg(*aggs)


def banded_signatures(
    docs: DataFrame, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """(doc_id, band, bucket) LSH band keys for each doc: the k-hash
    MinHash signature split into ``bands`` buckets of ``num_hashes //
    bands`` rows, each hashed to one join key. Shared by the batch
    near-dup join (:func:`minhash_lsh_pairs`) and the streaming
    dedup-against-history index (``streaming/neardup.py``)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes)
    band_cols = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(
                    *[F.col(f"h{bi * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for bi in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(band_cols).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """MinHash-LSH near-dup pairs: band the 64-hash signature into
    16 buckets, equi-join docs sharing any (band, bucket-hash),
    then verify candidates with EXACT Jaccard ≥ threshold.

    b=16 × r=4 puts the S-curve knee near J≈0.5; with the corpus's
    clean separation (true dups ≳0.9) recall is effectively 1.
    Output: (doc_a, doc_b, jaccard) — same contract as jaccard_pairs.
    """
    banded = banded_signatures(docs)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # exact-Jaccard verification of the (small) candidate set
    return verify_jaccard(cand, docs, threshold)


def neardup_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    with cluster_id = the smallest doc_id in the component. This is the
    canonical final step of web-scale dedup: pairs → clusters → keep
    one canonical doc per cluster.

    Iterative min-label propagation: each round every node adopts the
    minimum label among itself and its neighbors; converges in
    O(diameter) rounds, and near-dup graphs are short chains/cliques
    (diameter ≤ a few), so 3-4 rounds in practice with 20 rounds as
    the safety bound. Each round is one equi-join + groupBy (no
    all-pairs anywhere); ``localCheckpoint`` per round breaks the
    otherwise exponentially-growing lineage.

    Convergence probing is amortized, not per-round: the round job
    already materializes a ``_chg`` flag alongside each new label (one
    comparison inside the same projection — free), so the probe is a
    filter over the just-checkpointed narrow frame, never an extra
    join; and because diameter ≥ 2 whenever any chain exists, the
    first 2 rounds skip the probe entirely and later
    rounds probe every other round. Worst case this runs one round
    past convergence — a cheap no-op round — in exchange for removing
    a driver action from every round. At 100 TB-scale graphs with long
    chains, swap in the large-star/small-star variant (Kiveris et al.,
    "Connected Components in MapReduce") — identical join shape,
    provably fewer rounds.
    """
    # materialize the pair list ONCE: the edge union references it
    # twice, and the upstream pair-finding join is the expensive part
    pairs = pairs.select("doc_a", "doc_b").transform(materialize)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    edges = edges.transform(materialize)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(materialize)
    )
    for rnd in range(20):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("_nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_nl").alias("_minn"))
        )
        new_label = F.least(
            F.col("label"), F.coalesce(F.col("_minn"), F.col("label"))
        )
        new_labels = (
            labels.join(
                neighbor_min, labels["node"] == neighbor_min["src"], "left"
            )
            .select(
                "node",
                new_label.alias("label"),
                (new_label < F.col("label")).alias("_chg"),
            )
            .transform(materialize)
        )
        labels = new_labels
        if rnd >= 2 and rnd % 2 == 0:
            if new_labels.filter(F.col("_chg")).limit(1).count() == 0:
                break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def neardup_clusters_lss(pairs: DataFrame) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    the public MapReduce CC algorithm) → (doc_id, cluster_id) with
    cluster_id = the component's smallest doc_id. Same contract as
    :func:`neardup_clusters`; this is the deep-chain scale path — it
    converges in O(log²) rounds on ANY graph shape, where min-label
    propagation needs O(diameter) rounds (a 1M-long chain at 100 TB
    would take 1M propagation rounds but ~40 star rounds).

    Edges stay canonically child>parent (both star steps emit (v, m)
    with m strictly smaller), each round is two groupBy+join passes —
    the identical shuffle shape as one propagation round, never
    all-pairs. Convergence is a 1-row signature aggregate (count +
    hash-sum) over the round's already-checkpointed edge set — a cheap
    bounded driver action per round, amortized over O(log²) rounds.

    Star steps (u's neighborhood Γ(u), m = min(Γ(u) ∪ {u})):
    - large-star: emit (v, m) for every STRICTLY LARGER neighbor v —
      big nodes re-hang onto the local minimum.
    - small-star: with N = {v ∈ Γ(u): v < u} and m = min(N), emit
      (v, m) for v ∈ N ∪ {u}, v ≠ m — u and its smaller neighbors
      collapse onto their minimum.
    The fixed point is a star per component rooted at its minimum.
    """
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("c"),
            F.least("doc_a", "doc_b").alias("p"),
        )
        .distinct()
        .transform(materialize)
    )
    prev_sig: tuple | None = None
    for _ in range(20):  # the safety bound
        sym = edges.select(
            F.col("c").alias("node"), F.col("p").alias("nbr")
        ).unionByName(edges.select(F.col("p").alias("node"), F.col("c").alias("nbr")))
        # large-star
        mins = sym.groupBy("node").agg(F.min("nbr").alias("_mn"))
        m = F.least(F.col("node"), F.col("_mn"))
        ls = (
            sym.join(mins, "node")
            .filter(F.col("nbr") > F.col("node"))
            .select(F.col("nbr").alias("c"), m.alias("p"))
            .filter(F.col("c") != F.col("p"))
            .distinct()
        )
        # small-star
        sym2 = ls.select(
            F.col("c").alias("node"), F.col("p").alias("nbr")
        ).unionByName(ls.select(F.col("p").alias("node"), F.col("c").alias("nbr")))
        smaller = sym2.filter(F.col("nbr") < F.col("node"))
        mins2 = smaller.groupBy("node").agg(F.min("nbr").alias("_m"))
        edges = (
            smaller.join(mins2, "node")
            .filter(F.col("nbr") != F.col("_m"))
            .select(F.col("nbr").alias("c"), F.col("_m").alias("p"))
            .unionByName(mins2.select(F.col("node").alias("c"), F.col("_m").alias("p")))
            .distinct()
            .transform(materialize)
        )
        row = edges.agg(
            F.count("*").alias("n"),
            # modular hash-sum: stays far from long overflow (ANSI mode
            # would hard-error a wrapped sum)
            F.sum(F.pmod(F.xxhash64("c", "p"), F.lit(1_000_000_007))).alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    final_sym = edges.select(
        F.col("c").alias("node"), F.col("p").alias("nbr")
    ).unionByName(edges.select(F.col("p").alias("node"), F.col("c").alias("nbr")))
    return final_sym.groupBy("node").agg(
        F.least(F.col("node"), F.min("nbr")).alias("cluster_id")
    ).select(F.col("node").alias("doc_id"), "cluster_id")


def simhash(docs: DataFrame) -> DataFrame:
    """``SIMHASH_BITS``-bit SimHash per doc over distinct 3-gram
    SHINGLES (tokens are too shared across a narrow-vocab corpus to
    discriminate): each bit is the sign of the Σ(±1) votes from
    shingle-hash bits. One explode + one groupBy with one
    conditional-sum aggregate per bit.

    The shingle hash is the first 8 hex chars of md5 via ``conv`` —
    md5 is the one hash Spark and DuckDB share bit-for-bit, which is
    what makes docs_neardup_simhash exactly replicable in SQL."""
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    tok = (
        TX.with_shingles(docs.select("doc_id", "text"), 3)
        .select("doc_id", F.explode("_sh").alias("tok"))
        .withColumn("_h", h)
    )
    votes = [
        F.sum(
            F.when(F.shiftright("_h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*votes)
    sh = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        sh = bit if sh is None else sh + bit
    return per_doc.select("doc_id", sh.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: band the 32-bit hash (:func:`simhash`)
    into 4 chunks (pigeonhole: hamming ≤ 3 ⇒ at least one identical
    chunk), equi-join on (chunk_idx, chunk), verify with
    popcount(xor) ≤ max_hamming.
    Output: (doc_a, doc_b, hamming)."""
    chunk_bits = SIMHASH_BITS // 4
    mask = (1 << chunk_bits) - 1
    sh = simhash(docs)
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("idx"),
                F.shiftright("simhash", i * chunk_bits).bitwiseAND(F.lit(mask)).alias("chunk"),
            )
            for i in range(4)
        ]
    )
    banded = sh.select("doc_id", "simhash", F.explode(chunks).alias("c")).select(
        "doc_id", "simhash", F.col("c.idx").alias("idx"), F.col("c.chunk").alias("chunk")
    )
    pairs = (
        banded.alias("x")
        .join(banded.alias("y"), ["idx", "chunk"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def duplicate_span_stats(docs: DataFrame, n: int = 8) -> DataFrame:
    """Within-corpus duplicate-span signal — ExactSubstr-lite (the
    n-gram-granular form of Lee et al.'s "Deduplicating Training Data
    Makes Language Models Better" substring dedup): per doc, the
    fraction of its distinct ``n``-grams that also appear in ANY other
    document. High dup_frac = boilerplate/mirrored text that survives
    doc-level dedup; the standard cut is dropping or trimming docs
    above a threshold.

    Scale: one exploded-shingle pass feeds both the df count and the
    per-doc rollup; the "shared" side is the DISTINCT duplicated-gram
    set (a small fraction of the index at web scale), equi-joined back
    — never doc×doc, no substring automaton needed at n-gram
    granularity. Docs shorter than ``n`` tokens have no n-grams and no
    row (nothing to measure).

    Output: (doc_id, n_grams, n_shared, dup_frac).
    """
    idx = TX.shingle_index(docs, n)
    freq = idx.groupBy("shingle").agg(F.count("*").alias("_df"))
    marked = idx.join(
        freq.filter(F.col("_df") >= 2).select("shingle").withColumn("_hit", F.lit(1)),
        "shingle",
        "left",
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.first("n_sh").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_grams"), 4).alias("dup_frac"),
        )
    )


def decontaminate(docs: DataFrame, n: int = 8) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word
    ``n``-gram with the eval split (the standard long-n-gram overlap
    check — GPT-3 §C / PaLM-style — long n-grams make incidental
    collisions negligible, so a hit means copied text).

    The split is the engine's leakage-safe :func:`text.hash_split` of
    the id. Returns ``(doc_id, n_shared)`` for contaminated train docs.

    Scale: candidate generation is an equi-join on the n-gram between
    the train-side inverted index and the DISTINCT eval-side n-gram
    set. The eval set is a few percent of the corpus (and its distinct
    long n-grams dedupe further), so at 100 TB the eval side is the
    natural broadcast/bloom side; here Spark/AQE picks the strategy.
    One shuffle each side + one join — never doc×doc.
    """
    tagged = docs.withColumn("_split", TX.hash_split("doc_id"))
    idx = TX.shingle_index(tagged.filter(F.col("_split") == "train"), n)
    eval_grams = (
        TX.with_shingles(
            tagged.filter(F.col("_split") == "test").select("doc_id", "text"), n
        )
        .select(F.explode("_sh").alias("shingle"))
        .distinct()
    )
    return (
        idx.join(eval_grams, "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared"))
    )


def edit_distance_pairs(
    docs: DataFrame,
    max_dist: int = 3,
    key_len: int = 40,
) -> DataFrame:
    """Typo-level fuzzy duplicate pairs by Levenshtein distance over a
    fixed-width prefix key — the string-similarity join that catches
    character-level near-dups (OCR noise, keystroke typos, trailing
    edits) that token-set measures (Jaccard/MinHash) dilute and
    SimHash's token hashing misses entirely.

    Key: the first ``key_len`` chars, space-padded to fixed width, so
    (a) the distance is over a bounded prefix (O(key_len²) per verify,
    independent of doc length) and (b) the blocking segments below are
    well-defined for short docs.

    Candidate generation is PIGEONHOLE SEGMENT BLOCKING: the key is cut
    into ``max_dist + 1`` equal segments; two keys within distance
    ``max_dist`` under aligned (substitution-only) edits must agree on
    at least one whole segment, so candidates are an EQUI-JOIN on
    (segment_idx, segment_text) — never all-pairs. For unaligned edits
    (indels) a shift can break every downstream segment — the same
    candidate-gen-only contract as ``jaccard_pairs``'s df-cutoff: the
    blocker can only lose pairs, never distort a distance, and the
    oracle replicates block → verify exactly. The production swap for
    full indel coverage is PassJoin-style positional q-gram blocking
    (segments matched against a ±max_dist position window), which keeps
    the same equi-join shape at ~(2·max_dist+1)× the candidate volume.

    Verify: exact ``levenshtein`` (JVM codegen, no UDF) on the padded
    keys; emitted pairs carry the true distance.

    Scale: one narrow projection + one inverted-index equi-join whose
    bucket sizes are capped by natural key diversity (hot segments —
    boilerplate openings — are the ``max_shingle_df`` analogue; add a
    segment-frequency cutoff before the join if a corpus has them).
    Output: (doc_a, doc_b, dist), doc_a < doc_b.
    """
    n_seg = max_dist + 1
    seg_len = key_len // n_seg
    if seg_len * n_seg != key_len:
        raise ValueError("key_len must be a multiple of max_dist + 1")
    key = F.rpad(F.substring(F.col("text"), 1, key_len), key_len, " ")
    keys = docs.select(F.col("doc_id").alias("_id"), key.alias("_key"))
    seg_idx = F.explode(F.array(*[F.lit(i) for i in range(n_seg)])).alias(
        "seg_idx"
    )
    segs = keys.select("_id", "_key", seg_idx).select(
        "_id",
        "_key",
        "seg_idx",
        F.substring(
            F.col("_key"), F.col("seg_idx") * seg_len + 1, seg_len
        ).alias("seg"),
    )
    a = segs.select(
        F.col("_id").alias("doc_a"), F.col("_key").alias("_ka"), "seg_idx", "seg"
    )
    b = segs.select(
        F.col("_id").alias("doc_b"), F.col("_key").alias("_kb"), "seg_idx", "seg"
    )
    cand = (
        a.join(b, ["seg_idx", "seg"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "_ka", "_kb")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    dist = F.levenshtein(F.col("_ka"), F.col("_kb"))
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= max_dist)
        .select("doc_a", "doc_b", "dist")
    )

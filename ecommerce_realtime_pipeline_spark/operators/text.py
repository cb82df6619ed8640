"""Text-analysis operators for the LLM-data-pipeline surface
(SURVEY §2.9; driver mandate): tokenization, shingling, language-ID,
quality scoring, fingerprinting.

All hot-path expressions are built-in column functions (JVM-side,
whole-stage codegen) — no Python UDFs. Randomness-free and engine-
portable: fingerprints/minhashes that need an oracle use md5 (present
in both Spark and DuckDB); throwaway bucketing uses xxhash64 (faster,
Spark-only).

Scale stance (100 TB): everything here is a narrow projection except
the explode-based shingle index, which is the standard inverted-index
layout for near-dup joins; its fan-out is bounded by tokens-per-doc.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark import storage
from ecommerce_realtime_pipeline_spark.session import materialize as _materialize
from ecommerce_realtime_pipeline_spark.session import memo, overlapped

from . import indexfmt


def _lazy_materialize(df):
    return _materialize(df, eager=False)

# Tiny per-language marker lexicons for the heuristic language-ID.
# (The classic stopword-profile approach compressed to a lexicon per
# language; deterministic and SQL-expressible on both engines.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "ist", "ein"),
    "fr": ("le", "la", "et", "est", "un"),
    "es": ("el", "la", "y", "es", "un"),
    "zh": ("de5", "shi4", "he2", "zai4", "le5"),  # romanized markers
}


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokenization (the corpus is single-space joined)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def norm_text(col: str | Column = "text") -> Column:
    """Normalization for exact-dedup fingerprints: lowercase, collapse
    whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, "\\s+", " ")))


def fingerprint(col: str | Column = "text") -> Column:
    """Document fingerprint: md5 of the normalized text (engine-portable,
    collision-negligible at corpus scale)."""
    return F.md5(norm_text(col))


def shingles(tok_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array (order-free set
    for Jaccard). Empty when the doc has fewer than ``n`` tokens.

    Reference semantics for :func:`with_shingles` (asserted equal in
    tests). PERF: ``tok_col`` MUST be a materialized (bound) column —
    an inline expression like ``tokens("text")`` is duplicated into
    every lambda element by Catalyst, re-tokenizing the doc once per
    shingle = O(tokens²)/doc (measured 377s for the 5k-doc sf0.1
    corpus). Even bound, Spark's higher-order functions evaluate
    interpreted (~1.4ms/doc measured); the hot path is
    :func:`with_shingles`."""
    sliced = F.transform(
        F.sequence(F.lit(1), F.size(tok_col) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tok_col, i, n)),
    )
    return F.when(F.size(tok_col) >= n, F.array_distinct(sliced)).otherwise(
        F.array().cast("array<string>")
    )


def _shingle_udf(n: int):
    """Arrow-batched shingle extractor. Measured on the sf0.1 corpus:
    ~20× faster than the bound higher-order-function form (Spark HOFs
    run interpreted per element; this is one vectorized Python pass per
    Arrow batch). A pure map — no shuffle, scales linearly with input
    partitions at 100 TB."""

    @F.pandas_udf("array<string>")
    def sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            tok = t.split(" ")
            if len(tok) < n:
                out.append([])
            else:
                # dict.fromkeys == first-occurrence order, matching
                # F.array_distinct in the reference expression
                out.append(
                    list(
                        dict.fromkeys(
                            " ".join(tok[i : i + n]) for i in range(len(tok) - n + 1)
                        )
                    )
                )
        return pd.Series(out)

    return sh


def with_shingles(docs: DataFrame, n: int = 3, out: str = "_sh") -> DataFrame:
    """Attach the distinct-shingle array as ``out`` (hot path: Arrow-
    batched UDF; semantics pinned to :func:`shingles` in tests)."""
    return docs.withColumn(out, _shingle_udf(n)("text"))


def shingle_index(docs: DataFrame, n: int = 3) -> DataFrame:
    """Inverted index: one row per (doc_id, distinct shingle) with the
    doc's shingle-set size — the join layout for set-similarity."""
    with_sh = with_shingles(docs.select("doc_id", "text"), n).withColumn(
        "n_sh", F.size("_sh")
    )
    return with_sh.select("doc_id", "n_sh", F.explode("_sh").alias("shingle"))


def token_count(col: str | Column = "text") -> Column:
    return F.size(tokens(col))


def rolling_fingerprint(tok_col: Column, base: int = 31, mod: int = 10**15) -> Column:
    """Polynomial (Rabin-Karp-style) rolling-hash document fingerprint
    over the token stream: ``h = Σ v(tok_i)·base^(n-i) mod m`` with a
    portable per-token value (first 8 md5 hex digits as int — identical
    in Spark and DuckDB, unlike the engines' native hash()). Order-
    SENSITIVE, complementing the order-free md5/set fingerprints.

    PERF: ``tok_col`` must be a bound column (see :func:`shingles`);
    the fold is one interpreted lambda step per token."""
    vals = F.transform(
        tok_col, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )
    return F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * F.lit(base) + x, F.lit(mod)),
    )


def bpe_ish_token_count(col: str | Column = "text") -> Column:
    """Sub-word-ish token count: words plus digit runs and punctuation
    marks counted separately (a cheap BPE proxy via regex)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0))


def quality_features(docs: DataFrame) -> DataFrame:
    """Per-doc quality features: token counts, distinct ratio, mean
    token length — the length/punct/stopword-ratio family. Pure
    projection (no shuffle, no explode)."""
    toks = tokens("text")
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    # single-space corpus: chars = Σ|token| + (n_tok - 1)
    mean_tok_len = (F.length("text") - n_tok + 1) / n_tok
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars"),
        n_tok.alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.round(n_distinct / n_tok, 4).alias("distinct_ratio"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
    )


def lang_scores(tok_col: Column) -> dict[str, Column]:
    """Marker-hit counts per language for a token array."""
    return {
        lang: F.size(F.array_intersect(tok_col, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS.items()
    }


def predict_lang(tok_col: Column) -> Column:
    """Heuristic language-ID: arg-max marker-lexicon hits with a
    deterministic tie order (en > de > fr > es > zh), 'und' when no
    marker hits at all."""
    scores = lang_scores(tok_col)
    order = list(LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in order])
    expr = F.lit("und")
    for lang in reversed(order):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def hash_split(
    id_col: str | Column = "doc_id",
    weights: tuple[int, int, int] = (80, 10, 10),
) -> Column:
    """Deterministic train/val/test assignment by md5 of the document
    id — the standard leakage-safe split for training-data pipelines:
    membership is a pure function of the id (stable across reruns,
    partitionings, and engines — md5 makes it DuckDB-replicable), never
    of row order or a sampler's RNG state.

    Buckets 0-99 from the first 8 md5 hex chars; weights are percent
    cut-points. Narrow projection — no shuffle, no state.
    """
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    bucket = F.pmod(
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(100),
    )
    train, val, _ = weights
    return (
        F.when(bucket < train, F.lit("train"))
        .when(bucket < train + val, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def quality_verdict(
    min_tokens: int = 5,
    min_distinct_ratio: float = 0.3,
    max_mean_token_len: float = 12.0,
) -> Column:
    """Keep/drop verdict over the ``quality_features`` columns — the
    filter stage of a training-data quality pipeline. Thresholds are
    explicit parameters (a silent default cut is how corpora lose whole
    languages); the expression runs entirely JVM-side."""
    return (
        F.when(F.col("n_tokens") < min_tokens, F.lit("dropped:short"))
        .when(F.col("distinct_ratio") < min_distinct_ratio, F.lit("dropped:repetitive"))
        .when(F.col("mean_token_len") > max_mean_token_len, F.lit("dropped:gibberish"))
        .otherwise(F.lit("kept"))
    )


# --- repetition / intra-doc duplication (Gopher-style quality signals) ---

_REP_SCHEMA = (
    "n_tokens int, n_2grams int, n_distinct_2grams int, top_token_n int"
)


def _repetition_udf():
    """Arrow-batched one-pass counters behind the duplicate-n-gram /
    top-token repetition signals (Gopher §A1.1-style): token count,
    total + distinct 2-gram counts, max single-token frequency. One
    vectorized pass per Arrow batch (the HOF form would re-walk the
    token array per aggregate — see the :func:`shingles` pitfall); a
    pure map, no shuffle, linear at 100 TB."""

    @F.pandas_udf(_REP_SCHEMA)
    def rep(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            tok = t.split(" ")
            n = len(tok)
            grams = [tok[i] + " " + tok[i + 1] for i in range(n - 1)]
            counts: dict[str, int] = {}
            for w in tok:
                counts[w] = counts.get(w, 0) + 1
            rows.append((n, len(grams), len(set(grams)), max(counts.values())))
        return pd.DataFrame(
            rows, columns=["n_tokens", "n_2grams", "n_distinct_2grams", "top_token_n"]
        )

    return rep


def repetition_features(docs: DataFrame) -> DataFrame:
    """Per-doc repetition stats: ``dup_2gram_frac`` (fraction of
    non-distinct 2-grams — the classic duplicate-n-gram quality cut)
    and ``top_token_frac`` (mode-token share). Raw counters come from
    one Arrow pass; the fractions are JVM-side arithmetic."""
    r = docs.withColumn("_r", _repetition_udf()("text"))
    dup = F.when(
        F.col("_r.n_2grams") > 0,
        F.round(
            F.lit(1.0) - F.col("_r.n_distinct_2grams") / F.col("_r.n_2grams"), 6
        ),
    ).otherwise(F.lit(0.0))
    return r.select(
        "doc_id",
        F.col("_r.n_tokens").alias("n_tokens"),
        dup.alias("dup_2gram_frac"),
        F.round(F.col("_r.top_token_n") / F.col("_r.n_tokens"), 6).alias(
            "top_token_frac"
        ),
    )


# --- PII detection / redaction ---

#: Character-class-only patterns so the same string is a valid,
#: identically-matching regex in Java (Spark) and RE2 (DuckDB):
#: no \d shorthand, no backreferences, no lookaround.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PHONE_RE = "[+]?[0-9][0-9][0-9][- ][0-9][0-9][0-9][- ][0-9][0-9][0-9][0-9]"


def pii_counts(col: str | Column = "text") -> tuple[Column, Column]:
    """(n_emails, n_phones) match counts — JVM-side regex, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)),
        F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), 0)),
    )


def redact_pii(col: str | Column = "text") -> Column:
    """Replace emails then phones with typed placeholder tags — the
    standard pre-training scrub pass. Pure ``regexp_replace`` chain:
    stays in whole-stage codegen, linear at 100 TB."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


def hash_bernoulli(
    id_col: str | Column = "doc_id",
    rate: float | Column = 1.0,
    salt: str = "samp",
) -> Column:
    """Deterministic Bernoulli(``rate``) keep/drop by md5 of
    (salt || id) — sampling as a pure function of the id, like
    :func:`hash_split`: stable across reruns, partitionings, and
    engines (no RNG state, no row-order dependence). 4 hex digits →
    65536 buckets, so rates are honored to ~1.5e-5. ``rate`` may be a
    per-row Column (stratified/weighted sampling).

    Narrow projection, no shuffle; at 100 TB the filter rides the scan.
    """
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"), col.cast("string"))), 1, 4),
        16,
        10,
    ).cast("long")
    if isinstance(rate, Column):
        return bucket < (rate * 65536).cast("long")
    return bucket < int(rate * 65536)


def chunk_tokens(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
    text_col: str = "text",
) -> DataFrame:
    """RAG-style overlapping token chunking: one row per chunk, chunk
    ``i`` covering tokens ``[i·stride, i·stride + size)``; the last
    chunk may be short, and ``stride < size`` gives ``size − stride``
    tokens of overlap between neighbors (the retrieval-context recipe:
    no sentence straddles a hard boundary unseen).

    Contract: chunk starts are exactly 0, stride, 2·stride, … < n_tok
    (every token belongs to ≥ 1 chunk; with stride ≥ size this becomes
    non-overlapping striding). Empty docs yield no chunks. Output:
    (doc_id, chunk_idx, start_tok, n_tok, chunk_hash) with chunk_hash
    = md5 of the space-joined chunk — a value-verifiable stand-in for
    shipping the chunk text itself.

    Scale: narrow projection + explode, NO shuffle — chunking rides
    the scan and emits ~n_tokens/stride rows; downstream embedding /
    indexing partitions on (doc_id, chunk_idx)."""
    base = (
        docs.select("doc_id", tokens(text_col).alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
    )
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))
    ex = base.select(
        "doc_id",
        "toks",
        F.posexplode(starts).alias("chunk_idx", "start"),
    )
    chunk = F.slice("toks", F.col("start") + 1, size)
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start").cast("int").alias("start_tok"),
        F.size(chunk).alias("n_tok"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


# -- BPE merge learning (tokenizer training) --------------------------------


def bpe_init_seqs(words: DataFrame) -> DataFrame:
    """Character-level BPE start state: each (word, freq) row gets a
    space-separated symbol sequence 'c1 c2 ... cn </w>' (the classic
    end-of-word marker, so merges can't leak across word boundaries
    and word-final units stay distinct)."""
    return words.withColumn(
        "seq",
        F.concat(
            F.trim(F.regexp_replace("word", "(.)", "$1 ")), F.lit(" </w>")
        ),
    )


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-symbol-pair counts of a symbol-
    sequence table — the BPE objective. Pairs come from a pure array
    expression (transform over the split sequence, no posexplode
    self-join), one partial-agg shuffle on the pair key."""
    return (
        seqs.withColumn("syms", F.split("seq", " "))
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms)-2),"
                    " i -> struct(syms[i] as w1, syms[i+1] as w2))"
                )
            ).alias("p"),
        )
        .groupBy("p.w1", "p.w2")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
    )


def apply_merge(seqs: DataFrame, w1: str, w2: str) -> DataFrame:
    """Merge boundary-aligned occurrences of the symbol pair (w1, w2)
    in the sequence column. Space-padded plain `replace` (no regex —
    symbols stay escape-free), run TWICE because adjacent occurrences
    share their boundary space and a single left-to-right pass
    consumes it ('a b a b' → pass 1 merges occurrence 1, pass 2
    catches occurrence 2 whose leading space was eaten). For w1 ≠ w2
    occurrences are token-disjoint, so two passes reach the leftmost-
    greedy fixpoint — exactly reference BPE. Known deviation, by
    design: inside a run of ≥5 copies of ONE symbol ('a a a a a' for
    pair (a,a)), the space-consuming scan pairs differently than
    strict leftmost-greedy ([aa a aa] vs [aa aa a]) — the procedure
    is still deterministic and IDENTICAL in Spark and DuckDB (both
    engines' `replace` scans left-to-right non-overlapping), which is
    the property the oracle needs; natural-language corpora have no
    5-runs of one character, so the learned merge table coincides
    with textbook BPE there. Narrow projection, no shuffle."""
    pat = F.lit(f" {w1} {w2} ")
    rep = F.lit(f" {w1}{w2} ")
    padded = F.concat(F.lit(" "), F.col("seq"), F.lit(" "))
    return seqs.withColumn(
        "seq", F.trim(F.replace(F.replace(padded, pat, rep), pat, rep))
    )


def bpe_train(
    words: DataFrame, n_merges: int, cache_key: str | None = None
) -> tuple[list[tuple], DataFrame]:
    """Learn the first ``n_merges`` BPE merges over a (word, freq)
    vocabulary: per round, count adjacent symbol pairs (frequency-
    weighted), take the most frequent (ties: lexicographic on the
    pair — deterministic), fuse it everywhere, repeat. Returns
    (merge rows, final symbol-sequence vocabulary) — the training
    artifact AND the encoder state, so serving (encode) replays
    nothing.

    Scale: the state is the WORD VOCABULARY (corpus-bounded, millions
    of rows at 100 TB — not the corpus), so each round is one
    partial-agg shuffle over vocab-sized data plus a narrow rewrite.
    BPE is inherently sequential in the merge index, so each round
    collects exactly ONE row (the argmax pair) to the driver — the
    same bounded-collect class as the Lloyd centroid pick; sequences
    are localCheckpointed per round so round k doesn't recompute
    rounds 1..k-1. Like the quantizer builds, training is build-once/
    serve-many: memoized per session under ``cache_key``
    (``session.memo``)."""

    def build() -> tuple[list[tuple], DataFrame]:
        seqs = bpe_init_seqs(words).transform(_lazy_materialize)
        merges: list[tuple] = []
        for r in range(1, n_merges + 1):
            top = (
                _pair_counts(seqs)
                .orderBy(F.desc("pair_count"), "w1", "w2")
                .limit(1)
                .collect()
            )
            if not top:
                break
            t = top[0]
            merges.append((r, t.w1, t.w2, t.w1 + t.w2, t.pair_count))
            # superseded checkpoints are reclaimed by the ContextCleaner
            # once unreferenced (DataFrame.unpersist would be a no-op on
            # localCheckpoint blocks); vocab-sized state keeps the window
            # of live copies small
            seqs = apply_merge(seqs, t.w1, t.w2).transform(_lazy_materialize)
        return merges, seqs

    return memo(words.sparkSession, cache_key, ("bpe_train", n_merges), build)


def bpe_learn_merges(
    words: DataFrame, n_merges: int, cache_key: str | None = None
) -> DataFrame:
    """The merge table (merge_round, w1, w2, merged, pair_count) from
    :func:`bpe_train` — the ordered artifact a BPE tokenizer replays
    at encode time."""
    merges, _ = bpe_train(words, n_merges, cache_key)
    return words.sparkSession.createDataFrame(
        merges, "merge_round int, w1 string, w2 string, merged string, pair_count long"
    )


def bpe_encoded_vocab(
    words: DataFrame, n_merges: int, cache_key: str | None = None
) -> DataFrame:
    """Encode side: (word, freq, n_units) where n_units is the BPE
    unit count of the word after the learned merges — word-level
    because BPE encoding factors through the vocabulary (merges never
    cross the </w> boundary), so corpora encode via a broadcast join
    against this table instead of re-running merges per document."""
    _, seqs = bpe_train(words, n_merges, cache_key)
    return seqs.select(
        "word", "freq", F.size(F.split("seq", " ")).alias("n_units")
    )


# -- winnowing fingerprints (Schleimer et al. 2003) -------------------------

WINNOW_K = 3  # k-gram size
WINNOW_W = 4  # window size (guarantee: any match ≥ w+k-1 tokens is caught)


def winnow_fingerprints(
    docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Winnowing (the MOSS fingerprinting scheme): hash every k-gram,
    slide a w-window over the hash sequence, select the RIGHTMOST
    MINIMUM of each window, dedup — a position-aware fingerprint set
    ~1/w the gram count with the guarantee that any shared run of
    ≥ w+k-1 tokens yields a shared fingerprint. Complements the
    order-free shingle/minhash family (winnowing localizes WHERE the
    overlap is).

    Implementation is the definition, not a clever recurrence: each
    gram explodes into the ≤ w windows containing it (bounded w×
    fan-out BEFORE the shuffle), then the rightmost-min per window is
    ONE lexicographic min(struct(h, -p)) partial-agg shuffle +
    distinct. Gram hashes are the first 8 md5 hex digits
    (engine-portable); the oracle spells the same selection as the
    equivalent two-step (window-min then rightmost argmin) SQL.

    Output: (doc_id, p, h) — fingerprint hash h at gram position p.
    Docs with fewer than k+w-1 tokens emit nothing (no full window).
    """
    toks = F.split("text", " ")
    n = F.size(toks)
    base = docs.select("doc_id", toks.alias("_t"), n.alias("_n")).filter(
        F.col("_n") >= k + w - 1
    )
    gram_hash = (
        f"transform(sequence(0, _n - {k}), i -> "
        f"cast(conv(substring(md5(concat_ws(' ', slice(_t, i + 1, {k}))), 1, 8),"
        f" 16, 10) as long))"
    )
    grams = base.select(
        "doc_id",
        (F.col("_n") - k + 1).alias("_ng"),
        F.posexplode(F.expr(gram_hash)).alias("p", "h"),
    )
    win = grams.select(
        "doc_id",
        "p",
        "h",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.col("p") - w + 1),
                F.least(F.col("p"), F.col("_ng") - w),
            )
        ).alias("j"),
    )
    # rightmost-min in ONE partial-agg shuffle: lexicographic
    # min(struct(h, -p)) = (min hash, then max position) — no
    # join-back (the struct already carries the winning hash). The
    # oracle keeps the expanded two-step spelling; results are equal.
    wmin = win.groupBy("doc_id", "j").agg(
        F.min(F.struct(F.col("h"), (-F.col("p")).alias("np"))).alias("_m")
    )
    return wmin.select(
        "doc_id",
        (-F.col("_m.np")).alias("p"),
        F.col("_m.h").alias("h"),
    ).distinct()




#: manifest format tag for the persisted inverted text index
TEXT_INDEX_FORMAT = "text-index"
# merge_text_index reports at most this many touched tokens — the
# report is human-facing, so a bounded sorted sample of the delta
# vocabulary, never all of it
TOUCHED_REPORT_CAP = 1024


def _text_body(docs: DataFrame, parent: str, caller: str, m: dict) -> tuple:
    """The build/merge body of the text index: one pass over a doc
    batch → the token-partitioned postings segment (token, doc_id, tf,
    dl), the document-frequency table, the 1-row corpus stats and the
    per-doc (doc_id, dl) ``docs`` sidecar, all under fresh names in
    ``parent``. With the live manifest ``m`` (a merge), the old dfreq
    and stats are added into the new ones and the segment and sidecar
    lists are extended; a build passes ``{}``. Returns (the written
    token values, manifest entries).

    The batch base is checkpointed so the postings explode, the stats
    aggregate and the sidecar share the tokenize work; the four writes
    are independent jobs into fresh names no reader resolves before
    the commit, so they are overlapped (guide §2.6). The ``docs``
    sidecar is the ONLY record of docs whose text tokenized to zero
    tokens (counted in n_docs/sum_dl, absent from postings), which
    lets a tombstone compaction recompute stats over the TRUE survivor
    set. A batch with no postings lands no segment and keeps the old
    token counts, yet its docs still count (n_docs grows, avgdl
    shifts)."""
    spark = docs.sparkSession
    base = docs.select(
        "doc_id",
        token_count("text").alias("dl"),
        tokens("text").alias("_toks"),
    ).localCheckpoint()
    postings = (
        base.select("doc_id", "dl", F.explode("_toks").alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = postings.groupBy("token").agg(F.count("*").alias("df"))
    stats = base.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    if m:
        dfreq = (
            storage.read_parquet(spark, f"{parent}/{m['dfreq']}")
            .unionByName(dfreq)
            .groupBy("token")
            .agg(F.sum("df").cast("long").alias("df"))
        )
        stats = (
            storage.read_parquet(spark, f"{parent}/{m['stats']}")
            .unionByName(stats)
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("sum_dl").cast("long").alias("sum_dl"),
            )
        )
    names = [indexfmt.new_dir_name(k) for k in ("dfreq", "stats", "docs")]
    (seg, values), *_ = overlapped(
        lambda: indexfmt.write_segment(postings, parent, "token", caller),
        *[
            lambda n=n, t=t: t.write.mode("overwrite").parquet(f"{parent}/{n}")
            for n, t in zip(names, (dfreq, stats, base.select("doc_id", "dl")))
        ],
    )
    dfreq_tbl, stats_tbl, docs_tbl = names
    return values, {
        "segments": [*m.get("segments", []), *([seg] if values else [])],
        "dfreq": dfreq_tbl,
        "stats": stats_tbl,
        "docs": [*m.get("docs", []), docs_tbl],
    }


def write_text_index(docs: DataFrame, path: str) -> None:
    """Persist the inverted TEXT index — the keyword-search twin of
    ``similarity.write_ivf_index``: postings written as parquet
    PARTITIONED BY TOKEN inside an immutable SEGMENT directory
    (``<path>/seg-<id>/token=<t>/``) carrying (doc_id, tf, dl) —
    Lucene's docid/freq/norm triple in columnar form — plus the
    |vocab|-row document-frequency table, the 1-row corpus stats and
    the per-doc ``docs`` sidecar, all named by a single ``_CURRENT``
    manifest (see :mod:`..operators.indexfmt`). At query time the
    query's terms become PartitionFilters, so serving touches |query
    terms| directories per segment out of |vocab| — the columnar
    posting-list seek (pinned in tests).

    PUBLICATION IS ATOMIC, same contract as the IVF index: everything
    (manifest included) stages into a scratch dir and one
    ``os.rename`` exposes it; a losing concurrent builder discards
    its stage (:func:`.indexfmt.build`). The written layout is checked
    before the publish: a NULL/empty token or a corpus with no
    postings is refused and nothing is published. At 100 TB the index
    rebuilds/merges offline like any search index; segments are the
    merge unit and hot stopword partitions are the skew knob —
    df-cutoff them out of the index exactly like the Jaccard
    blocker."""
    indexfmt.build(
        path,
        TEXT_INDEX_FORMAT,
        lambda stage: _text_body(docs, stage, "write_text_index", {}),
        "write_text_index",
    )


def read_text_index(
    spark, path: str, version: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Resolve the ``_CURRENT`` manifest — or a RETAINED generation
    via ``version`` (time travel inside the retention horizon; see
    :func:`..operators.indexfmt.read_manifest`) — and open the index:
    (postings, dfreq, stats). Postings are the union of the manifest's
    segment scans — each segment keeps its own token partitioning, so
    a term filter prunes to |terms| directories PER SEGMENT (both
    static ``isin`` pruning and DPP fire per scan; plan-pinned).
    Readers never see a half-merged index: the manifest names only
    fully-written immutable directories.

    Tombstones (``delete_from_text_index``) are applied here as a
    broadcast ANTI join on doc_id — deleted docs vanish from every
    search immediately, while ``dfreq``/``stats`` stay the PRE-DELETE
    values until the next compaction (exactly Lucene's live-docs
    semantics: deleted docs still count in idf/avgdl until a segment
    merge reclaims them — documented, test-pinned). The tombstone set
    is bounded by deletes-since-compaction, which the compaction
    policy keeps broadcast-small."""
    m = indexfmt.read_manifest(path, TEXT_INDEX_FORMAT, version=version)
    postings = indexfmt.read_live(
        spark, path, m, m["segments"], ["token", "doc_id", "tf", "dl"], "doc_id"
    )
    dfreq = storage.read_parquet(spark, f"{path}/{m['dfreq']}")
    stats = storage.read_parquet(spark, f"{path}/{m['stats']}")
    return postings, dfreq, stats


def read_postings_for_tokens(
    spark, path: str, tokens_df: DataFrame
) -> DataFrame:
    """Bulk-token read path: the token partitions named by a
    DataFrame-valued term set (decontamination term lists, backfill
    audits — sets far too large for an In-literal), via a broadcast
    LEFT SEMI join which dynamic partition pruning turns into
    PartitionFilters on every segment scan (plan-pinned in
    test_plan_discipline). Deliberately NOT ``isin(<collected>)`` — a
    10⁵-10⁶-token set as an In-literal is a plan-size/driver
    bottleneck, while the broadcast set is just a hashed relation.

    The ``length(token) >= 0`` no-op predicate is load-bearing:
    Spark's PartitionPruning rule only inserts the DPP subquery when
    the build side carries a likely-selective filter (BinaryComparison
    et al.) — a bare distinct/LogicalRDD does not qualify, and the
    scan would silently fall back to reading EVERY token partition
    (verified empirically; pinned in test_plan_discipline)."""
    postings, _, _ = read_text_index(spark, path)
    return postings.join(
        F.broadcast(tokens_df.filter(F.length("token") >= 0)),
        "token",
        "left_semi",
    ).select("token", "doc_id", "tf", "dl")


def merge_text_index(
    new_docs: DataFrame, path: str, max_segments: int | None = None
) -> list[str]:
    """INCREMENTAL text-index maintenance — the search-index twin of
    the bucketed-silver CDC loop: fold a batch of NEW documents into a
    persisted ``write_text_index`` index as ONE new immutable segment
    plus a metadata rewrite, committed by a single atomic manifest
    flip (:mod:`..operators.indexfmt`).

    Because doc-id disjointness is the caller's contract (re-adding an
    indexed doc would double its postings — deletes/updates go through
    a rebuild, exactly like a Lucene segment merge discards
    tombstones), appending the batch's postings as a segment is
    semantically identical to consolidating them into the existing
    token partitions: BM25 and every other reader union the segments.
    The merge therefore never READS existing postings at all — zero
    read amplification, compared to a DPP-pruned read-merge-rewrite
    of |batch tokens| partitions.

    TORN MERGES ARE STRUCTURALLY IMPOSSIBLE: the segment and the
    merged dfreq/stats tables are written under fresh names no reader
    resolves, and the ONE ``os.replace`` of the ``_CURRENT`` pointer
    is the commit point. A crash before the flip leaves orphan
    directories and a fully-intact old index; recovery is simply
    re-running the merge (orphans are reclaimed by the next
    ``compact_text_index``); no in-progress marker or
    delete-then-rebuild recovery is needed.

    NULL/empty tokens are refused from the written layout
    (:func:`.indexfmt.write_segment`): Spark writes them as the
    ``__HIVE_DEFAULT_PARTITION__`` directory, whose partition value
    reads back as NULL — a token no equality predicate (BM25 term
    match, dfreq join) can ever hit, so the postings would be dead
    weight that still desynchronizes dfreq/stats. The refused segment
    is removed, the sidecars written beside it stay unreferenced
    orphans, and the manifest is untouched.

    Cost at 100 TB: one |batch|-sized partitioned write + a
    |vocab|-row metadata rewrite + one pointer flip — never O(index),
    and no per-partition rename fan-out (no |batch tokens|
    filesystem round-trips inside the commit window). Read amplification grows by one segment per merge;
    ``compact_text_index`` is the tiered-merge knob that folds
    segments back to one, and ``max_segments`` makes it a POLICY:
    when set, a merge that leaves more than that many live segments
    triggers compaction inline (amortized Lucene tiered merging — the
    occasional merge pays O(index) so every read stays bounded; safe
    under concurrent readers because the post-compaction vacuum
    spares every child the RETAINED manifest generations reference —
    see :mod:`.indexfmt` generation retention).
    Returns a SORTED SAMPLE of the touched tokens, capped at
    ``TOUCHED_REPORT_CAP`` (reporting — never enters a plan): the
    token values the segment write reads back from its layout (one
    listing of |batch vocab| directory names, no Spark job), cut to
    the cap so a heavy batch's O(10⁵–10⁶)-term vocabulary never
    becomes the report. An empty batch is a no-op."""
    m = indexfmt.read_manifest(path, TEXT_INDEX_FORMAT)
    indexfmt.required(m, "docs")
    if new_docs.isEmpty():
        return []
    touched, entries = _text_body(new_docs, path, "merge_text_index", m)
    # ---- the single commit point; live tombstones carry through a
    # merge untouched (the batch is new doc ids by contract, never
    # resurrections)
    indexfmt.write_manifest(path, {**m, "version": int(m["version"]) + 1, **entries})
    if max_segments is not None and len(entries["segments"]) > max_segments:
        compact_text_index(new_docs.sparkSession, path)
    return touched[:TOUCHED_REPORT_CAP]


def delete_from_text_index(
    doc_ids: DataFrame, path: str, max_deleted_ratio: float | None = None
) -> int:
    """DELETE support for the persisted text index — the Lucene
    live-docs model on the manifest layout: the doc-id set is written
    as an immutable TOMBSTONE child and one atomic pointer flip
    commits it. Every reader (`read_text_index`, and therefore BM25
    serving and the bulk-token path) anti-joins the tombstones, so
    deleted docs vanish from results immediately; ``dfreq``/``stats``
    deliberately keep their pre-delete values until the next
    ``compact_text_index``, which applies tombstones physically,
    RECOMPUTES dfreq/stats from the surviving postings, and clears
    the tombstone list (exactly a Lucene segment merge reclaiming
    deletes). An UPDATE is delete + `merge_text_index` of the new
    version under the same contract.

    Cost: O(|deleted ids|) write + a pointer flip — never O(index).
    ``max_deleted_ratio`` is the deletes-percentage compaction policy,
    counted over the ``docs`` sidecar: above it, ``compact_text_index``
    runs inline, so the stale-idf window, the serving anti-join size
    and the dead bytes on disk are all bounded by the knob. The commit
    path, the policy and the return value (distinct ids in the
    request) are :func:`.indexfmt.delete_ids`."""
    return indexfmt.delete_ids(
        doc_ids.select("doc_id"),
        path,
        TEXT_INDEX_FORMAT,
        "docs",
        max_deleted_ratio,
        lambda: compact_text_index(doc_ids.sparkSession, path),
    )


def compact_text_index(spark, path: str) -> int:
    """Fold all segments back into ONE (the Lucene tiered-merge
    step): rewrites the live (tombstone-masked) postings as a single
    token-partitioned segment, RECOMPUTES dfreq/stats from the
    survivors — dfreq from the surviving postings, stats from the
    per-doc (doc_id, dl) ``docs`` sidecar, which also holds docs whose
    text tokenized to zero tokens — folds the sidecar generations to
    one table of the survivors, and hands the commit to
    :func:`.indexfmt.commit_fold` (empty-fold refusal, manifest flip
    with the tombstone list cleared, vacuum of every unreferenced
    child). With no tombstones the recompute equals the carried
    values; with tombstones idf/avgdl snap from the documented stale
    values to exact — the Lucene segment merge reclaiming deletes.
    Returns the number of segments folded. O(index) by design — the
    offline amortization knob that bounds per-merge read
    amplification, scheduled like any segment-merge policy. The
    closing vacuum spares children referenced by retained manifest
    generations, so readers holding the previous generation survive
    an inline compaction."""
    m = indexfmt.read_manifest(path, TEXT_INDEX_FORMAT)
    postings = indexfmt.read_live(
        spark, path, m, m["segments"], ["token", "doc_id", "tf", "dl"], "doc_id"
    )
    survivors = indexfmt.read_live(
        spark, path, m, indexfmt.required(m, "docs"), ["doc_id", "dl"], "doc_id"
    )
    dfreq = indexfmt.new_dir_name("dfreq")
    stats = indexfmt.new_dir_name("stats")
    docs_tbl = indexfmt.new_dir_name("docs")
    # fresh unreferenced names ahead of the flip — independent write
    # jobs, overlapped (guide §2.6)
    segment, *_ = overlapped(
        lambda: indexfmt.write_segment(postings, path, "token", "compact_text_index"),
        lambda: postings.groupBy("token")
        .agg(F.count("*").cast("long").alias("df"))
        .write.mode("overwrite")
        .parquet(f"{path}/{dfreq}"),
        lambda: survivors.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
        .write.mode("overwrite")
        .parquet(f"{path}/{stats}"),
        lambda: survivors.write.mode("overwrite").parquet(f"{path}/{docs_tbl}"),
    )
    indexfmt.commit_fold(
        path, m, segment, "compact_text_index",
        dfreq=dfreq, stats=stats, docs=[docs_tbl],
    )
    return len(m["segments"])


# -- positional index (phrase / proximity search) ----------------------------
# The positions plane of a search index — Lucene's .prx/.pos file next
# to the docid/freq/norm postings the BM25 index persists. Kept as a
# SEPARATE index family (not a position array fattening every BM25
# posting) for the same reason Lucene makes positions an optional
# per-field plane: bag-of-words scoring never reads them, and the
# positional plane is ~|tokens| rows vs |distinct (token, doc)|.
# Reference parity: the reference's pg_trgm/tsvector GIN indexes
# (sql/init/03_create_indexes.sql) serve containment; phrase/proximity
# is the positional upgrade of the same serving surface.

POS_INDEX_FORMAT = "pos-index"


def positional_postings(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One pass over a doc batch → positional postings
    ``(token, doc_id, pos)`` with 0-based token offsets — exactly what
    phrase adjacency (``pos_{i+1} = pos_i + 1``) and proximity windows
    consume.

    Scale: narrow projection + posexplode straight off the scan — no
    shuffle, ~|corpus tokens| output rows."""
    return docs.select(
        "doc_id", F.posexplode(tokens(text_col)).alias("pos", "token")
    ).select("token", "doc_id", F.col("pos").cast("int").alias("pos"))


def _pos_body(docs: DataFrame, parent: str, caller: str, m: dict) -> tuple:
    """The build/merge body of the positional index: the batch's
    postings as one token-clustered segment under ``parent``, then the
    |docs|-row ``docs`` sidecar — the distinct doc ids, read back from
    the written segment (column-pruned, no second tokenize pass), the
    live-set plane that keeps the ``max_deleted_ratio`` check
    |docs|-cheap instead of a distinct over the |tokens|-row plane.
    With the live manifest ``m`` (a merge) the segment and sidecar
    lists are extended; a build passes ``{}``. Returns (the written
    token values, manifest entries); a batch with no postings writes
    nothing and returns no entries.

    Clustering by token before the partitioned write makes each writer
    task own whole token directories (one exchange, 2.5x faster here
    than the unclustered write, which makes every input task visit
    every directory). A production corpus with stopword-class hot
    tokens adds doc_id to the distribution key (more files per hot
    directory, balanced tasks) — the standard skew knob."""
    seg, values = indexfmt.write_segment(
        positional_postings(docs).repartition(F.col("token")), parent, "token", caller
    )
    if not values:
        return values, {}
    docs_tbl = indexfmt.new_dir_name("docs")
    storage.read_parquet(docs.sparkSession, f"{parent}/{seg}").select(
        "doc_id"
    ).distinct().write.mode("overwrite").parquet(f"{parent}/{docs_tbl}")
    return values, {
        "segments": [*m.get("segments", []), seg],
        "docs": [*m.get("docs", []), docs_tbl],
    }


def write_positional_index(docs: DataFrame, path: str) -> None:
    """Persist the POSITIONAL index: postings written as parquet
    PARTITIONED BY TOKEN inside an immutable segment directory, named
    by the same atomic ``_CURRENT`` manifest protocol as the BM25/IVF
    indexes (:func:`.indexfmt.build` — stage everything, one
    ``os.rename`` publishes; losing concurrent builders discard their
    stage; a NULL/empty token or an empty corpus, both read from the
    written layout, discard it too). At query time the phrase's terms
    become PartitionFilters, so a k-term phrase touches k directories
    per segment out of |vocab| — the positional posting-list seek
    (plan-pinned in tests)."""
    indexfmt.build(
        path,
        POS_INDEX_FORMAT,
        lambda stage: _pos_body(docs, stage, "write_positional_index", {}),
        "write_positional_index",
    )


def merge_positional_index(
    new_docs: DataFrame, path: str, max_segments: int | None = None
) -> int:
    """Fold a batch of NEW documents into a persisted positional index
    as ONE new immutable segment + a pointer flip — the same
    zero-read-amplification merge as :func:`merge_text_index`
    (doc-id disjointness is the caller's contract; readers union the
    segments, so appending ≡ consolidating). A crash before the flip
    leaves orphans + a fully-intact old index. Cost at 100 TB: one
    |batch tokens|-sized partitioned write + one pointer flip — never
    O(index). A batch with no postings is a no-op; a NULL/empty token
    is refused from the written layout with the manifest untouched.

    ``max_segments`` is the same tiered-merge POLICY the text and IVF
    merges carry: a streamed positional index otherwise accumulates
    one segment per micro-batch unbounded, and every phrase serve
    unions (and seeks into) every segment — read amplification linear
    in merge count. When set, a merge that leaves more than
    ``max_segments`` live segments triggers
    :func:`compact_positional_index` inline (the occasional merge
    pays the O(index) fold so every read stays bounded), safe under
    concurrent readers via :mod:`.indexfmt` generation retention.
    Returns the number of live segments after the merge (1 when the
    inline compaction fired)."""
    m = indexfmt.read_manifest(path, POS_INDEX_FORMAT)
    indexfmt.required(m, "docs")
    values, entries = _pos_body(new_docs, path, "merge_positional_index", m)
    if not values:
        return len(m["segments"])
    indexfmt.write_manifest(path, {**m, "version": int(m["version"]) + 1, **entries})
    if max_segments is not None and len(entries["segments"]) > max_segments:
        compact_positional_index(new_docs.sparkSession, path)
        return 1
    return len(entries["segments"])


def read_positional_index(
    spark, path: str, version: int | None = None
) -> DataFrame:
    """Resolve the manifest — or a RETAINED generation via ``version``
    (time travel inside the retention horizon) — and open the
    positional postings: the union of the manifest's segment scans,
    each keeping its own token partitioning so a term filter prunes to
    |terms| directories PER SEGMENT. Tombstones are masked by the
    same broadcast anti-join as the sibling indexes
    (:func:`.indexfmt.read_live`)."""
    m = indexfmt.read_manifest(path, POS_INDEX_FORMAT, version=version)
    return indexfmt.read_live(
        spark, path, m, m["segments"], ["token", "doc_id", "pos"], "doc_id"
    )


def _escape_partition_value(spark, value: str) -> str:
    """Partition-directory name escaping, writer-exact: Spark
    percent-encodes special characters in partition values
    (``a/b`` → ``a%2Fb``), so a direct seek built from the RAW token
    would miss the directory — silently dropping that term's rows
    while the pruned read finds them (data-dependent identity
    breach). Prefer the JVM's own ``escapePathName`` (the function
    the writer used); the Python port of its charset is the fallback
    for sessions where catalyst internals are unreachable."""
    try:
        return (
            spark._jvm.org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName(value)
        )
    except Exception:
        needs = set('"#%\'*/:=?\\{[]^')
        out = []
        for ch in value:
            if ch in needs or ord(ch) < 0x20 or ord(ch) == 0x7F:
                out.append(f"%{ord(ch):02X}")
            else:
                out.append(ch)
        return "".join(out)


def _seek_token_dirs(
    spark, path: str, m: dict, terms: list[str], file_schema: str
) -> DataFrame | None:
    """Shared mechanics of the term-directory SEEK readers: open
    exactly |terms| directories per live segment DIRECTLY (the
    manifest names the segments, the partition layout names the
    directories), skipping Spark's partition discovery — which lists
    EVERY token directory of every segment before pruning, a
    |vocab|-linear driver metadata pass per query (measured: the same
    18k-row term read costs 0.25 s via direct dirs vs 0.9 s via
    discovery at a mere 310-token vocab; a production 10M-token vocab
    makes discovery THE serving bottleneck). This is Lucene's
    term-dictionary seek; on an object store the existence probe is
    one HEAD request per (term, segment). A term absent from a
    segment contributes nothing (missing directory skipped — same
    semantics as the pruned read). Returns None when no term exists
    in any segment (caller supplies the empty frame), else the
    postings with the ``token`` column restored.

    Duplicate terms in the input are collapsed (``dict.fromkeys`` —
    order-preserving): a repeated word ("the end of the end" has two
    ``the``/``end`` slots) must NOT duplicate that term's rows, or
    the documented row-identity with ``read(...).filter(isin(terms))``
    breaks and phrase occurrence counts silently multiply. The
    existence probe routes through :func:`..operators.indexfmt.
    existing_dirs` — BATCHED per segment: short term lists keep one
    HEAD-class ``dir_exists`` per (term, segment) (local ``os.path`` /
    Hadoop ``FileSystem`` by scheme), wide ones pay ONE segment
    listing instead of k serialized object-store round-trips, so
    probe cost is min(k HEADs, 1 LIST) per segment."""
    from functools import reduce

    dirs = {
        f"token={_escape_partition_value(spark, t)}": t
        for t in dict.fromkeys(terms)
    }
    parts = []
    for s in m["segments"]:
        for name in indexfmt.existing_dirs(spark, f"{path}/{s}", list(dirs)):
            parts.append(
                storage.read_parquet(
                    spark, f"{path}/{s}/{name}", file_schema
                ).withColumn("token", F.lit(dirs[name]))
            )
    if not parts:
        return None
    return reduce(lambda a, b: a.unionByName(b), parts)


def seek_positional_tokens(
    spark, path: str, terms: list[str], version: int | None = None
) -> DataFrame:
    """Positional postings for a LITERAL term list via direct
    term-directory seeks (see :func:`_seek_token_dirs`) — row-for-row
    identical to ``read_positional_index(...).filter(token.isin(
    terms))`` (test-pinned on multi-segment + tombstoned indexes)
    but without the |vocab|-linear partition-discovery pass, so a
    k-term phrase serve opens exactly k directories per segment at
    ANY vocabulary size. Tombstones are masked by the same broadcast
    anti-join; retained generations are reachable via ``version``.
    For DataFrame-valued term sets (bulk phrase batches) keep
    :func:`read_positional_postings_for_tokens` — DPP does the seek
    there."""
    m = indexfmt.read_manifest(path, POS_INDEX_FORMAT, version=version)
    df = _seek_token_dirs(spark, path, m, terms, "doc_id long, pos int")
    if df is None:
        return spark.createDataFrame([], "token string, doc_id long, pos int")
    return indexfmt.mask_tombstones(spark, path, m, df, "doc_id").select(
        "token", "doc_id", "pos"
    )


def seek_text_postings(
    spark, path: str, terms: list[str], version: int | None = None
) -> DataFrame:
    """Text-index postings for a LITERAL term list via direct
    term-directory seeks — the BM25 twin of
    :func:`seek_positional_tokens`, identical to the pruned
    multi-segment union read (test-pinned) minus the per-query
    |vocab|-directory discovery. dfreq/stats stay plain-file reads
    (they are unpartitioned metadata tables)."""
    m = indexfmt.read_manifest(path, TEXT_INDEX_FORMAT, version=version)
    df = _seek_token_dirs(
        spark, path, m, terms, "doc_id long, tf bigint, dl long"
    )
    if df is None:
        return spark.createDataFrame(
            [], "token string, doc_id long, tf bigint, dl long"
        )
    return indexfmt.mask_tombstones(spark, path, m, df, "doc_id").select(
        "token", "doc_id", "tf", "dl"
    )


def read_text_index_meta(
    spark, path: str, version: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(dfreq, stats) straight off the manifest — the metadata half a
    SEEK-path BM25 serve needs next to :func:`seek_text_postings`.
    Both are plain unpartitioned parquet tables (|vocab| rows / 1
    row), so this never touches the token-partitioned postings plane
    and never triggers its |vocab|-directory partition discovery —
    which ``read_text_index`` would pay just to hand back the same
    two frames."""
    m = indexfmt.read_manifest(path, TEXT_INDEX_FORMAT, version=version)
    return (
        storage.read_parquet(spark, f"{path}/{m['dfreq']}"),
        storage.read_parquet(spark, f"{path}/{m['stats']}"),
    )


def phrase_occurrences(postings: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact-phrase matching over positional postings: the k-way
    ALIGNED join — leg i keeps only ``token = phrase[i]`` rows and
    normalizes its position to the would-be phrase start
    (``pos − i``), so an occurrence is one ``(doc_id, p0)`` key every
    leg agrees on. Output: one row per occurrence ``(doc_id, p0)``.

    Repeated phrase terms are handled by construction (both legs read
    the same filtered set; alignment does the rest). Scale: each leg
    is a single-token partition seek (tiny after the filter); the
    k-way equi-join shares one (doc_id, p0) key, so AQE plans
    broadcast legs when they fit and the whole match never touches
    off-phrase tokens."""
    if not phrase:
        raise ValueError("phrase_occurrences: empty phrase")
    legs = [
        postings.filter(F.col("token") == w).select(
            "doc_id", (F.col("pos") - F.lit(i)).alias("p0")
        )
        for i, w in enumerate(phrase)
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.join(leg, ["doc_id", "p0"])
    return out


def proximity_pairs(
    postings: DataFrame, first: str, second: str, slop: int
) -> DataFrame:
    """ORDERED proximity matching (Lucene's sloppy phrase, the
    ``"a b"~slop`` query): pairs where ``second`` occurs 1..slop
    tokens AFTER ``first`` in the same doc. Output: one row per pair
    ``(doc_id, p1, gap)``.

    Scale: two single-token partition seeks joined on doc_id with a
    bounded band predicate on positions — a range join whose legs are
    already term-filtered tiny, never a corpus-scale inequality
    join."""
    a = postings.filter(F.col("token") == first).select(
        "doc_id", F.col("pos").alias("p1")
    )
    b = postings.filter(F.col("token") == second).select(
        "doc_id", F.col("pos").alias("p2")
    )
    return (
        a.join(b, "doc_id")
        .filter((F.col("p2") - F.col("p1")).between(1, slop))
        .select("doc_id", "p1", (F.col("p2") - F.col("p1")).alias("gap"))
    )


def delete_from_positional_index(
    doc_ids: DataFrame, path: str, max_deleted_ratio: float | None = None
) -> int:
    """DELETE support for the positional index — the same Lucene
    live-docs model as the sibling families: the doc-id set lands as
    an immutable TOMBSTONE child committed by one pointer flip;
    :func:`read_positional_index` anti-joins it, so deleted docs
    vanish from every phrase/proximity result immediately, and
    ``compact_positional_index`` later reclaims them physically. An
    UPDATE is delete + ``merge_positional_index`` of the new version.

    Cost: O(|deleted ids|) write + a pointer flip — never O(index).
    ``max_deleted_ratio`` is the same deletes-percentage policy as the
    other two families, counted over the |docs|-row ``docs`` sidecar
    (never the |tokens|-row positional plane); above it,
    ``compact_positional_index`` runs inline. The commit path, the
    policy and the return value (distinct ids in the request) are
    :func:`.indexfmt.delete_ids`."""
    return indexfmt.delete_ids(
        doc_ids.select("doc_id"),
        path,
        POS_INDEX_FORMAT,
        "docs",
        max_deleted_ratio,
        lambda: compact_positional_index(doc_ids.sparkSession, path),
    )


def compact_positional_index(spark, path: str) -> int:
    """Fold all positional segments back into ONE, applying live
    tombstones physically (the surviving postings are what gets
    rewritten — exactly what :func:`read_positional_index` masks),
    fold the ``docs`` sidecar generations to one table of the
    survivors, and commit through :func:`.indexfmt.commit_fold`:
    an empty fold (everything deleted — drop the directory instead)
    is refused, the flip clears the tombstone list, and the closing
    vacuum reclaims pre-compaction segments, tombstone sets, and
    crashed-merge orphans while sparing children referenced by
    RETAINED manifest generations, so concurrent readers survive.
    Returns the number of segments folded. O(index) by design, the
    offline tiered-merge amortization step."""
    m = indexfmt.read_manifest(path, POS_INDEX_FORMAT)
    postings = indexfmt.read_live(
        spark, path, m, m["segments"], ["token", "doc_id", "pos"], "doc_id"
    )
    survivors = indexfmt.read_live(
        spark, path, m, indexfmt.required(m, "docs"), ["doc_id"], "doc_id"
    )
    docs_tbl = indexfmt.new_dir_name("docs")
    segment, _ = overlapped(
        lambda: indexfmt.write_segment(
            postings.repartition(F.col("token")), path, "token",
            "compact_positional_index",
        ),
        lambda: survivors.distinct()
        .write.mode("overwrite")
        .parquet(f"{path}/{docs_tbl}"),
    )
    indexfmt.commit_fold(
        path, m, segment, "compact_positional_index", docs=[docs_tbl]
    )
    return len(m["segments"])


def phrase_occurrences_bulk(
    postings: DataFrame, phrases: DataFrame
) -> DataFrame:
    """SET-DRIVEN phrase matching — the bulk-query path (a
    decontamination-style term-list serve, the positional sibling of
    ``read_postings_for_tokens``): ``phrases`` carries one row per
    phrase SLOT ``(phrase, slot, token, n_slots)``, and ONE broadcast
    join against the positional plane matches EVERY phrase at once —
    each posting row that hits a slot is normalized to its would-be
    phrase start (``pos − slot``); a start where the count of DISTINCT
    matched slots reaches ``n_slots`` is an occurrence. Repeated
    phrase terms are correct by construction (the same posting row
    matches several slots at DIFFERENT starts).

    Output: one row per occurrence ``(phrase, doc_id, p0)``. Scale:
    one broadcast hash join (|phrase slots| is query-sized) + one
    aggregate keyed on (phrase, doc_id, start) — never a per-phrase
    plan, so a 10⁴-phrase batch costs the same single pass."""
    m = postings.join(F.broadcast(phrases), "token")
    return (
        m.select(
            "phrase",
            "doc_id",
            (F.col("pos") - F.col("slot")).alias("p0"),
            "slot",
            "n_slots",
        )
        .filter(F.col("p0") >= 0)
        .groupBy("phrase", "doc_id", "p0")
        .agg(
            F.countDistinct("slot").alias("_k"),
            F.first("n_slots").alias("_n"),
        )
        .filter(F.col("_k") == F.col("_n"))
        .select("phrase", "doc_id", "p0")
    )


def read_positional_postings_for_tokens(
    spark, path: str, tokens_df: DataFrame
) -> DataFrame:
    """Bulk-token read of the positional index — the partition seek
    for a DataFrame-valued term set (a phrase BATCH's slot tokens:
    sets far too large for an In-literal), via a broadcast LEFT SEMI
    join that dynamic partition pruning turns into PartitionFilters
    on every segment scan (plan-pinned), mirroring
    :func:`read_postings_for_tokens` on the text index. The
    ``length(token) >= 0`` no-op predicate is load-bearing for the
    same reason documented there: Spark's PartitionPruning rule only
    inserts the DPP subquery when the build side carries a
    likely-selective filter."""
    postings = read_positional_index(spark, path)
    return postings.join(
        F.broadcast(tokens_df.filter(F.length("token") >= 0)),
        "token",
        "left_semi",
    ).select("token", "doc_id", "pos")

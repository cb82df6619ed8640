"""Training-data preparation queries over the ``documents`` table:
corpus and quality statistics, language ID, quality classification,
tokenizer training (BPE), LM surprisal and perplexity, PII redaction,
splits, sampling, packing, ordering and vocabulary analytics.

Each query's DuckDB oracle is the ``ORACLES`` entry right after it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import load_table
from ecommerce_realtime_pipeline_spark.operators import model as MODEL
from ecommerce_realtime_pipeline_spark.operators import text as TX

#: query name -> DuckDB oracle SQL, one entry per query of this module
ORACLES: dict[str, str] = {}


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


ORACLES["docs_text_stats"] = """
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
    """


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


ORACLES["docs_quality"] = r"""
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
    """


def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID confusion matrix: (actual, predicted, n)."""
    docs = load_table(spark, sf_dir, "documents")
    pred = TX.predict_lang(TX.tokens("text"))
    return (
        docs.select(F.col("lang").alias("actual_lang"), pred.alias("pred_lang"))
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


ORACLES["docs_lang_id"] = """
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
    """


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


ORACLES["docs_train_split"] = """
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
    """


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


ORACLES["docs_quality_filter"] = """
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
    """


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


# docs_unigram_surprisal: ln() is IEEE libm on both engines and the
# per-doc mean is rounded to 4dp before the top-k order (ties broken
# by doc_id), so the float path is deterministic in practice — same
# stance as the other rounded-double oracles.
ORACLES["docs_unigram_surprisal"] = """
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


ORACLES["docs_quality_lr"] = _lr_oracle_sql()


N_BPE_MERGES = 8  # learned merge rounds for the tokenizer-training query


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


ORACLES["docs_bpe_merges"] = _bpe_oracle_sql()


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


# docs_bpe_encode: the training chain's final seq table, joined back
# to the exploded corpus — unit counts per word, aggregated per source.
ORACLES["docs_bpe_encode"] = (
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


# docs_bigram_surprisal: same determinism stance as unigram (IEEE ln +
# 4dp round before the ordered top-k). The interpolation arithmetic is
# written with the identical op order on both sides, all terms DOUBLE
# (0.8 would otherwise be DECIMAL in DuckDB), and DuckDB's `/` on
# BIGINTs already yields DOUBLE like Spark's.
ORACLES["docs_bigram_surprisal"] = f"""
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


# docs_collocations: integer counts, one ln per surviving pair over
# the identical (c12·N)/(c1·c2) double expression, 4dp round.
ORACLES["docs_collocations"] = f"""
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


# Mixture weights: pow(x, 0.7) is libm on both engines and the
# normalized ratio is rounded to 6dp — same float stance as surprisal.
ORACLES["docs_mixture_weights"] = """
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


def docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc intra-document repetition signals (Gopher-style quality
    cuts): duplicate-2-gram fraction + mode-token share. One Arrow pass
    for the counters, JVM arithmetic for the fractions."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.repetition_features(docs)


ORACLES["docs_repetition"] = """
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
        """


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


ORACLES["docs_pack_sequences"] = """
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
        """


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


# docs_chunk_overlap: the oracle replays the chunking contract —
# starts 0,48,96,… < n_tok, 64-token slices (clamped at the tail),
# md5 of the space-joined chunk.
ORACLES["docs_chunk_overlap"] = """
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


ORACLES["docs_stratified_exact_k"] = """
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
        """


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


# docs_weighted_sample: identical A-Res keys — u from the same 52-bit
# md5 prefix (+0.5, /2^52), the same single ln and divide. The float
# key stays internal on both sides; only id/weight/rank are hashed.
ORACLES["docs_weighted_sample"] = """
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


#: Training-order shuffle salt (docs_training_order).
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


# docs_training_order: a plain global row_number over the md5 key —
# equality with the engine's shard-offset + within-shard composition
# PROVES the sharded realization reconstructs the exact total order.
ORACLES["docs_training_order"] = """
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


ORACLES["vocab_top_terms"] = """
            WITH t AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
            )
            SELECT token, count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs
            FROM t GROUP BY 1
            ORDER BY n_occurrences DESC, token
            LIMIT 100
        """


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


_PII_VALUES = ", ".join(
    f"({i}, '{t}')" for (i, t, _lang, _src) in _PII_PLANTED
)


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


ORACLES["docs_pii_redact"] = f"""
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
        """.replace("{EMAIL}", TX.EMAIL_RE).replace("{PHONE}", TX.PHONE_RE)


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


ORACLES["docs_stratified_sample"] = """
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
        """


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


ORACLES["docs_distinctive_terms"] = f"""
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


ORACLES["docs_source_overlap_matrix"] = f"""
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


ORACLES["docs_curriculum_order"] = r"""
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


ORACLES["vocab_coverage"] = """
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


ORACLES["docs_zipf_fit"] = """
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


ORACLES["docs_heldout_perplexity"] = f"""
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


ORACLES["docs_token_budget"] = r"""
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

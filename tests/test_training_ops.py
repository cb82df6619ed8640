"""Unit pins for the round-3 training-data operators: decontamination
recall/precision on planted overlaps, repetition stats on analytic
inputs, PII detection/redaction on known strings, and sequence-packing
invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.operators import dedup as DD
from ecommerce_realtime_pipeline_spark.operators import text as TX

# md5-bucket membership (hash_split): 0-5 → train, 8/20/25/28 → test,
# 16/19 → val (computed from the same md5 prefix the operator uses).
TRAIN_IDS = [0, 1, 2, 3, 4, 5]
TEST_IDS = [8, 20, 25, 28]
VAL_IDS = [16, 19]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_flags_exactly_planted_overlap(spark):
    shared = "one two three four five six seven eight"  # one 8-gram
    rows = [
        (0, f"prefix {shared} suffix tokens here"),  # train, contaminated
        (1, "totally unrelated words in this training document ok"),
        (8, f"{shared} trailing eval content words"),  # test (source)
        (20, "clean eval document with its own words entirely"),
        (16, f"{shared} in the val split must not matter"),  # val ignored
    ]
    out = {r["doc_id"]: r["n_shared"] for r in DD.decontaminate(_docs(spark, rows), n=8).collect()}
    assert out == {0: 1}  # only the train doc, only the one shared 8-gram


def test_decontaminate_counts_distinct_shared_ngrams(spark):
    # 9 shared tokens → two overlapping shared 8-grams
    shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    rows = [(2, f"{shared} tail"), (8, f"head {shared}")]
    out = DD.decontaminate(_docs(spark, rows), n=8).collect()
    assert [(r["doc_id"], r["n_shared"]) for r in out] == [(2, 2)]


def test_repetition_features_analytic(spark):
    rows = [(1, "a a a a"), (2, "x y z w")]
    out = {r["doc_id"]: r for r in TX.repetition_features(_docs(spark, rows)).collect()}
    # "a a a a": 3 2-grams, 1 distinct → dup frac 1 - 1/3; top token 4/4
    assert out[1]["n_tokens"] == 4
    assert abs(out[1]["dup_2gram_frac"] - (1 - 1 / 3)) < 1e-6
    assert out[1]["top_token_frac"] == 1.0
    # all-distinct doc: no duplicate 2-grams, mode share 1/4
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[2]["top_token_frac"] == 0.25


def test_pii_counts_and_redaction_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "mail alice@example.com and bob.smith+x@mail.co ok"),
            (2, "call 555-123-4567 or +1 800-555-0100 now"),
            (3, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    n_em, n_ph = TX.pii_counts("text")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            n_em.alias("e"),
            n_ph.alias("p"),
            TX.redact_pii("text").alias("red"),
        ).collect()
    }
    assert (out[1]["e"], out[1]["p"]) == (2, 0)
    assert out[1]["red"] == "mail <EMAIL> and <EMAIL> ok"
    assert (out[2]["e"], out[2]["p"]) == (0, 2)
    assert out[2]["red"] == "call <PHONE> or +1 <PHONE> now"
    assert out[3]["red"] == "no pii here at all"


def test_pack_sequences_contiguity_invariants(spark, sf_dir):
    from ecommerce_realtime_pipeline_spark.plans.training import (
        PACK_WINDOW,
        docs_pack_sequences,
    )

    rows = docs_pack_sequences(spark, sf_dir).orderBy("lang", "doc_id").collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        cum = 0
        for r in rs:
            # spans derive from the running sum — no gaps, no overlap
            assert r["start_chunk"] == cum // PACK_WINDOW, (lang, r)
            assert r["end_chunk"] == (cum + r["n_tokens"] - 1) // PACK_WINDOW
            assert r["n_chunks"] == r["end_chunk"] - r["start_chunk"] + 1
            cum += r["n_tokens"]


def test_hash_bernoulli_deterministic_and_rate_honored(spark):
    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    kept1 = (
        df.filter(TX.hash_bernoulli("doc_id", 0.3)).agg(F.count("*")).collect()[0][0]
    )
    kept2 = (
        df.repartition(13)
        .filter(TX.hash_bernoulli("doc_id", 0.3))
        .agg(F.count("*"))
        .collect()[0][0]
    )
    assert kept1 == kept2  # pure function of the id — layout-independent
    assert abs(kept1 / 4000 - 0.3) < 0.03  # rate honored
    # column-rate form agrees with the scalar form per stratum
    rated = df.withColumn(
        "keep", TX.hash_bernoulli("doc_id", rate=F.lit(0.3))
    ).filter("keep")
    assert rated.count() == kept1


def test_random_projection_matches_numpy(spark):
    import numpy as np

    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM

    vecs = [(0, [0.5, -1.25, 2.0, 0.125]), (1, [1.0, 0.0, -0.5, 3.5])]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = SIM.random_projection(emb, out_dim=3, seed=7, dim=4).collect()
    P = np.asarray(SIM.hyperplanes(4, 3, 7))  # (out_dim, dim)
    expect = {
        (vid, j): float(np.asarray(v, dtype=np.float32).astype(np.float64) @ P[j])
        for vid, v in vecs
        for j in range(3)
    }
    assert len(out) == 6
    for r in out:
        assert abs(r["component"] - expect[(r["vec_id"], r["out_pos"])]) < 1e-6

"""Property tests for the exact-Jaccard verification tail: random
token sequences against plain-Python set arithmetic, plus the
ANSI-divide edge a fixture corpus never hits (two sub-n-token docs =
two empty shingle sets)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.operators import dedup as DD

_TOK = st.sampled_from(list("abcdefg"))  # tiny alphabet => real overlap
_DOC = st.lists(_TOK, min_size=0, max_size=12).map(" ".join)


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@given(_DOC, _DOC)
@settings(max_examples=15, deadline=None)
def test_verify_jaccard_matches_python_sets(spark, ta, tb):
    docs = spark.createDataFrame(
        [(1, ta), (2, tb)], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(2, 1)], "doc_a long, doc_b long")
    out = DD.verify_jaccard(cand, docs, threshold=0.0).collect()
    sa, sb = _shingles(ta), _shingles(tb)
    union = len(sa | sb)
    want = round(len(sa & sb) / union, 4) if union else 0.0
    assert len(out) == 1
    assert out[0]["jaccard"] == pytest.approx(want)


def test_verify_jaccard_empty_shingle_sets_is_zero(spark):
    """Two sub-n-token docs: Jaccard of two empty sets is 0 by
    convention — the bare 0/0 used to throw DIVIDE_BY_ZERO under ANSI
    (unreachable from the shipped candidate generators, but this is a
    general-purpose operator)."""
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "c d")], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(2, 1)], "doc_a long, doc_b long")
    out = DD.verify_jaccard(cand, docs, threshold=0.0).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in out] == [(2, 1, 0.0)]
    # and a positive threshold filters the pair instead of crashing
    assert DD.verify_jaccard(cand, docs, threshold=0.5).count() == 0


# -- text-index merge equivalence under random batches -----------------------

_XTOK = st.sampled_from(
    ["alpha", "beta", "g:h", "50%", "x=y", "#tag", "q?z", "p*q", "a[b]", "w"]
)
_XDOC = st.lists(_XTOK, min_size=1, max_size=6).map(" ".join)


@given(
    st.lists(_XDOC, min_size=1, max_size=5),
    st.lists(_XDOC, min_size=1, max_size=5),
)
@settings(max_examples=8, deadline=None)
def test_merge_text_index_equals_rebuild_random(spark, tmp_path_factory, da, db):
    """Randomized twin of the deterministic merge-equivalence test,
    over an alphabet that stresses Spark's partition-value escaping
    (':', '%', '=', '#', '?', '*', brackets): folding batch B into an
    index built from batch A must equal one build over A ∪ B in all
    three components — the r8 segment-append merge (immutable
    segments + atomic manifest flip) holds under arbitrary batch
    splits and arbitrary partition-value escapes."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        merge_text_index,
        read_text_index,
        write_text_index,
    )

    tmp = tmp_path_factory.mktemp("midx")
    mk = lambda rows, base: spark.createDataFrame(  # noqa: E731
        [(base + i, t, "en", "s", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    inc, full = str(tmp / "inc"), str(tmp / "full")
    write_text_index(mk(da, 0), inc)
    merge_text_index(mk(db, 1000), inc)
    write_text_index(
        mk(da, 0).unionByName(mk(db, 1000)), full
    )
    for got_df, want_df in zip(
        read_text_index(spark, inc), read_text_index(spark, full)
    ):
        got = sorted(tuple(r) for r in got_df.collect())
        want = sorted(tuple(r) for r in want_df.collect())
        assert got == want


def test_empty_corpus_contracts_are_loud_and_clear(spark, tmp_path):
    """Empty-corpus audit: every ANN/index entry point must fail
    with a CLEAR contract error, not an obscure numpy AxisError /
    NoneType subscript / unreadable-index AnalysisException. That
    includes a text corpus whose rows yield no postings (all-NULL
    text): nothing is published, where an index with no token
    directory would fail on read with UNABLE_TO_INFER_SCHEMA."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
    from ecommerce_realtime_pipeline_spark.operators.text import write_text_index

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="corpus is empty"):
        SIM.embedding_dim(empty_emb)
    with pytest.raises(ValueError, match="empty training corpus"):
        SIM.ivf_centroids(empty_emb, 4)
    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    with pytest.raises(ValueError, match="empty corpus"):
        write_text_index(empty_docs, "/tmp/should_never_exist_idx")
    null_text = spark.createDataFrame(
        [(1, None, "en", "s", 0), (2, None, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="empty corpus"):
        write_text_index(null_text, path)
    assert not indexfmt.has_index(path)

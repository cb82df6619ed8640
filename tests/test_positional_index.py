"""Positional index (phrase / proximity search) operator tests.

The positions plane next to the BM25 index's docid/freq/norm triple:
build / incremental merge / multi-segment read under the shared
atomic-manifest protocol, the k-way aligned phrase join (including
repeated phrase terms), ordered proximity windows, and the plan pin
that keeps the serve a |terms|-directory seek.
"""

import re

import pytest
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.operators import indexfmt
from ecommerce_realtime_pipeline_spark.operators.text import (
    POS_INDEX_FORMAT,
    merge_positional_index,
    phrase_occurrences,
    positional_postings,
    proximity_pairs,
    read_positional_index,
    write_positional_index,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows], DOC_SCHEMA
    )


def _py_phrase(rows, phrase):
    """Reference scan: one (doc_id, start) per exact occurrence."""
    out = []
    k = len(phrase)
    for doc_id, text in rows:
        toks = text.split(" ")
        for s in range(len(toks) - k + 1):
            if toks[s : s + k] == list(phrase):
                out.append((doc_id, s))
    return sorted(out)


def _py_prox(rows, first, second, slop):
    out = []
    for doc_id, text in rows:
        toks = text.split(" ")
        for i, t1 in enumerate(toks):
            if t1 != first:
                continue
            for j in range(i + 1, min(i + slop + 1, len(toks))):
                if toks[j] == second:
                    out.append((doc_id, i, j - i))
    return sorted(out)


ROWS = [
    (1, "a b c a b a"),
    (2, "b b b a"),
    (3, "x y z"),
    (4, "a b"),
    (5, "b a b c"),
]


def test_phrase_occurrences_matches_reference_scan(spark):
    docs = _docs(spark, ROWS)
    post = positional_postings(docs)
    got = sorted(
        (r["doc_id"], r["p0"])
        for r in phrase_occurrences(post, ["a", "b"]).collect()
    )
    assert got == _py_phrase(ROWS, ("a", "b"))


def test_phrase_occurrences_repeated_term(spark):
    """'b b' — both legs read the SAME filtered set; alignment must
    still count overlapping occurrences (doc 2 has starts 0 and 1)."""
    docs = _docs(spark, ROWS)
    post = positional_postings(docs)
    got = sorted(
        (r["doc_id"], r["p0"])
        for r in phrase_occurrences(post, ["b", "b"]).collect()
    )
    assert got == _py_phrase(ROWS, ("b", "b"))
    assert (2, 0) in got and (2, 1) in got


def test_phrase_occurrences_three_terms(spark):
    docs = _docs(spark, ROWS)
    post = positional_postings(docs)
    got = sorted(
        (r["doc_id"], r["p0"])
        for r in phrase_occurrences(post, ["a", "b", "c"]).collect()
    )
    assert got == _py_phrase(ROWS, ("a", "b", "c"))
    assert got  # fixture sanity: docs 1 and (not 5: 'b a b c') match


def test_phrase_occurrences_empty_phrase_refused(spark):
    docs = _docs(spark, ROWS)
    with pytest.raises(ValueError, match="empty phrase"):
        phrase_occurrences(positional_postings(docs), [])


def test_proximity_pairs_matches_reference_scan(spark):
    docs = _docs(spark, ROWS)
    post = positional_postings(docs)
    got = sorted(
        (r["doc_id"], r["p1"], r["gap"])
        for r in proximity_pairs(post, "a", "b", 2).collect()
    )
    assert got == _py_prox(ROWS, "a", "b", 2)
    # ordered: 'b a' at gap -1 in doc 5 must NOT match
    assert all(g >= 1 for _, _, g in got)


def test_write_read_roundtrip_and_merge_equals_fresh(spark, tmp_path):
    """Build half + merge half reads back EXACTLY the fresh-build
    postings over the union (segment append ≡ consolidation), with the
    manifest showing 2 segments and a bumped version."""
    docs = _docs(spark, ROWS)
    inc = str(tmp_path / "inc")
    write_positional_index(docs.filter(F.col("doc_id") <= 2), inc)
    n_segs = merge_positional_index(docs.filter(F.col("doc_id") > 2), inc)
    assert n_segs == 2
    m = indexfmt.read_manifest(inc, POS_INDEX_FORMAT)
    assert m["version"] == 2 and len(m["segments"]) == 2
    fresh = str(tmp_path / "fresh")
    write_positional_index(docs, fresh)
    key = lambda r: (r["token"], r["doc_id"], r["pos"])  # noqa: E731
    assert sorted(
        map(key, read_positional_index(spark, inc).collect())
    ) == sorted(map(key, read_positional_index(spark, fresh).collect()))


def test_empty_corpus_write_refused(spark, tmp_path):
    with pytest.raises(ValueError, match="empty corpus"):
        write_positional_index(
            _docs(spark, []), str(tmp_path / "idx")
        )


def test_merge_empty_batch_is_noop(spark, tmp_path):
    path = str(tmp_path / "idx")
    write_positional_index(_docs(spark, ROWS), path)
    assert merge_positional_index(_docs(spark, []), path) == 1
    assert indexfmt.read_manifest(path, POS_INDEX_FORMAT)["version"] == 1


def test_phrase_serve_prunes_token_partitions(spark, tmp_path):
    """The seek property: with the phrase's terms filtered, EVERY
    segment scan carries token PartitionFilters — a k-term phrase
    touches k directories per segment out of |vocab|."""
    docs = _docs(
        spark, [(i, f"tok{i % 30} a b filler{i % 7}") for i in range(120)]
    )
    path = str(tmp_path / "idx")
    write_positional_index(docs.filter(F.col("doc_id") < 60), path)
    merge_positional_index(docs.filter(F.col("doc_id") >= 60), path)
    post = read_positional_index(spark, path).filter(
        F.col("token").isin("a", "b")
    )
    plan = (
        phrase_occurrences(post, ["a", "b"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    seg_filters = [
        f
        for f in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if f.strip()
    ]
    # 2 legs × 2 segments = 4 partition-filtered scans
    assert len(seg_filters) == 4 and all("token" in f for f in seg_filters), (
        plan[:900]
    )
    assert "CartesianProduct" not in plan


def test_read_rejects_foreign_format(spark, tmp_path):
    """A positional read must refuse a TEXT-index directory (manifest
    format mismatch), not silently scan the wrong schema."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        write_text_index,
    )

    path = str(tmp_path / "tidx")
    write_text_index(_docs(spark, ROWS), path)
    with pytest.raises(ValueError, match="format"):
        read_positional_index(spark, path)


# -- delete / compact lifecycle ----------------------------------------------


def _lifecycle_imports():
    from ecommerce_realtime_pipeline_spark.operators.text import (
        compact_positional_index,
        delete_from_positional_index,
    )

    return delete_from_positional_index, compact_positional_index


def test_delete_masks_phrase_results_immediately(spark, tmp_path):
    delete_from_positional_index, _ = _lifecycle_imports()
    path = str(tmp_path / "idx")
    write_positional_index(_docs(spark, ROWS), path)
    # doc 1 matches 'a b' twice; tombstone it
    n = delete_from_positional_index(
        spark.createDataFrame([(1,)], "doc_id long"), path
    )
    assert n == 1
    post = read_positional_index(spark, path)
    got = sorted(
        (r["doc_id"], r["p0"])
        for r in phrase_occurrences(post, ["a", "b"]).collect()
    )
    assert got == [t for t in _py_phrase(ROWS, ("a", "b")) if t[0] != 1]
    assert indexfmt.read_manifest(path, POS_INDEX_FORMAT)["version"] == 2


def test_delete_then_compact_equals_fresh_build_over_survivors(
    spark, tmp_path
):
    delete_from_positional_index, compact_positional_index = (
        _lifecycle_imports()
    )
    path = str(tmp_path / "idx")
    write_positional_index(_docs(spark, ROWS[:3]), path)
    merge_positional_index(_docs(spark, ROWS[3:]), path)
    delete_from_positional_index(
        spark.createDataFrame([(2,), (4,)], "doc_id long"), path
    )
    assert compact_positional_index(spark, path) == 2
    m = indexfmt.read_manifest(path, POS_INDEX_FORMAT)
    assert len(m["segments"]) == 1 and not m.get("tombstones")
    fresh = str(tmp_path / "fresh")
    write_positional_index(
        _docs(spark, [r for r in ROWS if r[0] not in (2, 4)]), fresh
    )
    key = lambda r: (r["token"], r["doc_id"], r["pos"])  # noqa: E731
    assert sorted(
        map(key, read_positional_index(spark, path).collect())
    ) == sorted(map(key, read_positional_index(spark, fresh).collect()))


def test_compact_refuses_empty_survivor_set(spark, tmp_path):
    delete_from_positional_index, compact_positional_index = (
        _lifecycle_imports()
    )
    path = str(tmp_path / "idx")
    write_positional_index(_docs(spark, ROWS[:2]), path)
    delete_from_positional_index(
        spark.createDataFrame([(1,), (2,)], "doc_id long"), path
    )
    with pytest.raises(ValueError, match="tombstoned"):
        compact_positional_index(spark, path)


def test_max_deleted_ratio_triggers_inline_compaction(spark, tmp_path):
    delete_from_positional_index, _ = _lifecycle_imports()
    path = str(tmp_path / "idx")
    write_positional_index(_docs(spark, ROWS), path)
    # 2 of 5 docs dead = 0.4 > 0.3 → inline compaction fires
    delete_from_positional_index(
        spark.createDataFrame([(1,), (3,)], "doc_id long"),
        path,
        max_deleted_ratio=0.3,
    )
    m = indexfmt.read_manifest(path, POS_INDEX_FORMAT)
    assert len(m["segments"]) == 1 and not m.get("tombstones")
    assert {
        r["doc_id"]
        for r in read_positional_index(spark, path)
        .select("doc_id")
        .distinct()
        .collect()
    } == {2, 4, 5}


def test_deleted_ratio_counts_only_live_distinct_ids(spark, tmp_path):
    """Foreign ids and re-deletes must NOT inflate n_dead (the
    accounting bug the r10 advice fixed on the sibling families):
    deleting 100 ids the index never held leaves the policy silent."""
    delete_from_positional_index, _ = _lifecycle_imports()
    path = str(tmp_path / "idx")
    write_positional_index(_docs(spark, ROWS), path)
    foreign = spark.createDataFrame(
        [(i,) for i in range(1000, 1100)], "doc_id long"
    )
    delete_from_positional_index(foreign, path, max_deleted_ratio=0.3)
    m = indexfmt.read_manifest(path, POS_INDEX_FORMAT)
    # no live doc died → no compaction; tombstone child recorded
    assert len(m["segments"]) == 1 and len(m["tombstones"]) == 1
    # the policy is still alive afterwards: a REAL 2/5 delete compacts
    delete_from_positional_index(
        spark.createDataFrame([(1,), (3,)], "doc_id long"),
        path,
        max_deleted_ratio=0.3,
    )
    m = indexfmt.read_manifest(path, POS_INDEX_FORMAT)
    assert not m.get("tombstones")


def test_retained_generation_serves_across_compaction(spark, tmp_path):
    """Concurrent-reader retention at the SERVING surface (the per-
    family end-to-end pin the r9 verdict asked for on text/IVF,
    extended to the positional family): a reader that resolved
    version v before a delete→compact keeps serving v's complete
    pre-delete results — generation snapshots + vacuum sparing."""
    delete_from_positional_index, compact_positional_index = (
        _lifecycle_imports()
    )
    path = str(tmp_path / "idx")
    write_positional_index(_docs(spark, ROWS), path)
    before = sorted(
        (r["doc_id"], r["p0"])
        for r in phrase_occurrences(
            read_positional_index(spark, path, version=1), ["a", "b"]
        ).collect()
    )
    delete_from_positional_index(
        spark.createDataFrame([(1,)], "doc_id long"), path
    )
    compact_positional_index(spark, path)  # vacuums unreferenced
    after_v1 = sorted(
        (r["doc_id"], r["p0"])
        for r in phrase_occurrences(
            read_positional_index(spark, path, version=1), ["a", "b"]
        ).collect()
    )
    assert after_v1 == before == _py_phrase(ROWS, ("a", "b"))


def test_docs_sidecar_tracks_live_plane(spark, tmp_path):
    """Every mutation maintains the |docs|-row doc-id sidecar (the
    live plane that keeps the delete-policy check off the |tokens|-row
    positional plane): write, merge, and compact each leave sidecar
    tables whose union equals the distinct doc_ids in the segments."""
    delete_from_positional_index, compact_positional_index = (
        _lifecycle_imports()
    )
    path = str(tmp_path / "idx")
    write_positional_index(_docs(spark, ROWS[:3]), path)
    merge_positional_index(_docs(spark, ROWS[3:]), path)

    def sidecar_ids():
        m = indexfmt.read_manifest(path, POS_INDEX_FORMAT)
        assert m.get("docs"), "sidecar missing"
        ids = set()
        for t in m["docs"]:
            ids |= {
                r["doc_id"] for r in spark.read.parquet(f"{path}/{t}").collect()
            }
        return ids

    assert sidecar_ids() == {1, 2, 3, 4, 5}
    delete_from_positional_index(
        spark.createDataFrame([(2,)], "doc_id long"), path
    )
    compact_positional_index(spark, path)
    assert sidecar_ids() == {1, 3, 4, 5}


def test_randomized_corpus_matches_reference_scan(spark):
    """Seeded random corpus over a 3-letter alphabet (maximum overlap
    density — repeated terms, self-overlapping phrases, slop windows
    crossing phrase hits) checked against the pure-Python scan for
    every 2- and 3-gram phrase over the alphabet and both proximity
    directions."""
    import itertools
    import random

    rng = random.Random(7)
    rows = [
        (i, " ".join(rng.choice("aab") for _ in range(rng.randint(1, 12))))
        for i in range(200)
    ]
    post = positional_postings(_docs(spark, rows)).localCheckpoint()
    for phrase in list(itertools.product("ab", repeat=2)) + list(
        itertools.product("ab", repeat=3)
    ):
        got = sorted(
            (r["doc_id"], r["p0"])
            for r in phrase_occurrences(post, list(phrase)).collect()
        )
        assert got == _py_phrase(rows, phrase), phrase
    for first, second, slop in [("a", "b", 1), ("a", "b", 4), ("b", "a", 2)]:
        got = sorted(
            (r["doc_id"], r["p1"], r["gap"])
            for r in proximity_pairs(post, first, second, slop).collect()
        )
        assert got == _py_prox(rows, first, second, slop), (first, second, slop)


def test_phrase_occurrences_bulk_matches_per_phrase_path(spark):
    """The one-join set-driven matcher must agree with the k-way
    aligned join for every phrase in a mixed batch — including a
    repeated-term phrase ('b b') and phrases sharing tokens."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        phrase_occurrences_bulk,
    )

    batch = [("a b",), ("b b",), ("a b c",), ("b a",)]
    rows = []
    for (ph,) in batch:
        ws = ph.split()
        for i, w in enumerate(ws):
            rows.append((ph, i, w, len(ws)))
    phrases = spark.createDataFrame(
        rows, "phrase string, slot int, token string, n_slots int"
    )
    post = positional_postings(_docs(spark, ROWS)).localCheckpoint()
    got = sorted(
        (r["phrase"], r["doc_id"], r["p0"])
        for r in phrase_occurrences_bulk(post, phrases).collect()
    )
    want = sorted(
        (ph, doc, p0)
        for (ph,) in batch
        for doc, p0 in _py_phrase(ROWS, tuple(ph.split()))
    )
    assert got == want


def test_bulk_token_read_fires_dpp_on_every_segment(spark, tmp_path):
    """The bulk serving claim pinned: a DataFrame-valued token set
    (a phrase batch's slots) must reach every positional segment scan
    as a dynamic partition pruning filter — without it the scan reads
    all |vocab| directories."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        read_positional_postings_for_tokens,
    )

    docs = _docs(
        spark, [(i, f"tok{i % 30} a b filler{i % 7}") for i in range(120)]
    )
    path = str(tmp_path / "idx")
    write_positional_index(docs.filter(F.col("doc_id") < 60), path)
    merge_positional_index(docs.filter(F.col("doc_id") >= 60), path)
    dt = spark.createDataFrame([("a",), ("b",)], "token string").distinct()
    out = read_positional_postings_for_tokens(spark, path, dt)
    plan = out._jdf.queryExecution().executedPlan().toString()
    dpp = [
        f
        for f in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if "dynamicpruning" in f
    ]
    assert len(dpp) == 2, plan[:900]
    # and the read is correct: only the requested tokens come back
    assert {r["token"] for r in out.select("token").distinct().collect()} == {
        "a",
        "b",
    }


def test_max_segments_triggers_inline_compaction(spark, tmp_path):
    """Tiered-merge POLICY parity with the text/IVF families (r11):
    merges under max_segments=2 consolidate inline once a third live
    segment would appear, and the post-policy serve is hash-identical
    to a fresh build over the union — appending ≡ consolidating."""
    path = str(tmp_path / "idx")
    batches = [ROWS[:2], ROWS[2:4], ROWS[4:]]
    write_positional_index(_docs(spark, batches[0]), path)
    assert merge_positional_index(_docs(spark, batches[1]), path, 2) == 2
    # third segment would exceed the cap → inline compaction → 1
    assert merge_positional_index(_docs(spark, batches[2]), path, 2) == 1
    m = indexfmt.read_manifest(path, POS_INDEX_FORMAT)
    assert len(m["segments"]) == 1 and not m.get("tombstones")
    fresh = str(tmp_path / "fresh")
    write_positional_index(_docs(spark, ROWS), fresh)
    key = lambda r: (r["token"], r["doc_id"], r["pos"])  # noqa: E731
    assert sorted(
        map(key, read_positional_index(spark, path).collect())
    ) == sorted(map(key, read_positional_index(spark, fresh).collect()))
    # the retained pre-compaction generation still serves completely
    # (inline policy must be as reader-safe as a manual compaction)
    prev = int(m["version"]) - 1
    assert sorted(
        map(key, read_positional_index(spark, path, version=prev).collect())
    ) == sorted(map(key, read_positional_index(spark, path).collect()))


def test_writers_reject_null_empty_tokens(spark, tmp_path):
    """tokens('') yields [''], and partitionBy('token') writes it as
    __HIVE_DEFAULT_PARTITION__ → NULL on read-back — unreachable by
    any term or phrase equality yet counted by the stats aggregates
    (the text index's dfreq would keep a '' row matching no posting).
    Both positional writers and the text writer must fail loudly,
    like merge_text_index, and publish nothing."""
    from ecommerce_realtime_pipeline_spark.operators.text import write_text_index

    path = str(tmp_path / "idx")
    bad = _docs(spark, [(1, "a b"), (2, "")])
    with pytest.raises(ValueError, match="NULL/empty tokens"):
        write_positional_index(bad, path)
    assert not indexfmt.has_index(path)  # nothing half-published
    text_path = str(tmp_path / "text")
    with pytest.raises(ValueError, match="NULL/empty tokens"):
        write_text_index(bad, text_path)
    assert not indexfmt.has_index(text_path)
    write_positional_index(_docs(spark, ROWS), path)
    v = indexfmt.read_manifest(path, POS_INDEX_FORMAT)["version"]
    with pytest.raises(ValueError, match="NULL/empty tokens"):
        merge_positional_index(_docs(spark, [(9, "")]), path)
    assert indexfmt.read_manifest(path, POS_INDEX_FORMAT)["version"] == v


def test_proximity_boost_position_leg_is_topk_bounded(spark):
    """docs_bm25_proximity_boost_indexed (r12 rewire): the position
    leg must (a) reach the positional plane through TERM-DICTIONARY
    SEEKS — one direct ``token=<term>`` directory scan per (term,
    segment), NO partition discovery and therefore no PartitionFilters
    left to prune — and (b) be masked down to the BM25 top-k doc ids
    by a BROADCAST semi-join BEFORE the band join — bounded by k,
    never a corpus-scale position scan — with no cartesian product
    anywhere."""
    from ecommerce_realtime_pipeline_spark.plans import textsearch

    df = textsearch.docs_bm25_proximity_boost_indexed(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # seek property: every positional scan is a single per-term
    # directory (its Location path carries token=<term>), and nothing
    # needs PartitionFilters because each scan IS one directory
    tok_dirs = re.findall(r"token%3D|token=", plan)
    assert len(tok_dirs) >= 2, plan[:900]
    assert not [
        f
        for f in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if f.strip()
    ], plan[:900]
    assert "LeftSemi" in plan and "Broadcast" in plan, plan[:900]
    assert "CartesianProduct" not in plan
    # the boost is non-vacuous on the shipped corpus: some top-20 docs
    # carry a real gap (and therefore outrank bag-of-words ties)
    rows = df.collect()
    assert len(rows) == 20 and any(r["min_gap"] > 0 for r in rows)


def test_seek_equals_pruned_read_across_segments_and_tombstones(spark, tmp_path):
    """seek_positional_tokens (r11 — the term-dictionary seek that
    skips the |vocab|-linear partition discovery) must be row-for-row
    identical to read_positional_index(...).filter(token.isin(terms))
    on a multi-segment index with live tombstones, including a term
    missing from one segment and a term missing everywhere."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        delete_from_positional_index,
        seek_positional_tokens,
    )

    path = str(tmp_path / "idx")
    write_positional_index(_docs(spark, ROWS[:3]), path)  # has x/y/z
    merge_positional_index(_docs(spark, ROWS[3:]), path)  # no x/y/z
    delete_from_positional_index(
        spark.createDataFrame([(2,)], "doc_id long"), path
    )
    key = lambda r: (r["token"], r["doc_id"], r["pos"])  # noqa: E731
    # the repeated-term lists are the r11 ADVICE regression: a phrase
    # like "the end of the end" passes the SAME term twice, and the
    # seek must NOT duplicate that term's rows (isin dedups by
    # construction; the seek dedups via dict.fromkeys)
    for terms in (
        ["a", "b"],
        ["x", "b"],
        ["nope"],
        ["x", "nope"],
        ["a", "b", "a"],
        ["b", "b"],
    ):
        got = sorted(
            map(key, seek_positional_tokens(spark, path, terms).collect())
        )
        want = sorted(
            map(
                key,
                read_positional_index(spark, path)
                .filter(F.col("token").isin(*terms))
                .collect(),
            )
        )
        assert got == want, terms
    # retained-generation seek (time travel parity with the reader)
    pre = seek_positional_tokens(spark, path, ["a"], version=2)
    assert {r["doc_id"] for r in pre.collect()} >= {2}  # pre-delete


def test_seek_text_postings_equals_pruned_read(spark, tmp_path):
    """The BM25 twin: seek_text_postings ≡ the pruned multi-segment
    postings read, tombstones masked."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        delete_from_text_index,
        merge_text_index,
        read_text_index,
        seek_text_postings,
        write_text_index,
    )

    path = str(tmp_path / "tidx")
    write_text_index(_docs(spark, ROWS[:3]), path)
    merge_text_index(_docs(spark, ROWS[3:]), path)
    delete_from_text_index(
        spark.createDataFrame([(5,)], "doc_id long"), path
    )
    postings, _, _ = read_text_index(spark, path)
    key = lambda r: (r["token"], r["doc_id"], r["tf"], r["dl"])  # noqa: E731
    for terms in (["a", "b"], ["x", "nope"], ["nope"], ["a", "a", "b"]):
        got = sorted(
            map(key, seek_text_postings(spark, path, terms).collect())
        )
        want = sorted(
            map(
                key,
                postings.filter(F.col("token").isin(*terms))
                .select("token", "doc_id", "tf", "dl")
                .collect(),
            )
        )
        assert got == want, terms


def test_wide_seek_takes_listing_branch_and_stays_row_identical(
    spark, tmp_path, monkeypatch
):
    """A term list wider than indexfmt.SEEK_LIST_THRESHOLD must route
    through the BATCHED one-listing-per-segment probe (r13 — proven
    by making the per-directory dir_exists explode) and stay
    row-identical to the pruned read, absent terms skipped."""
    from ecommerce_realtime_pipeline_spark.operators import indexfmt
    from ecommerce_realtime_pipeline_spark.operators.text import (
        read_text_index,
        seek_text_postings,
        write_text_index,
    )

    rows = [(i, " ".join(f"t{j}" for j in range(i + 1))) for i in range(12)]
    path = str(tmp_path / "tidx")
    write_text_index(_docs(spark, rows), path)
    terms = [f"t{j}" for j in range(10)] + ["nope_a", "nope_b"]  # 12 > 8
    monkeypatch.setattr(
        indexfmt,
        "dir_exists",
        lambda *_: (_ for _ in ()).throw(AssertionError("HEAD probe used")),
    )
    got = sorted(
        (r["token"], r["doc_id"], r["tf"], r["dl"])
        for r in seek_text_postings(spark, path, terms).collect()
    )
    monkeypatch.undo()
    postings, _, _ = read_text_index(spark, path)
    want = sorted(
        (r["token"], r["doc_id"], r["tf"], r["dl"])
        for r in postings.filter(F.col("token").isin(*terms)).collect()
    )
    assert got == want and len(got) > 0


def test_seek_escapes_partition_values_like_the_writer(spark, tmp_path):
    """Spark percent-escapes special characters in partition directory
    names (token 'a/b' → dir 'token=a%2Fb'); a seek built from the RAW
    token would silently miss those rows while the pruned read finds
    them. The seek must escape writer-exactly — and the Python
    fallback must agree with the JVM escaper."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        _escape_partition_value,
        seek_positional_tokens,
    )

    nasty = [(1, "a/b a:b x%y plain"), (2, "a/b plain")]
    path = str(tmp_path / "idx")
    write_positional_index(_docs(spark, nasty), path)
    key = lambda r: (r["token"], r["doc_id"], r["pos"])  # noqa: E731
    for terms in (["a/b"], ["a:b", "x%y"], ["a/b", "plain"]):
        got = sorted(
            map(key, seek_positional_tokens(spark, path, terms).collect())
        )
        want = sorted(
            map(
                key,
                read_positional_index(spark, path)
                .filter(F.col("token").isin(*terms))
                .collect(),
            )
        )
        assert got == want and got, terms  # non-empty: rows were found
    # fallback parity with the JVM escaper on the full nasty charset
    class _NoJvm:
        class _jvm:  # noqa: N801 — attribute access raises
            def __getattr__(self, _):
                raise RuntimeError("no jvm")

        _jvm = _jvm()

    for t in ["a/b", "a:b", "x%y", 'q"w', "a=b", "a#b", "br[ck]", "p^q"]:
        jvm = _escape_partition_value(spark, t)
        py = _escape_partition_value(_NoJvm(), t)
        assert jvm == py, (t, jvm, py)

def test_repeated_term_phrase_via_seek_matches_reference(spark, tmp_path):
    """A phrase with a REPEATED word ("a b a") served through the
    term-dictionary seek — the r11 ADVICE scenario: before the
    dict.fromkeys dedup, the duplicated term's postings appeared twice
    and every occurrence count silently multiplied. The k-way aligned
    join over the seeked postings must match the reference scan
    exactly, across a segment boundary."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        seek_positional_tokens,
    )

    path = str(tmp_path / "idx")
    write_positional_index(_docs(spark, ROWS[:3]), path)
    merge_positional_index(_docs(spark, ROWS[3:]), path)
    phrase = ["a", "b", "a"]
    got = sorted(
        (r["doc_id"], r["p0"])
        for r in phrase_occurrences(
            seek_positional_tokens(spark, path, phrase), phrase
        ).collect()
    )
    assert got == _py_phrase(ROWS, tuple(phrase)) and got


def test_indexed_phrase_serve_plan_is_term_seeks(spark, tmp_path):
    """The r12 serving-plan pin: the registered indexed phrase serve
    reads the positional plane through DIRECT per-term directory scans
    (one ``token=<term>`` path per (term, live segment)) with NO
    PartitionFilters anywhere — partition discovery never runs, so
    there is nothing left to prune. This replaces the r10/r11
    PartitionFilters pin as the seek property's plan-level witness."""
    from ecommerce_realtime_pipeline_spark.operators.text import (
        phrase_occurrences as occ_fn,
    )
    from ecommerce_realtime_pipeline_spark.operators.text import (
        seek_positional_tokens,
    )

    docs = _docs(
        spark, [(i, f"tok{i % 30} a b filler{i % 7}") for i in range(120)]
    )
    path = str(tmp_path / "idx")
    write_positional_index(docs.filter(F.col("doc_id") < 60), path)
    merge_positional_index(docs.filter(F.col("doc_id") >= 60), path)
    post = seek_positional_tokens(spark, path, ["a", "b"])
    # the scan's input set IS the seeked term directories: 2 terms x
    # 2 segments = 4 directories, nothing else (inputFiles carries the
    # full untruncated paths the plan string would cut)
    dirs = {re.sub(r"/[^/]*$", "", f) for f in post.inputFiles()}
    assert len(dirs) == 4 and all("/token=" in d for d in dirs), dirs
    plan = (
        occ_fn(post, ["a", "b"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not [
        f
        for f in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if f.strip()
    ], plan[:900]
    assert "CartesianProduct" not in plan

"""Streaming integration tests (SURVEY §2.7): file-source ingest with
watermarked offset dedup, exactly-once counts after a replayed
duplicate batch, last-write-wins upsert, listener-captured processing
stats, offset bookkeeping — mirrors the intent of the reference's
tests/integration/test_producer_integration.py:133-240."""

from __future__ import annotations

import json
import os

import pytest

from ecommerce_realtime_pipeline_spark.plans import fixtures as FX
from ecommerce_realtime_pipeline_spark.streaming import ingest as I

TS = "2025-01-01T00:00:00Z"


def _envelope_line(offset, cid, email, updated=TS, partition=0, topic="customers"):
    payload = json.dumps(
        {
            "customer_id": cid,
            "email": email,
            "name": "A",
            "created_at": TS,
            "updated_at": updated,
        }
    )
    return json.dumps(
        {
            "topic": topic,
            "topic_partition": partition,
            "topic_offset": offset,
            "message_key": cid,
            "payload": payload,
            "consumed_at": TS,
        }
    )


def _write_file(dirpath, name, lines):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.fixture()
def dirs(tmp_path):
    return {
        "src": str(tmp_path / "src"),
        "silver": str(tmp_path / "silver"),
        "ckpt": str(tmp_path / "ckpt"),
        "offsets": str(tmp_path / "offsets"),
    }


def _run(spark, dirs):
    q = I.run_ingest(
        spark,
        dirs["src"],
        "customers",
        dirs["silver"],
        dirs["ckpt"],
        offsets_path=dirs["offsets"],
    )
    q.awaitTermination(120)


def test_exactly_once_and_upsert(spark, dirs):
    # batch 1: three customers, duplicate offset inside the batch
    _write_file(
        dirs["src"],
        "b1.json",
        [
            _envelope_line(1, "c1", "c1@x.com"),
            _envelope_line(2, "c2", "c2@x.com"),
            _envelope_line(2, "c2", "c2-replay@x.com"),  # duplicate offset
            _envelope_line(3, "c3", "c3@x.com"),
        ],
    )
    _run(spark, dirs)
    silver = spark.read.parquet(dirs["silver"])
    assert silver.count() == 3  # offset dedup dropped the replay
    assert {r["customer_id"] for r in silver.collect()} == {"c1", "c2", "c3"}

    # batch 2: replay of batch-1 rows (same offsets) + one genuine update
    _write_file(
        dirs["src"],
        "b2.json",
        [
            _envelope_line(1, "c1", "c1@x.com"),  # exact replay
            _envelope_line(9, "c1", "c1-new@x.com", updated="2025-02-01T00:00:00Z"),
        ],
    )
    _run(spark, dirs)
    silver = spark.read.parquet(dirs["silver"])
    rows = {r["customer_id"]: r for r in silver.collect()}
    assert silver.count() == 3  # replays did not duplicate
    assert rows["c1"]["email"] == "c1-new@x.com"  # last-write-wins (R4)
    assert rows["c1"]["inserted_at"] is not None  # audit stamp (R10)

    # offsets bookkeeping (R19)
    offs = {
        (r["topic"], r["partition_id"]): r["offset_committed"]
        for r in spark.read.parquet(dirs["offsets"]).collect()
    }
    assert offs[("customers", 0)] == 9


def test_listener_captures_progress(spark, dirs):
    listener = I.StatsListener("customers_silver")
    spark.streams.addListener(listener)
    try:
        _write_file(dirs["src"], "b1.json", [_envelope_line(1, "c1", "c1@x.com")])
        _run(spark, dirs)
    finally:
        spark.streams.removeListener(listener)
    stats = listener.to_df(spark)
    rows = stats.collect()
    assert len(rows) >= 1
    assert rows[0]["table_name"] == "customers_silver"
    assert sum(r["records_processed"] for r in rows) >= 1
    assert all(r["batch_timestamp"] is not None for r in rows)


def _event_line(offset, eid, etype, ts=TS, partition=0):
    payload = json.dumps(
        {
            "event_id": eid,
            "event_type": etype,
            "customer_id": "c1",
            "timestamp": ts,
        }
    )
    return json.dumps(
        {
            "topic": "events",
            "topic_partition": partition,
            "topic_offset": offset,
            "message_key": eid,
            "payload": payload,
            "consumed_at": TS,
        }
    )


def test_events_ingest_orders_by_timestamp(spark, dirs):
    """Events have no updated_at; the per-entity ORDER_COLS map must
    route last-write-wins through the immutable event timestamp."""
    _write_file(
        dirs["src"],
        "b1.json",
        [
            _event_line(1, "e1", "page_view"),
            _event_line(2, "e2", "purchase"),
            _event_line(3, "e1", "cart_add", ts="2025-02-01T00:00:00Z"),
        ],
    )
    q = I.run_ingest(spark, dirs["src"], "events", dirs["silver"], dirs["ckpt"])
    q.awaitTermination(120)
    silver = I.read_silver(spark, dirs["silver"])
    rows = {r["event_id"]: r for r in silver.collect()}
    assert silver.count() == 2
    assert rows["e1"]["event_type"] == "cart_add"  # newest timestamp wins


def _bucket_file_state(silver_dir):
    """{bucket_dir: {relative_file: sha256}} for every bucket=N dir."""
    import hashlib

    state = {}
    for sub in os.listdir(silver_dir):
        if not sub.startswith("bucket="):
            continue
        files = {}
        subpath = os.path.join(silver_dir, sub)
        for root, _, names in os.walk(subpath):
            for name in names:
                p = os.path.join(root, name)
                with open(p, "rb") as f:
                    files[os.path.relpath(p, subpath)] = hashlib.sha256(
                        f.read()
                    ).hexdigest()
        state[sub] = files
    return state


def test_untouched_buckets_byte_identical(spark, dirs):
    """The bucketed upsert must not rewrite buckets whose keys are
    absent from the batch: their files stay byte-for-byte identical."""
    # batch 1: enough keys to populate several buckets
    _write_file(
        dirs["src"],
        "b1.json",
        [_envelope_line(i, f"c{i}", f"c{i}@x.com") for i in range(1, 21)],
    )
    _run(spark, dirs)
    before = _bucket_file_state(dirs["silver"])
    assert len(before) > 1  # the premise: keys spread over >1 bucket

    # batch 2: a single updated key → exactly one touched bucket
    _write_file(
        dirs["src"],
        "b2.json",
        [_envelope_line(99, "c1", "c1-new@x.com", updated="2025-02-01T00:00:00Z")],
    )
    _run(spark, dirs)
    after = _bucket_file_state(dirs["silver"])

    touched = (
        spark.createDataFrame([("c1",)], "id string")
        .select(I.bucket_of("id").alias("b"))
        .collect()[0]["b"]
    )
    touched_dir = f"bucket={touched}"
    assert after[touched_dir] != before[touched_dir]
    for sub, files in before.items():
        if sub != touched_dir:
            assert after[sub] == files, f"{sub} was rewritten"
    silver = I.read_silver(spark, dirs["silver"])
    rows = {r["customer_id"]: r for r in silver.collect()}
    assert silver.count() == 20
    assert rows["c1"]["email"] == "c1-new@x.com"


def test_monitoring_stats_deterministic(spark):
    """R18/R19 driver entry: the monitoring aggregates are
    count-invariant (batch slicing may vary; totals don't) and
    repeatable across invocations."""
    from ecommerce_realtime_pipeline_spark.plans import streams

    a = streams.monitoring_stats(spark, "unused").collect()
    b = streams.monitoring_stats(spark, "unused").collect()
    assert a == b
    row = a[0]
    assert row["records_processed_total"] == 30
    assert row["records_failed_total"] == 0
    assert row["n_partitions"] == 2
    assert row["n_consumer_groups"] == 1


def test_monitoring_stats_raises_when_listener_misses_rows(spark, monkeypatch):
    """A listener that never receives the run's progress makes
    ``monitoring_stats`` raise ``TimeoutError`` with the seen/expected
    row counts, instead of building the stats from a partial count."""
    from ecommerce_realtime_pipeline_spark.plans import streams

    monkeypatch.setattr(I.StatsListener, "onQueryProgress", lambda self, event: None)
    monkeypatch.setattr(streams, "LISTENER_WAIT_S", 1)
    with pytest.raises(TimeoutError, match="listener saw 0/30 input rows"):
        streams.monitoring_stats(spark, "unused")


def test_parse_failures_quarantined_not_dropped(spark, dirs):
    _write_file(
        dirs["src"],
        "b1.json",
        [
            _envelope_line(1, "c1", "c1@x.com"),
            json.dumps(
                {
                    "topic": "customers",
                    "topic_partition": 0,
                    "topic_offset": 2,
                    "message_key": "x",
                    "payload": "{definitely not json",
                    "consumed_at": TS,
                }
            ),
        ],
    )
    _run(spark, dirs)
    silver = spark.read.parquet(dirs["silver"])
    assert silver.count() == 1  # garbage row did not land in silver


# -- streaming near-dup dedup (streaming/neardup.py) ------------------------


def test_streaming_neardup_decisions_and_index(spark, tmp_path):
    """The incremental dedup loop: batch 2's near-copies match their
    batch-1 canonicals (min-id matched_id), novel docs grow the index,
    dup docs do NOT."""
    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.streaming import neardup as ND

    def doc(i, prefix, drop_last=False):
        toks = [f"{prefix}{i}x{j}" for j in range(40)]
        return (i, " ".join(toks[:-1] if drop_last else toks))

    src, work, ckpt = str(tmp_path / "src"), str(tmp_path / "work"), str(tmp_path / "ck")
    b1 = spark.createDataFrame([doc(i, "w") for i in range(4)], ND.DOC_STREAM_SCHEMA)
    b1.repartition(1).write.mode("append").parquet(src)
    ND.run_neardup_stream(spark, src, work, ckpt).awaitTermination(120)

    b2 = spark.createDataFrame(
        [(100 + i, doc(i, "w", drop_last=True)[1]) for i in range(2)]
        + [doc(200, "nov")],
        ND.DOC_STREAM_SCHEMA,
    )
    b2.repartition(1).write.mode("append").parquet(src)
    ND.run_neardup_stream(spark, src, work, ckpt).awaitTermination(120)

    dec = {r["doc_id"]: r for r in ND.read_decisions(spark, work).collect()}
    assert not any(dec[i]["is_dup"] for i in range(4))
    assert dec[100]["is_dup"] and dec[100]["matched_id"] == 0
    assert dec[101]["is_dup"] and dec[101]["matched_id"] == 1
    assert not dec[200]["is_dup"] and dec[200]["matched_id"] is None

    # only novel docs entered the index: 4 (batch 0) + 1 (batch 1)
    idx_ids = {r["doc_id"] for r in ND.read_index_docs(spark, work).collect()}
    assert idx_ids == {0, 1, 2, 3, 200}

    # crash-window contract: decisions and index rows ride ONE journal
    # write — per batch_id, the journal must hold all three kinds
    journal = spark.read.parquet(os.path.join(work, "journal"))
    kinds_per_batch = {
        r["batch_id"]: set(r["kinds"])
        for r in journal.groupBy("batch_id")
        .agg(F.collect_set("kind").alias("kinds"))
        .collect()
    }
    assert kinds_per_batch == {0: {"decision", "band", "doc"},
                               1: {"decision", "band", "doc"}}


def test_streaming_neardup_in_batch_min_id_canonical(spark, tmp_path):
    """Two near-copies arriving in the SAME batch: the smaller id stays
    canonical, the larger is flagged against it."""
    from ecommerce_realtime_pipeline_spark.streaming import neardup as ND

    toks = [f"q{j}" for j in range(40)]
    rows = [(7, " ".join(toks)), (9, " ".join(toks[:-1]))]
    src, work, ckpt = str(tmp_path / "src"), str(tmp_path / "work"), str(tmp_path / "ck")
    spark.createDataFrame(rows, ND.DOC_STREAM_SCHEMA).repartition(1).write.mode(
        "append"
    ).parquet(src)
    ND.run_neardup_stream(spark, src, work, ckpt).awaitTermination(120)
    dec = {r["doc_id"]: r for r in ND.read_decisions(spark, work).collect()}
    assert not dec[7]["is_dup"]
    assert dec[9]["is_dup"] and dec[9]["matched_id"] == 7


# -- streaming embedding near-dup (streaming/embdedup.py) --------------------


def test_streaming_embdedup_decisions_index_and_replay(spark, tmp_path):
    """The embedding twin of the doc dedup loop: batch-2 scaled copies
    match their batch-1 canonicals (scale-invariant sign buckets ⇒
    deterministic recall at cos=1), novel vectors grow the index, dups
    do not; a replayed journal append (crash between journal commit and
    checkpoint commit) is deduped on read."""
    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.streaming import embdedup as ED

    dim = 16

    def onehot(i, pos, scale=1.0):
        v = [0.0] * dim
        v[pos] = scale
        return (i, v)

    src, work, ckpt = str(tmp_path / "src"), str(tmp_path / "work"), str(tmp_path / "ck")
    b1 = spark.createDataFrame([onehot(i, i) for i in range(4)], ED.EMB_STREAM_SCHEMA)
    b1.repartition(1).write.mode("append").parquet(src)
    ED.run_embdedup_stream(spark, src, work, ckpt).awaitTermination(120)

    b2 = spark.createDataFrame(
        [onehot(100, 0, 3.0), onehot(101, 1, 0.5), onehot(200, 9)],
        ED.EMB_STREAM_SCHEMA,
    )
    b2.repartition(1).write.mode("append").parquet(src)
    ED.run_embdedup_stream(spark, src, work, ckpt).awaitTermination(120)

    dec = {r["vec_id"]: r for r in ED.read_decisions(spark, work).collect()}
    assert not any(dec[i]["is_dup"] for i in range(4))
    assert dec[100]["is_dup"] and dec[100]["matched_id"] == 0
    assert dec[101]["is_dup"] and dec[101]["matched_id"] == 1
    assert not dec[200]["is_dup"] and dec[200]["matched_id"] is None

    idx_ids = {r["vec_id"] for r in ED.read_index_vecs(spark, work).collect()}
    assert idx_ids == {0, 1, 2, 3, 200}

    # all three kinds ride one journal write per batch
    journal = spark.read.parquet(os.path.join(work, "journal"))
    kinds = {
        r["batch_id"]: set(r["kinds"])
        for r in journal.groupBy("batch_id")
        .agg(F.collect_set("kind").alias("kinds"))
        .collect()
    }
    assert kinds == {0: {"decision", "bucket", "vec"},
                     1: {"decision", "bucket", "vec"}}

    # replay: re-journal batch 1's rows (same batch_id) — readers dedup
    batch1_df = spark.createDataFrame(
        [onehot(i, i) for i in range(4)], ED.EMB_STREAM_SCHEMA
    )
    ED.dedup_batch(spark, batch1_df, work, batch_id=0)
    dec2 = ED.read_decisions(spark, work)
    assert dec2.count() == 7  # still one decision row per (batch, vec)
    assert {r["vec_id"] for r in ED.read_index_vecs(spark, work).collect()} == idx_ids


def test_recreated_checkpoint_refuses_journal_double_add(spark, tmp_path):
    """THE epoch-id-reset crash class, applied to the epoch journals:
    a recreated checkpoint restarts epoch ids at 0 AND re-delivers
    every source file, so the (batch_id, id)-keyed read-side dedup
    could no longer recognize the replay — the journal would double-add
    decisions and index rows, or Count-Min deltas. All three journal
    streams must detect the generation change via the persisted query
    id and REFUSE with a rebuild instruction (the source replay is the
    rebase), while a same-checkpoint resume keeps working (the
    decisions/index tests above pin that)."""
    import shutil

    import pytest as _pytest

    from ecommerce_realtime_pipeline_spark.streaming import embdedup as ED
    from ecommerce_realtime_pipeline_spark.streaming import neardup as ND
    from ecommerce_realtime_pipeline_spark.streaming import sketchstream as SS

    toks = [f"g{j}" for j in range(40)]
    src, work, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "work"),
        str(tmp_path / "ck"),
    )
    spark.createDataFrame(
        [(1, " ".join(toks))], ND.DOC_STREAM_SCHEMA
    ).repartition(1).write.mode("append").parquet(src)
    ND.run_neardup_stream(spark, src, work, ckpt).awaitTermination(120)
    n_journal = spark.read.parquet(os.path.join(work, "journal")).count()
    shutil.rmtree(ckpt)  # the crash class: checkpoint lost, journal kept
    with _pytest.raises(RuntimeError, match="generation"):
        ND.run_neardup_stream(spark, src, work, str(tmp_path / "ck2"))
    # nothing was double-added
    assert spark.read.parquet(os.path.join(work, "journal")).count() == n_journal

    esrc, ework, eckpt = (
        str(tmp_path / "esrc"),
        str(tmp_path / "ework"),
        str(tmp_path / "eck"),
    )
    v = [0.0] * 16
    v[3] = 1.0
    spark.createDataFrame([(1, v)], ED.EMB_STREAM_SCHEMA).repartition(
        1
    ).write.mode("append").parquet(esrc)
    ED.run_embdedup_stream(spark, esrc, ework, eckpt).awaitTermination(120)
    shutil.rmtree(eckpt)
    with _pytest.raises(RuntimeError, match="generation"):
        ED.run_embdedup_stream(spark, esrc, ework, str(tmp_path / "eck2"))

    # Count-Min: epoch 0 = b0, epoch 1 = b1; a recreated checkpoint's
    # epoch 0 would re-deliver b0+b1 and the fold would count b1 twice
    csrc, cjournal, cckpt = (
        str(tmp_path / "csrc"),
        str(tmp_path / "cjournal"),
        str(tmp_path / "cck"),
    )
    os.makedirs(csrc)
    for bi, users in enumerate((range(0, 20), range(10, 30))):
        with open(os.path.join(csrc, f"b{bi}.json"), "w") as f:
            f.writelines(f'{{"user_id": {u}, "event_type": "view"}}\n' for u in users)
        SS.run_cms_stream(spark, csrc, cjournal, cckpt).awaitTermination(120)
    n_cms = spark.read.parquet(cjournal).count()
    shutil.rmtree(cckpt)
    with _pytest.raises(RuntimeError, match="generation"):
        SS.run_cms_stream(spark, csrc, cjournal, cckpt)
    assert spark.read.parquet(cjournal).count() == n_cms


def test_missing_journal_stamp_adopts_live_checkpoint(spark, tmp_path):
    """The stamp is written only AFTER start() returns, so a crash in
    that window (or a pre-stamp-era journal) leaves journal rows with
    no generation stamp. A same-checkpoint resume must ADOPT the live
    checkpoint's query id (one-time migration) instead of refusing —
    refusing would force an unnecessary journal rebuild — while a
    RECREATED checkpoint must still trip the guard on the next run
    (the adopted stamp then mismatches the fresh metadata id)."""
    import shutil

    import pytest as _pytest

    from ecommerce_realtime_pipeline_spark.streaming import neardup as ND

    toks = [f"h{j}" for j in range(40)]
    src, work, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "work"),
        str(tmp_path / "ck"),
    )
    spark.createDataFrame(
        [(1, " ".join(toks))], ND.DOC_STREAM_SCHEMA
    ).repartition(1).write.mode("append").parquet(src)
    ND.run_neardup_stream(spark, src, work, ckpt).awaitTermination(120)
    stamp = os.path.join(work, ND._JOURNAL_ID_FILE)
    stamped_id = open(stamp).read().strip()
    os.remove(stamp)  # the crash window: journal written, stamp lost
    n_decisions = ND.read_decisions(spark, work).count()
    # same-checkpoint resume: adopts, re-stamps, processes nothing new
    ND.run_neardup_stream(spark, src, work, ckpt).awaitTermination(120)
    assert open(stamp).read().strip() == stamped_id
    assert ND.read_decisions(spark, work).count() == n_decisions
    # a recreated checkpoint still trips the generation guard
    os.remove(stamp)
    shutil.rmtree(ckpt)
    with _pytest.raises(RuntimeError, match="generation"):
        # first run against the fresh checkpoint adopts nothing: the
        # fresh checkpoint has no metadata id yet (cp_id None) and the
        # journal is non-empty, which is exactly the double-add case
        ND.run_neardup_stream(spark, src, work, str(tmp_path / "ck2"))


def test_compact_buckets_layout_only(spark, tmp_path):
    """Compaction must (a) reduce every fragmented bucket to ONE
    parquet file, (b) change zero rows, and (c) leave single-file
    buckets byte-identical (it reuses the per-bucket swap primitive)."""
    silver = str(tmp_path / "silver")
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(f"c{i}", f"c{i}@x.com") for i in range(300)],
        "customer_id string, email string",
    ).withColumn("bucket", I.bucket_of("customer_id"))
    # round-robin repartition spreads each bucket's rows over 8 tasks
    # -> up to 8 part-files per bucket dir (real post-streaming state)
    df.repartition(8).write.partitionBy("bucket").parquet(silver)

    before_rows = sorted(
        (r["customer_id"], r["email"])
        for r in I.read_silver(spark, silver).collect()
    )
    before = _bucket_file_state(silver)
    frag_dirs = {
        d for d, files in before.items()
        if len([f for f in files if f.endswith(".parquet")]) > 1
    }
    assert frag_dirs, "fixture failed to fragment any bucket (vacuous test)"
    report = I.compact_buckets(spark, silver)
    after = _bucket_file_state(silver)
    # (a) every fragmented bucket now holds exactly one parquet file
    assert {f"bucket={b}" for b in report} == frag_dirs
    for d in frag_dirs:
        assert len([f for f in after[d] if f.endswith(".parquet")]) == 1, d
    # (c) untouched (already-compact) buckets byte-identical
    for d, files in before.items():
        if d not in frag_dirs:
            assert after[d] == files, f"{d} was rewritten"
    # (b) row content unchanged
    after_rows = sorted(
        (r["customer_id"], r["email"])
        for r in I.read_silver(spark, silver).collect()
    )
    assert after_rows == before_rows
    # idempotent: second pass is a no-op
    assert I.compact_buckets(spark, silver) == {}


def test_streaming_hll_replay_idempotent(spark, tmp_path):
    """Max-merge is idempotent: re-merging an already-merged batch
    (crash/replay) must leave the register table unchanged — the
    property that makes the streaming HLL safe WITHOUT the journal
    treatment the near-dup indexes need."""
    from ecommerce_realtime_pipeline_spark.streaming import sketchstream as SS

    regs_path = str(tmp_path / "regs")
    batch = spark.createDataFrame(
        [(i, "view") for i in range(50)], "user_id long, event_type string"
    )
    SS.merge_hll_batch(spark, batch, regs_path)
    before = sorted(tuple(r) for r in spark.read.parquet(regs_path).collect())
    SS.merge_hll_batch(spark, batch, regs_path)  # replay
    after = sorted(tuple(r) for r in spark.read.parquet(regs_path).collect())
    assert after == before
    est = SS.estimates(spark, regs_path).collect()
    assert len(est) == 1 and abs(est[0]["hll_estimate"] - 50) / 50 < 0.25


def test_streaming_cms_journal_replay_idempotent(spark, tmp_path):
    """SUM-merge is NOT idempotent, so the journal must carry it: a
    replayed epoch (same batch_id, same deltas appended AGAIN) must
    not change the folded counters — dedup-by-epoch is the exactly-
    once mechanism, mirroring the near-dup index journals."""
    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.operators import sketch as SK
    from ecommerce_realtime_pipeline_spark.streaming import sketchstream as SS

    journal = str(tmp_path / "journal")
    batch = spark.createDataFrame(
        [(i, "view") for i in range(40)], "user_id long, event_type string"
    )
    SS.merge_cms_batch(spark, batch, 0, journal)
    before = sorted(
        tuple(r) for r in SS.cms_counters_from_journal(spark, journal).collect()
    )
    SS.merge_cms_batch(spark, batch, 0, journal)  # crash replay of epoch 0
    after = sorted(
        tuple(r) for r in SS.cms_counters_from_journal(spark, journal).collect()
    )
    assert after == before
    # and a NEW epoch does sum in
    SS.merge_cms_batch(spark, batch, 1, journal)
    doubled = {
        r["user_id"]: r["cms_estimate"]
        for r in SK.cms_estimate(
            SS.cms_counters_from_journal(spark, journal), batch, "user_id"
        ).collect()
    }
    assert all(v >= 2 for v in doubled.values())


def test_pipeline_end_to_end_rerun_stable(spark, tmp_path):
    """EP3 orchestration: a full produce→ingest→marts cycle, then the
    SAME batch re-published at higher offsets (same seed ⇒ same entity
    ids) — the replay must upsert to identical silver counts and
    rebuild identical marts (exactly-once + last-write-wins end to
    end)."""
    from ecommerce_realtime_pipeline_spark.pipeline import run_pipeline

    with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
        s1 = run_pipeline(spark, str(tmp_path / "p"))
        s2 = run_pipeline(spark, str(tmp_path / "p"), base_offset=1000)
    assert s1["silver_counts"] == s2["silver_counts"]
    assert s1["marts"] == s2["marts"]
    assert s1["silver_counts"]["orders"] == 25
    assert s1["silver_counts"]["order_items"] == 66  # frozen contract


def test_pipeline_dq_gate_clean_and_corrupted(spark, tmp_path):
    """The pipeline's DQ gate: the clean seeded batch quarantines
    EXACTLY the generator's 5 duplicate (order_id, product_id) item
    lines (the reference's UNIQUE constraint victims — seed-frozen)
    and nothing else; the corruption-enabled twin (same seed) must
    quarantine strictly more — the fault-injection path survives the
    full produce→ingest→validate flow, not just unit tests."""
    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.pipeline import run_pipeline

    with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
        clean = run_pipeline(spark, str(tmp_path / "clean"))
        dirty = run_pipeline(
            spark, str(tmp_path / "dirty"), corruption_enabled=True
        )
    assert clean["marts"]["dq_gate"] == 5

    def gate(base):
        return {
            r["table_name"]: (r["n_valid"], r["n_quarantined"])
            for r in spark.read.parquet(str(base / "gold" / "dq_gate")).collect()
        }

    g_clean = gate(tmp_path / "clean")
    # the seeded generator legitimately emits 5 duplicate
    # (order_id, product_id) item lines — the reference's
    # UNIQUE(order_id, product_id) would reject exactly these, and the
    # gate quarantines them even on the "clean" batch (frozen
    # seed-deterministic contract); every other table is clean.
    assert g_clean["order_items"] == (61, 5)
    assert all(
        q == 0 for t, (_v, q) in g_clean.items() if t != "order_items"
    ), g_clean
    g_dirty = gate(tmp_path / "dirty")
    assert sum(q for _v, q in g_dirty.values()) > sum(
        q for _v, q in g_clean.values()
    ), g_dirty


# -- bucketed CDC loop (diff → refresh per touched bucket) -------------------


def _order_env(spark, rows):
    """rows: (offset, order_id, total, status, upd_min)"""
    recs = []
    for off, oid, total, status, upd in rows:
        payload = json.dumps(
            {
                "order_id": oid,
                "customer_id": "c1",
                "items": [],
                "total": total,
                "status": status,
                "created_at": "2025-03-01T00:00:00Z",
                "updated_at": f"2025-03-01T00:{upd:02d}:00Z",
            }
        )
        recs.append(("orders", 0, off, oid, payload, "2025-03-01T00:00:00Z"))
    return spark.createDataFrame(
        recs,
        "topic string, topic_partition int, topic_offset long, "
        "message_key string, payload string, consumed_at string",
    )


def _bucket_bytes(path):
    """{bucket_dir: {file: bytes}} for every bucket=N directory."""
    out = {}
    for d in sorted(os.listdir(path)):
        if not d.startswith("bucket="):
            continue
        full = os.path.join(path, d)
        out[d] = {
            f: open(os.path.join(full, f), "rb").read()
            for f in sorted(os.listdir(full))
            if f.endswith(".parquet")
        }
    return out


def test_bucketed_cdc_diff_refresh_end_to_end(spark, tmp_path):
    """SCALE.md's 'run the CDC loop per bucket' claim, exercised: a
    second ingest touches ONE bucket; snapshot_diff + the retract/add
    refresh run over ONLY that bucket's partitions (pruned scans) and
    still land on the exact full-table recompute, while every untouched
    bucket's files stay byte-identical between the snapshots."""
    import shutil

    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.streaming.ingest import (
        bucket_of,
        cdc_refresh_buckets,
        upsert_batch,
    )

    silver = str(tmp_path / "silver")
    old_snap = str(tmp_path / "silver_old")

    keys = [f"o{i:02d}" for i in range(20)]
    kdf = spark.createDataFrame([(k,) for k in keys], "order_id string")
    bucket_by_key = {
        r["order_id"]: r["b"]
        for r in kdf.select("order_id", bucket_of("order_id").alias("b")).collect()
    }
    # pick the bucket holding the most keys; mutate only ITS keys
    from collections import Counter

    target_bucket, _ = Counter(bucket_by_key.values()).most_common(1)[0]
    in_target = [k for k in keys if bucket_by_key[k] == target_bucket]
    assert len(in_target) >= 2, "need >=2 keys in one bucket for the fixture"

    batch_a = _order_env(
        spark,
        [(i, k, float(10 * (i + 1)), "pending", 0) for i, k in enumerate(keys)],
    )
    upsert_batch(spark, batch_a, "orders", silver)
    shutil.copytree(silver, old_snap)  # the OLD snapshot

    # batch B: one status transition + one brand-new order, SAME bucket
    upd_key = in_target[0]
    new_key = next(
        f"n{i:03d}"
        for i in range(200)
        if spark.createDataFrame([(f"n{i:03d}",)], "order_id string")
        .select(bucket_of("order_id").alias("b"))
        .first()["b"]
        == target_bucket
    )
    batch_b = _order_env(
        spark,
        [
            (100, upd_key, float(10 * (keys.index(upd_key) + 1)), "shipped", 30),
            (101, new_key, 999.0, "pending", 30),
        ],
    )
    touched = upsert_batch(spark, batch_b, "orders", silver)
    assert touched == [target_bucket]

    # byte-identity: every untouched bucket file unchanged on disk
    old_bytes, new_bytes = _bucket_bytes(old_snap), _bucket_bytes(silver)
    for d in old_bytes:
        if d != f"bucket={target_bucket}":
            assert new_bytes[d] == old_bytes[d], f"{d} was rewritten"

    # diff → refresh over ONLY the touched bucket, against the
    # aggregate maintained from the old snapshot
    prev_agg = (
        spark.read.parquet(old_snap)
        .groupBy("status")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("total").cast("decimal(18,2)")).alias("sum_val"),
        )
    )
    refreshed = cdc_refresh_buckets(
        spark, old_snap, silver, "orders", touched, "status", "total", prev_agg
    )
    direct = (
        spark.read.parquet(silver)
        .groupBy("status")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("total").cast("decimal(18,2)")).alias("sum_val"),
        )
    )
    as_map = lambda df: {  # noqa: E731
        r["status"]: (r["n_rows"], float(r["sum_val"])) for r in df.collect()
    }
    assert as_map(refreshed) == as_map(direct)
    assert "shipped" in as_map(refreshed)

    # and the pruned read really partition-prunes
    import re as _re

    plan = (
        spark.read.parquet(silver)
        .filter(F.col("bucket").isin(touched))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1)


def test_silver_compaction_report_query(spark):
    """The maintenance invoice repeats bit-for-bit: 16 buckets fragment
    into 60 files under the pinned 4-task write, compaction leaves one
    file per bucket, content fully preserved."""
    from ecommerce_realtime_pipeline_spark.plans import streams

    a = [tuple(r) for r in streams.silver_compaction_report(spark, "unused").collect()]
    assert a == [(16, 60, 16, 200, 200, 200)]

"""Pins for the streaming continuous aggregate: refresh ≡ full
recompute over the resulting silver, the retract side on status
transitions, and epoch-marker replay idempotence (the crash-window
defense — a replayed epoch must NOT re-apply its delta)."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.plans import fixtures as FX
from ecommerce_realtime_pipeline_spark.streaming import contagg as CA
from ecommerce_realtime_pipeline_spark.streaming.ingest import upsert_batch


def _env_batch(spark, rows):
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


@pytest.fixture()
def dirs():
    tmp = tempfile.mkdtemp(prefix="eng_contagg_t_")
    yield (os.path.join(tmp, "silver"), os.path.join(tmp, "agg"))
    shutil.rmtree(tmp, ignore_errors=True)


def _apply(spark, batch, epoch, silver, agg):
    CA.refresh_epoch(
        spark, batch, "orders", silver, agg, epoch, "status", "total"
    )
    upsert_batch(spark, batch, "orders", silver)


def test_refresh_equals_recompute_with_status_transition(spark, dirs):
    silver, agg = dirs
    b0 = _env_batch(
        spark, [(i, f"o{i}", float(i), "pending", 0) for i in range(1, 6)]
    )
    _apply(spark, b0, 0, silver, agg)
    # o1, o2 transition to shipped (retract from pending), o6 arrives
    b1 = _env_batch(
        spark,
        [
            (101, "o1", 1.0, "shipped", 30),
            (102, "o2", 2.0, "shipped", 30),
            (106, "o6", 6.0, "pending", 30),
        ],
    )
    _apply(spark, b1, 1, silver, agg)
    view = {
        r["status"]: (r["n_rows"], float(r["sum_val"]))
        for r in CA.read_continuous_agg(spark, agg).collect()
    }
    direct = {
        r["status"]: (r["n"], float(r["s"]))
        for r in spark.read.parquet(silver)
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("total").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    assert view == direct
    assert view["pending"] == (4, 3.0 + 4.0 + 5.0 + 6.0)
    assert view["shipped"] == (2, 3.0)


def test_replayed_epoch_is_skipped(spark, dirs):
    """Replaying an already-committed epoch AFTER its upsert landed is
    exactly the dangerous window (the pre-image is gone, so a
    recomputed delta would be zero/retractive garbage) — the epoch
    marker must make it a no-op."""
    silver, agg = dirs
    b0 = _env_batch(
        spark, [(i, f"o{i}", float(i), "pending", 0) for i in range(1, 4)]
    )
    _apply(spark, b0, 0, silver, agg)
    before = sorted(
        tuple(r) for r in CA.read_continuous_agg(spark, agg).collect()
    )
    # replay epoch 0 post-upsert (foreachBatch redelivery)
    CA.refresh_epoch(spark, b0, "orders", silver, agg, 0, "status", "total")
    after = sorted(
        tuple(r) for r in CA.read_continuous_agg(spark, agg).collect()
    )
    assert before == after
    assert CA._committed_epochs(agg) == [0]


def test_within_batch_last_write_wins(spark, dirs):
    """Two envelopes for one key in a single batch: only the newest
    row contributes to the view (same rule the silver upsert applies)."""
    silver, agg = dirs
    b0 = _env_batch(
        spark,
        [
            (1, "o1", 10.0, "pending", 0),
            (2, "o1", 10.0, "shipped", 5),  # newer updated_at wins
        ],
    )
    _apply(spark, b0, 0, silver, agg)
    view = {
        r["status"]: (r["n_rows"], float(r["sum_val"]))
        for r in CA.read_continuous_agg(spark, agg).collect()
    }
    assert view == {"shipped": (1, 10.0)}


def test_prune_versions_keeps_newest(spark, dirs):
    silver, agg = dirs
    for e in range(4):
        b = _env_batch(spark, [(100 * e + 1, f"o{e}", 1.0, "pending", e)])
        _apply(spark, b, e, silver, agg)
    assert CA._committed_epochs(agg) == [0, 1, 2, 3]
    pruned = CA.prune_versions(agg, keep=2)
    assert pruned == [0, 1]
    assert CA._committed_epochs(agg) == [2, 3]
    # the surviving latest version still serves
    assert CA.read_continuous_agg(spark, agg).count() == 1


def test_replay_of_pruned_epoch_is_skipped(spark, dirs):
    """The epoch markers double as the replay ledger; pruning one must
    NOT reopen its replay window. The `_pruned_through` watermark has
    to answer 'already applied' for any epoch ≤ the largest pruned —
    including after an epoch-id reset from a recreated checkpoint."""
    silver, agg = dirs
    batches = []
    for e in range(4):
        b = _env_batch(spark, [(100 * e + 1, f"o{e}", 1.0, "pending", e)])
        batches.append(b)
        _apply(spark, b, e, silver, agg)
    assert CA.prune_versions(agg, keep=2) == [0, 1]
    assert CA.pruned_through(agg) == 1
    before = sorted(
        tuple(r) for r in CA.read_continuous_agg(spark, agg).collect()
    )
    # redelivery of a PRUNED epoch (marker gone): without the
    # watermark this would re-apply o1's delta against the post-image
    CA.refresh_epoch(spark, batches[1], "orders", silver, agg, 1, "status", "total")
    after = sorted(
        tuple(r) for r in CA.read_continuous_agg(spark, agg).collect()
    )
    assert before == after
    # no resurrected v=1 marker either
    assert CA._committed_epochs(agg) == [2, 3]


def test_crashed_stage_dirs_do_not_wedge_readers(spark, dirs):
    """A crash mid-write leaves v=<e>__tmp_* / __old_* staging
    siblings; epoch listing and serving must ignore them."""
    silver, agg = dirs
    b0 = _env_batch(spark, [(1, "o1", 10.0, "pending", 0)])
    _apply(spark, b0, 0, silver, agg)
    os.makedirs(os.path.join(agg, "v=1__tmp_deadbeef"))
    os.makedirs(os.path.join(agg, "v=0__old_cafebabe"))
    assert CA._committed_epochs(agg) == [0]
    assert CA.read_continuous_agg(spark, agg).count() == 1


def test_out_of_order_stale_envelope_leaves_view_untouched(spark, dirs):
    """A later BATCH carrying an OLDER updated_at for an existing key
    loses the upsert's last-write-wins comparison — the view must not
    apply its delta either, or it diverges from silver forever."""
    silver, agg = dirs
    b0 = _env_batch(spark, [(1, "o1", 10.0, "shipped", 30)])
    _apply(spark, b0, 0, silver, agg)
    # stale redelivery: older updated_at, different offset, new batch
    b1 = _env_batch(spark, [(50, "o1", 10.0, "pending", 0)])
    _apply(spark, b1, 1, silver, agg)
    view = {
        r["status"]: (r["n_rows"], float(r["sum_val"]))
        for r in CA.read_continuous_agg(spark, agg).collect()
    }
    direct = {
        r["status"]: (r["n"], float(r["s"]))
        for r in spark.read.parquet(silver)
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("total").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    assert view == direct == {"shipped": (1, 10.0)}


def _stream_batch(spark, src, name, rows):
    """Write envelope rows (offset, oid, total, status, upd_min) as a
    JSONL file into the streaming source dir."""
    os.makedirs(src, exist_ok=True)
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
        recs.append(
            json.dumps(
                {
                    "topic": "orders",
                    "topic_partition": 0,
                    "topic_offset": off,
                    "message_key": oid,
                    "payload": payload,
                    "consumed_at": "2025-03-01T00:00:00Z",
                }
            )
        )
    with open(os.path.join(src, name), "w") as f:
        f.write("\n".join(recs) + "\n")


def test_recreated_checkpoint_rebases_instead_of_skipping(spark, dirs):
    """THE epoch-id-reset crash class (round-6 ADVICE): after the
    checkpoint is deleted and recreated, epoch ids restart at 0. The
    bare ``epoch_id <= _pruned_through`` comparison would then skip
    the refresh for GENUINELY NEW data while the upsert still lands —
    a permanently stale view. ``run_ingest_with_agg`` must detect the
    generation change via the persisted query id, rebase the view from
    silver, and keep refresh ≡ recompute."""
    silver, agg = dirs
    tmp = os.path.dirname(silver)
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
        # generation 1: two epochs, then prune so _pruned_through = 0
        _stream_batch(
            spark, src, "b0.json",
            [(i, f"o{i}", float(i), "pending", 0) for i in range(1, 4)],
        )
        q = CA.run_ingest_with_agg(
            spark, src, "orders", silver, agg, ckpt,
            group_col="status", sum_col="total",
        )
        assert q.awaitTermination(120)
        _stream_batch(
            spark, src, "b1.json", [(10, "o9", 40.0, "shipped", 5)]
        )
        q = CA.run_ingest_with_agg(
            spark, src, "orders", silver, agg, ckpt,
            group_col="status", sum_col="total",
        )
        assert q.awaitTermination(120)
        assert len(CA._committed_epochs(agg)) >= 2
        CA.prune_versions(agg, keep=1)
        # watermark now covers epoch 0 — the old bare-epoch-id check
        # would silently skip the new generation's first refreshes
        assert CA.pruned_through(agg) >= 0
        # generation 2: checkpoint recreated → epoch ids restart at 0;
        # source replays b0+b1 AND sees new data b2
        shutil.rmtree(ckpt)
        _stream_batch(
            spark, src, "b2.json", [(20, "o20", 100.0, "pending", 9)]
        )
        q = CA.run_ingest_with_agg(
            spark, src, "orders", silver, agg, ckpt,
            group_col="status", sum_col="total",
        )
        assert q.awaitTermination(120)
        view = {
            r["status"]: (r["n_rows"], float(r["sum_val"]))
            for r in CA.read_continuous_agg(spark, agg).collect()
        }
        direct = {
            r["status"]: (r["n"], float(r["s"]))
            for r in spark.read.parquet(silver)
            .groupBy("status")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("total").cast("decimal(18,2)")).alias("s"),
            )
            .collect()
        }
        # new data (o20) counted exactly once; replayed rows cancel
        assert view == direct == {
            "pending": (4, 1.0 + 2.0 + 3.0 + 100.0),
            "shipped": (1, 40.0),
        }


def test_no_data_batch_commits_no_version(spark, dirs):
    """availableNow appends a NO-DATA micro-batch after the data batch
    (watermark-advance eviction for the offset dedup). The handler
    skips it — an empty batch's delta is zero against any pre-image —
    so one data file must yield exactly ONE committed epoch/version,
    not a trailing zero-delta duplicate. Replay stability needs no
    marker for the skipped epoch: a redelivered empty batch is skipped
    identically (pinned here by re-running over the same checkpoint
    and seeing no new version)."""
    silver, agg = dirs
    tmp = os.path.dirname(silver)
    src = os.path.join(tmp, "src")
    ckpt = os.path.join(tmp, "ckpt")
    with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
        _stream_batch(
            spark, src, "b0.json",
            [(i, f"o{i}", float(i), "pending", 0) for i in range(1, 4)],
        )
        q = CA.run_ingest_with_agg(
            spark, src, "orders", silver, agg, ckpt,
            group_col="status", sum_col="total",
        )
        assert q.awaitTermination(120)
        assert CA._committed_epochs(agg) == [0]
        # restart with no new data: every batch (if any) is empty or
        # replayed — the ledger must not grow a zero-delta version
        q = CA.run_ingest_with_agg(
            spark, src, "orders", silver, agg, ckpt,
            group_col="status", sum_col="total",
        )
        assert q.awaitTermination(120)
        assert CA._committed_epochs(agg) == [0]
        view = {
            r["status"]: (r["n_rows"], float(r["sum_val"]))
            for r in CA.read_continuous_agg(spark, agg).collect()
        }
        assert view == {"pending": (3, 6.0)}

"""Watermarked windowed streaming aggregation (§2.7): closed windows
are emitted exactly once; data later than the watermark horizon is
dropped (bounded state) — the documented divergence from the
reference's unbounded-lateness Postgres upserts."""

from __future__ import annotations

import json
import os

from ecommerce_realtime_pipeline_spark.streaming import ingest as I

import datetime as _dt

BASE_DT = _dt.datetime(2025, 3, 1, 10, 0, 0)


def _event_line(offset, mm, ss, etype="view"):
    ts = (BASE_DT + _dt.timedelta(minutes=mm, seconds=ss)).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )
    payload = json.dumps(
        {
            "event_id": f"e{offset}",
            "event_type": etype,
            "customer_id": "c1",
            "timestamp": ts,
        }
    )
    return json.dumps(
        {
            "topic": "events",
            "topic_partition": 0,
            "topic_offset": offset,
            "message_key": f"e{offset}",
            "payload": payload,
            "consumed_at": "2025-03-01T10:00:00Z",
        }
    )


def _write(dirpath, name, lines):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def _run(spark, src, sink, ckpt):
    q = I.run_windowed_counts(spark, src, sink, ckpt, watermark="10 minutes")
    q.awaitTermination(120)


def test_session_windows_split_on_gap(spark, tmp_path):
    """Two bursts for one customer separated by more than the 30-minute
    gap must close as two distinct sessions with merged extents."""
    src, sink, ckpt = (str(tmp_path / d) for d in ("s2", "k2", "c2"))
    # burst 1: 10:00, 10:10, 10:20 (one session); burst 2: 11:30
    _write(
        src,
        "b1.json",
        [
            _event_line(1, 0, 0),
            _event_line(2, 10, 0),
            _event_line(3, 20, 0),
            _event_line(4, 90, 0),
        ],
    )
    q = I.run_session_counts(spark, src, sink, ckpt)
    q.awaitTermination(120)
    # advance watermark far past both sessions so they close and emit
    _write(src, "b2.json", [_event_line(5, 300, 0)])
    q = I.run_session_counts(spark, src, sink, ckpt)
    q.awaitTermination(120)
    _write(src, "b3.json", [_event_line(6, 400, 0)])
    q = I.run_session_counts(spark, src, sink, ckpt)
    q.awaitTermination(120)

    rows = sorted(
        spark.read.parquet(sink).collect(), key=lambda r: r["session_start"]
    )
    assert len(rows) >= 2
    first, second = rows[0], rows[1]
    assert first["n_events"] == 3  # burst 1 merged into one session
    assert first["session_start"].strftime("%H:%M") == "10:00"
    assert first["session_end"].strftime("%H:%M") == "10:50"  # last event + gap
    assert second["n_events"] == 1
    assert second["session_start"].strftime("%H:%M") == "11:30"


def test_streaming_windowed_kpi_query_deterministic(spark):
    """The driver entry returns the exact closed-window set (late row
    dropped, each window once) and repeats identically."""
    from ecommerce_realtime_pipeline_spark.plans import streams

    a = streams.streaming_windowed_kpi(spark, "unused")
    rows = {(r["window_start"].strftime("%H:%M"), r["type"]): r["n"] for r in a.collect()}
    assert rows == {
        ("10:00", "view"): 2,   # late batch-2 view did NOT re-open it
        ("10:00", "click"): 1,
        ("10:15", "view"): 1,
        ("10:30", "view"): 1,
    }
    b = streams.streaming_windowed_kpi(spark, "unused")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_windowed_counts_close_once_and_drop_late(spark, tmp_path):
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))

    # batch 1: two views + one click in the 10:00 window, plus a 10:15
    # row that advances the watermark to 10:05 (> 10:01 window end)
    _write(
        src,
        "b1.json",
        [
            _event_line(1, 0, 10, "view"),
            _event_line(2, 0, 40, "view"),
            _event_line(3, 0, 50, "click"),
            _event_line(4, 15, 0, "view"),
        ],
    )
    _run(spark, src, sink, ckpt)

    # batch 2: a LATE view for the already-closed 10:00 window (event
    # time < checkpointed watermark) + a 10:30 row advancing the
    # watermark past the 10:15 window
    _write(src, "b2.json", [_event_line(5, 0, 20, "view"), _event_line(6, 30, 0, "view")])
    _run(spark, src, sink, ckpt)

    # batch 3: one more advancer so every previously closed window has
    # had a batch in which to be emitted
    _write(src, "b3.json", [_event_line(7, 45, 0, "view")])
    _run(spark, src, sink, ckpt)

    rows = spark.read.parquet(sink).collect()
    by_key = {
        (r["window_start"].strftime("%H:%M"), r["type"]): r["n"] for r in rows
    }
    # 10:00 window closed with batch-1 counts only — the late row is gone
    assert by_key[("10:00", "view")] == 2
    assert by_key[("10:00", "click")] == 1
    # each (window, type) emitted exactly once
    assert len(rows) == len(by_key)
    # the 10:15 window closed with its single row
    assert by_key[("10:15", "view")] == 1


def test_streaming_attribution_join_exact_pairs(spark):
    """Stream-stream interval join: exact pair set including the
    cross-run state match and the late-click drop; strict-< excludes
    the same-timestamp click; equals the batch range_join on the same
    non-late events."""
    from datetime import datetime

    from ecommerce_realtime_pipeline_spark.operators import temporal as T
    from ecommerce_realtime_pipeline_spark.plans import streams

    out = streams.streaming_attribution_join(spark, "unused")
    pairs = sorted((r["purchase_id"], r["click_id"]) for r in out.collect())
    assert pairs == [("p1", "c10"), ("p1", "c11"), ("p3", "c10"), ("p3", "c12")]

    # batch equivalence: range_join over the in-watermark fixture rows
    # (the late c14 is excluded — the one intentional divergence)
    def ts(h, m):
        return datetime(2025, 3, 1, h, m)

    purchases = spark.createDataFrame(
        [("p1", "c1", ts(10, 0)), ("p2", "c2", ts(10, 0)),
         ("p3", "c1", ts(10, 20)), ("padv", "cy", ts(11, 30)),
         ("p5", "c1", ts(11, 25))],
        "purchase_id string, customer_id string, ts timestamp",
    )
    clicks = spark.createDataFrame(
        [("c11", "c1", ts(9, 10)), ("c10", "c1", ts(9, 30)),
         ("c13", "c1", ts(8, 30)), ("c12", "c1", ts(10, 0)),
         ("cadv", "cx", ts(11, 30))],
        "click_id string, customer_id string, ts timestamp",
    )
    batch = T.range_join(
        purchases, clicks, on="customer_id", lower_sec=-3600, upper_sec=0
    )
    batch_pairs = sorted(
        (r["purchase_id"], r["click_id"]) for r in batch.collect()
    )
    assert batch_pairs == pairs


def test_streaming_session_windows_query_deterministic(spark):
    """The driver entry emits exactly the two closed sessions (the
    advancer's own session stays open) and repeats identically."""
    from ecommerce_realtime_pipeline_spark.plans import streams

    a = streams.streaming_session_windows(spark, "unused")
    rows = {
        (r["customer_id"], r["session_start"].strftime("%H:%M"),
         r["session_end"].strftime("%H:%M"), r["n_events"])
        for r in a.collect()
    }
    assert rows == {("c1", "10:00", "10:35", 2), ("c2", "10:10", "10:40", 1)}
    b = streams.streaming_session_windows(spark, "unused")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_streaming_late_drop_stats_deterministic(spark):
    """Exactly the one below-watermark row is dropped; the counter
    comes from the engine's state-operator metrics, repeatably."""
    from ecommerce_realtime_pipeline_spark.plans import streams

    a = streams.streaming_late_drop_stats(spark, "unused").collect()
    assert [tuple(r) for r in a] == [(2, 3, 1)]
    b = streams.streaming_late_drop_stats(spark, "unused").collect()
    assert [tuple(r) for r in b] == [(2, 3, 1)]

"""Streaming, silver-maintenance and pipeline fixture queries (SURVEY
§2.7): each runs a small hand-built or seeded input through the real
checkpointed ``availableNow`` machinery in a scratch directory and
returns a deterministic result — exactly-once ingest and its
monitoring, watermarked windows and sessions, stream-stream and
stream-static joins, the continuous aggregate, sketch and near-dup
streams, the stateful funnel matcher, bucket compaction and CDC, and
the whole produce → ingest → marts pipeline.

Every query runs through the harness of :mod:`plans.fixtures`: one
:func:`~fixtures.scratch_dir`, one :func:`~fixtures.pinned_conf` (4
shuffle partitions for the runs unless a query says otherwise), one
checked :func:`~fixtures.await_run` per run, and
:func:`~fixtures.run_batches` for the land-a-file-then-run loop. The
streaming machinery is not DuckDB-expressible, but each output is an
analytic or frozen constant of its fixture (or, for the two sketch
streams, a recomputation), so each query's ``ORACLES`` entry right
after it value-gates the result.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark import storage
from ecommerce_realtime_pipeline_spark.catalog import money
from ecommerce_realtime_pipeline_spark.operators import sketch as SK
from ecommerce_realtime_pipeline_spark.pipeline import run_pipeline
from ecommerce_realtime_pipeline_spark.plans import fixtures as FX
from ecommerce_realtime_pipeline_spark.schemas import CONSUMER_OFFSETS_SCHEMA
from ecommerce_realtime_pipeline_spark.streaming import contagg as CA
from ecommerce_realtime_pipeline_spark.streaming import embdedup as ED
from ecommerce_realtime_pipeline_spark.streaming import ingest as I
from ecommerce_realtime_pipeline_spark.streaming import neardup as ND
from ecommerce_realtime_pipeline_spark.streaming import sketchstream as SS
from ecommerce_realtime_pipeline_spark.streaming import stateful as ST

#: query name -> DuckDB oracle SQL, one entry per query of this module
ORACLES: dict[str, str] = {}

#: how long ``monitoring_stats`` waits for the asynchronously
#: dispatched progress events to reach its listener
LISTENER_WAIT_S = 30


def _event_line(
    offset: int, at, etype: str, cust: str = "c1", eid: str | None = None
) -> str:
    """An events-topic fixture envelope; the event id (default
    ``e<offset>``) is also the message key."""
    eid = eid or f"e{offset}"
    payload = {
        "event_id": eid,
        "event_type": etype,
        "customer_id": cust,
        "timestamp": at.strftime("%Y-%m-%dT%H:%M:%SZ"),
    }
    return FX.envelope_line("events", offset, eid, payload)


def _envelopes(spark: SparkSession, topic: str, records) -> DataFrame:
    """A batch frame of raw envelopes on partition 0 of ``topic``, one
    per (offset, key, payload JSON) record, all consumed at
    2025-03-01T00:00:00Z."""
    return spark.createDataFrame(
        [
            (topic, 0, off, key, payload, "2025-03-01T00:00:00Z")
            for off, key, payload in records
        ],
        "topic string, topic_partition int, topic_offset long, "
        "message_key string, payload string, consumed_at string",
    )


def _sink_after_runs(
    spark: SparkSession,
    what: str,
    batches: list[list[str]],
    start: Callable,
    order: tuple[str, ...],
    conf: dict[str, str] = FX.STATE_PARTITIONS,
) -> DataFrame:
    """The parquet sink of query ``what`` after its fixture ``batches``
    ran through ``start(spark, src, sink, ckpt)`` — one checked
    ``availableNow`` run per landed file (:func:`fixtures.run_batches`)
    under the ``conf`` pin, in a scratch dir — ordered by ``order`` and
    pinned by ``localCheckpoint`` before the dir goes away."""
    with FX.scratch_dir(f"eng_{what}_") as tmp:
        src, sink, ckpt = (os.path.join(tmp, d) for d in ("src", "sink", "ckpt"))
        with FX.pinned_conf(spark, conf):
            FX.run_batches(src, batches, lambda: start(spark, src, sink, ckpt), what)
        return (
            storage.read_parquet(spark, sink)
            .orderBy(*order)
            .localCheckpoint(eager=True)
        )


def streaming_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 / S3→S6 as a driver-checkable query: publish a seeded
    customer batch TWICE (replayed offsets), run the watermarked
    streaming ingest, return the silver snapshot. Exactly-once landing
    means the replay must vanish: 30 rows, bit-identical generated
    values, no envelope/audit columns (they carry wall-clock)."""
    # session-memoized source fixture: the double publish (the
    # full-offset replay this query gates) runs for real on the first
    # call per session; the resulting topic tree is immutable and
    # shared read-only afterwards. The INGEST below — where the
    # exactly-once/replay semantics live — runs fresh every call.
    topics, _ = FX.produced_topics_fixture(
        spark, repeats=2, product_count=0, customer_count=30,
        order_count=0, event_count=0, seed=21, n_partitions=2,
        entities=("customers",),
    )
    with FX.scratch_dir("eng_stream_q_") as tmp:
        with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
            q = I.run_ingest(
                spark, f"{topics}/customers", "customers", f"{tmp}/silver", f"{tmp}/ckpt"
            )
            FX.await_run(q, "streaming_ingest_roundtrip")
        silver = I.read_silver(spark, f"{tmp}/silver", "customers")
        # localCheckpoint pins the result blocks so the temp dirs can go
        # away before the caller consumes the frame (bench runs this 3×)
        return (
            silver.select("customer_id", "email", "name", "created_at", "updated_at")
            .orderBy("customer_id")
            .localCheckpoint(eager=True)
        )


# FROZEN-CONTRACT oracle (golden values): the 30-row silver snapshot
# after the replayed ingest is seed-deterministic (generator + fixture
# are fixed), pinned by tests/test_streaming.py; frozen here for a
# driver value-hash.
ORACLES["streaming_ingest_roundtrip"] = """
        SELECT customer_id, email, name,
               CAST(ca AS TIMESTAMP) AS created_at,
               CAST(ua AS TIMESTAMP) AS updated_at
        FROM (VALUES
            ('04473b3d-5554-2ed6-5e49-029e046c9c94', 'customer.tek.ver@example.com', 'Customer Tek Ver', '2025-01-07 07:16:36', '2025-01-07 07:16:36'),
            ('05fe7aa0-cb20-3d9c-6c66-f6f1649de0e4', 'customer.lum.nex@shop.test', 'Customer Lum Nex', '2025-01-02 06:58:55', '2025-01-02 06:58:55'),
            ('1ace705f-a511-fe2b-77a4-a131db125a95', 'customer.ver.al@example.com', 'Customer Ver Al', '2025-01-04 02:28:29', '2025-01-04 02:28:29'),
            ('367c3a2d-d16b-7b30-4f89-f9f286981ebc', 'customer.lum.plex@mail.local', 'Customer Lum Plex', '2025-01-06 19:28:58', '2025-01-06 19:28:58'),
            ('3be7e4c0-0ee1-338c-656a-70998fddc959', 'customer.nex.gen@mail.local', 'Customer Nex Gen', '2025-01-03 05:55:02', '2025-01-03 05:55:02'),
            ('4f10586a-2aaf-3068-2c54-74e149d14e70', 'customer.nex.nex@shop.test', 'Customer Nex Nex', '2025-01-03 11:32:48', '2025-01-03 11:32:48'),
            ('4fc4a9cb-960c-f20c-3354-f1061280f2a7', 'customer.plex.tri@shop.test', 'Customer Plex Tri', '2025-01-01 03:03:29', '2025-01-01 03:03:29'),
            ('5a7e57f1-52cc-3cc1-5118-902dddd13269', 'customer.quo.gen@mail.local', 'Customer Quo Gen', '2025-01-07 16:01:51', '2025-01-07 16:01:51'),
            ('5b0b9652-892e-9a82-ad65-efd271058478', 'customer.gen.lum@example.com', 'Customer Gen Lum', '2025-01-03 09:45:05', '2025-01-03 09:45:05'),
            ('6c7e291c-ac6b-623e-5d8e-f0f28797ab20', 'customer.al.tek@example.com', 'Customer Al Tek', '2025-01-03 00:59:10', '2025-01-03 00:59:10'),
            ('7ea2cb8e-20fa-e481-2b96-135ecf15f8c9', 'customer.quo.zon@shop.test', 'Customer Quo Zon', '2025-01-05 05:07:58', '2025-01-05 05:07:58'),
            ('84a09b10-356d-8b34-32cc-2aaf9d666c09', 'customer.tek.plex@mail.local', 'Customer Tek Plex', '2025-01-05 11:43:35', '2025-01-05 11:43:35'),
            ('85be7dec-fdd5-f9f6-422c-3df10104d213', 'customer.zon.tri@mail.local', 'Customer Zon Tri', '2025-01-03 14:44:43', '2025-01-03 14:44:43'),
            ('8869ba3d-6c9a-b725-7a92-ca8db21579e1', 'customer.lum.plex@shop.test', 'Customer Lum Plex', '2025-01-01 15:09:07', '2025-01-01 15:09:07'),
            ('9e9f24cd-a35f-18c0-f604-fadb2afcdd32', 'customer.al.tek@mail.local', 'Customer Al Tek', '2025-01-04 19:11:39', '2025-01-04 19:11:39'),
            ('9edffd84-5a9c-4a66-4816-ab56b83f4878', 'customer.zon.plex@shop.test', 'Customer Zon Plex', '2025-01-02 14:17:40', '2025-01-02 14:17:40'),
            ('a215c5c9-bacb-8543-218a-fb034e3051ac', 'customer.plex.gen@mail.local', 'Customer Plex Gen', '2025-01-02 04:28:44', '2025-01-02 04:28:44'),
            ('a51ff7d2-f455-e23e-8848-8d5e0543f66b', 'customer.gen.zon@mail.local', 'Customer Gen Zon', '2025-01-06 12:09:44', '2025-01-06 12:09:44'),
            ('a87f9777-e525-bbc2-0612-f7db6c47195f', 'customer.nex.tri@shop.test', 'Customer Nex Tri', '2025-01-06 13:15:13', '2025-01-06 13:15:13'),
            ('af612271-8c73-dc76-5fba-c71c665eedac', 'customer.gen.quo@shop.test', 'Customer Gen Quo', '2025-01-05 21:35:38', '2025-01-05 21:35:38'),
            ('c386d718-5ba2-c6ef-eac6-8b38983132f9', 'customer.plex.ver@example.com', 'Customer Plex Ver', '2025-01-03 02:50:38', '2025-01-03 02:50:38'),
            ('ca5242d7-aed2-4af7-aa1a-913de0003959', 'customer.quo.plex@mail.local', 'Customer Quo Plex', '2025-01-07 08:34:11', '2025-01-07 08:34:11'),
            ('d904c90f-2954-511b-8a59-197da6e7ffe9', 'customer.lum.ver@mail.local', 'Customer Lum Ver', '2025-01-07 19:13:41', '2025-01-07 19:13:41'),
            ('d92b64c1-9612-8415-4ff5-649737c98c53', 'customer.quo.gen@mail.local', 'Customer Quo Gen', '2025-01-03 13:16:10', '2025-01-03 13:16:10'),
            ('db4d4e4d-7e9c-5ef7-2647-bf0300ee8093', 'customer.nex.ver@mail.local', 'Customer Nex Ver', '2025-01-02 19:49:28', '2025-01-02 19:49:28'),
            ('db65a185-7b95-9044-f6f6-a82cfc5db063', 'customer.plex.ver@mail.local', 'Customer Plex Ver', '2025-01-02 00:40:01', '2025-01-02 00:40:01'),
            ('e2a91808-1e39-060c-47f9-b64db542b681', 'customer.plex.nex@example.com', 'Customer Plex Nex', '2025-01-06 05:58:08', '2025-01-06 05:58:08'),
            ('e52761e2-57d1-2417-201e-c2f4aa36f1c6', 'customer.tri.quo@example.com', 'Customer Tri Quo', '2025-01-05 09:11:53', '2025-01-05 09:11:53'),
            ('e60fd71d-25a2-a297-989c-34a9fb904278', 'customer.quo.zon@mail.local', 'Customer Quo Zon', '2025-01-03 22:28:17', '2025-01-03 22:28:17'),
            ('eaf0b928-e749-430f-0646-f3c3e2af4d6b', 'customer.plex.nex@mail.local', 'Customer Plex Nex', '2025-01-07 22:48:13', '2025-01-07 22:48:13')
        ) AS t(customer_id, email, name, ca, ua)
        ORDER BY customer_id
    """


def monitoring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18/R19 monitoring as a driver-checkable query: run a tiny
    seeded ingest with the StatsListener attached and return the
    DETERMINISTIC monitoring aggregates — total records processed /
    failed from ``processing_stats`` (count-invariant: batch slicing
    varies with file triggers, totals don't) and the
    ``consumer_offsets`` ledger summary (partition count + committed
    offsets, fixed by the seeded partitioner). Wall-clock columns are
    intentionally excluded. The listener receives progress events
    asynchronously: the query waits up to ``LISTENER_WAIT_S`` for all
    30 input rows to reach it and raises ``TimeoutError`` past that,
    rather than build the stats from a partial count."""
    listener = I.StatsListener("customers_silver")
    spark.streams.addListener(listener)
    try:
        # same memo discipline as streaming_ingest_roundtrip (single
        # publish spec); the monitored INGEST runs fresh every call
        topics, _ = FX.produced_topics_fixture(
            spark, product_count=0, customer_count=30, order_count=0,
            event_count=0, seed=21, n_partitions=2,
            entities=("customers",),
        )
        with FX.scratch_dir("eng_mon_q_") as tmp:
            with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
                q = I.run_ingest(
                    spark,
                    f"{topics}/customers",
                    "customers",
                    f"{tmp}/silver",
                    f"{tmp}/ckpt",
                    offsets_path=f"{tmp}/offsets",
                )
                FX.await_run(q, "monitoring_stats")
            # poll the listener's in-memory rows (driver-side, free;
            # rows are (table, n_input, n_failed, ts, duration_ms))
            deadline = time.time() + LISTENER_WAIT_S
            while (seen := sum(r[1] for r in list(listener.rows))) < 30:
                if time.time() >= deadline:
                    raise TimeoutError(
                        f"monitoring_stats: listener saw {seen}/30 input rows "
                        f"within {LISTENER_WAIT_S}s"
                    )
                time.sleep(0.05)
            srow = listener.to_df(spark).agg(
                F.sum("records_processed").alias("records_processed_total"),
                F.sum("records_failed").alias("records_failed_total"),
            ).collect()[0]
            orow = (
                storage.read_parquet(
                    spark, f"{tmp}/offsets", CONSUMER_OFFSETS_SCHEMA
                )
                .agg(
                    F.count("*").alias("n_partitions"),
                    F.sum("offset_committed").alias("offsets_committed_sum"),
                    F.countDistinct("consumer_group").alias("n_consumer_groups"),
                )
                .collect()[0]
            )
        return spark.createDataFrame(
            [
                (
                    "customers_silver",
                    int(srow["records_processed_total"]),
                    int(srow["records_failed_total"]),
                    int(orow["n_partitions"]),
                    int(orow["offsets_committed_sum"]),
                    int(orow["n_consumer_groups"]),
                )
            ],
            "table_name string, records_processed_total long, "
            "records_failed_total long, n_partitions long, "
            "offsets_committed_sum long, n_consumer_groups long",
        )
    finally:
        spark.streams.removeListener(listener)


# Analytic constants: one 30-row batch over 2 partitions → max offsets
# 14+14 = 28 committed, 0 failures, 1 consumer group.
ORACLES["monitoring_stats"] = """
        SELECT 'customers_silver' AS table_name,
               CAST(30 AS BIGINT) AS records_processed_total,
               CAST(0 AS BIGINT) AS records_failed_total,
               CAST(2 AS BIGINT) AS n_partitions,
               CAST(28 AS BIGINT) AS offsets_committed_sum,
               CAST(1 AS BIGINT) AS n_consumer_groups
    """


def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 as ONE driver-checkable query: the full declared pipeline —
    seeded produce → 4 exactly-once entity ingests (incl. the
    order_items cascade) → gold marts — run in a temp workspace; the
    output is the layer-by-layer row inventory. Counts are analytic
    (they equal the requested batch shape; marts row counts follow
    from the generator's domains) except order_items = 66, which is
    seed-deterministic generator output — FROZEN-CONTRACT (golden),
    double-pinned by the pipeline pytest."""
    with FX.scratch_dir("eng_pipe_q_") as tmp:
        with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
            # publish step rides the session topic-tree memo (the
            # seeded produce output is a pure function of the spec;
            # first call per session runs the real produce_batch) —
            # the ingest/validate/marts phases, where the pipeline
            # semantics live, run fresh every call
            s = run_pipeline(spark, tmp, publisher=FX.memo_publisher)
    rows = [
        ("published", k, int(v)) for k, v in sorted(s["published"].items())
    ] + [
        ("silver", k, int(v)) for k, v in sorted(s["silver_counts"].items())
    ] + [
        ("gold", k, int(v)) for k, v in sorted(s["marts"].items())
    ]
    return spark.createDataFrame(
        rows, "layer string, name string, n_rows long"
    ).orderBy("layer", "name")


# Batch-shape counts are analytic; the order_items 66 is
# FROZEN-CONTRACT (seed-deterministic generator output, double-pinned
# by the pipeline pytest).
ORACLES["pipeline_end_to_end"] = """
        SELECT layer, name, CAST(n AS BIGINT) AS n_rows
        FROM (VALUES
            ('published', 'customers', 10),
            ('published', 'events', 50),
            ('published', 'orders', 25),
            ('published', 'products', 10),
            ('silver', 'customers', 10),
            ('silver', 'events', 50),
            ('silver', 'order_items', 66),
            ('silver', 'orders', 25),
            ('silver', 'products', 10),
            ('gold', 'dq_gate', 5),
            ('gold', 'event_type_counts', 5),
            ('gold', 'orders_per_minute', 25),
            ('gold', 'revenue_by_status', 1),
            ('gold', 'top_products_by_quantity', 10)
        ) AS t(layer, name, n)
        ORDER BY layer, name
    """


def streaming_windowed_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 watermarked tumbling-window KPI as a driver-checkable
    query: a fixed event set (two views + one click in the 10:00
    window, later advancer rows, and a LATE row for the already-closed
    window) rides three availableNow trigger runs. Exactly-once
    append-mode emission + watermark late-drop make the result
    deterministic: the late row must NOT reopen or re-emit the 10:00
    window. The four emitted rows are analytic constants (derived
    above), so a literal contract oracle value-gates them."""
    base = dt.datetime(2025, 3, 1, 10, 0, 0)

    def line(offset: int, mm: int, ss: int, etype: str) -> str:
        return _event_line(offset, base + dt.timedelta(minutes=mm, seconds=ss), etype)

    batches = [
        [line(1, 0, 10, "view"), line(2, 0, 40, "view"),
         line(3, 0, 50, "click"), line(4, 15, 0, "view")],
        [line(5, 0, 20, "view"),  # LATE: 10:00 window already closed
         line(6, 30, 0, "view")],
        [line(7, 45, 0, "view")],
    ]
    return _sink_after_runs(
        spark, "streaming_windowed_kpi", batches,
        partial(I.run_windowed_counts, watermark="10 minutes"),
        ("window_start", "type"),
    )


ORACLES["streaming_windowed_kpi"] = """
        SELECT CAST(ws AS TIMESTAMP) AS window_start,
               CAST(we AS TIMESTAMP) AS window_end,
               type,
               CAST(n AS BIGINT) AS n
        FROM (VALUES
            ('2025-03-01 10:00:00', '2025-03-01 10:01:00', 'click', 1),
            ('2025-03-01 10:00:00', '2025-03-01 10:01:00', 'view', 2),
            ('2025-03-01 10:15:00', '2025-03-01 10:16:00', 'view', 1),
            ('2025-03-01 10:30:00', '2025-03-01 10:31:00', 'view', 1)
        ) AS t(ws, we, type, n)
        ORDER BY window_start, type
    """


def streaming_late_drop_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 observability: the watermark's LATE-DROP COUNTER, read from
    the engine's own state-operator metrics (StreamingQueryProgress
    `numRowsDroppedByWatermark`) — the ops-side accounting every
    bounded-lateness pipeline must expose, since a dropped row is
    silent in the sink by design. The counter is summed over the
    ``recentProgress`` of the fixture's own two runs, which each run
    records before it terminates: the read is synchronous, and no
    other stream in the session can pollute it.

    Fixture (1-minute windows, 10-minute watermark, 2 availableNow
    runs): run 1 lands two 10:00-window views + a 10:15 advancer — the
    watermark (10:05) closes the 10:00 window (one 2-count row emits).
    Run 2 lands ONE late view (10:00:20, below the 10:05 watermark —
    dropped by the state store, counter += 1) and a 10:30 advancer
    that closes the 10:15 window. Output: one row
    (n_windows_emitted=2, n_rows_emitted_total=3, n_late_dropped=1) —
    analytic constants → literal contract oracle."""
    base = dt.datetime(2025, 3, 1, 10, 0, 0)

    def line(offset: int, mm: int, ss: int) -> str:
        return _event_line(offset, base + dt.timedelta(minutes=mm, seconds=ss), "view")

    batches = [
        [line(1, 0, 10), line(2, 0, 40), line(3, 15, 0)],
        [line(4, 0, 20), line(5, 30, 0)],  # late row + advancer
    ]
    with FX.scratch_dir("eng_latedrop_q_") as tmp:
        src, sink, ckpt = (os.path.join(tmp, d) for d in ("src", "sink", "ckpt"))
        with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
            runs = FX.run_batches(
                src,
                batches,
                lambda: I.run_windowed_counts(
                    spark, src, sink, ckpt, watermark="10 minutes"
                ),
                "streaming_late_drop_stats",
            )
        dropped = sum(
            op.numRowsDroppedByWatermark
            for q in runs
            for p in q.recentProgress
            for op in p.stateOperators
        )
        out = storage.read_parquet(spark, sink)
        n_windows = out.select("window_start").distinct().count()
        n_rows = int(
            out.agg(F.sum("n").alias("s")).collect()[0]["s"] or 0
        )
        return spark.createDataFrame(
            [(int(n_windows), n_rows, int(dropped))],
            "n_windows_emitted long, n_rows_emitted_total long, "
            "n_late_dropped long",
        ).localCheckpoint(eager=True)


# Analytic constants: two closed windows carrying 2+1 view rows;
# exactly the one below-watermark row is dropped by the state store
# (docstring derivation).
ORACLES["streaming_late_drop_stats"] = """
        SELECT CAST(2 AS BIGINT) AS n_windows_emitted,
               CAST(3 AS BIGINT) AS n_rows_emitted_total,
               CAST(1 AS BIGINT) AS n_late_dropped
    """


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 streaming SESSIONIZATION as a driver-checkable query
    (`ingest.run_session_counts`): per-customer session windows that
    close after 30 minutes of event-time inactivity, over two
    availableNow runs (gap 30 min, watermark 10 min).

    - run 1: c1 events at 10:00 and 10:05 (one session, end = last
      event + gap = 10:35); c2 event at 10:10 (end 10:40). The
      watermark after run 1 (10:10 − 10 min = 10:00) passes neither
      end — nothing emits yet (append-mode sessions emit ONCE, when
      the watermark passes their end).
    - run 2: a single c3 advancer at 12:00 lifts the watermark to
      11:50 — both run-1 sessions close ACROSS RUNS (checkpointed
      session state) and emit; c3's own session stays open forever
      and must emit nothing.

    Expected rows are analytic constants → literal contract oracle."""
    base = dt.datetime(2025, 3, 1, 10, 0, 0)

    def line(offset: int, mm: int, cust: str) -> str:
        return _event_line(offset, base + dt.timedelta(minutes=mm), "page_view", cust)

    batches = [
        [line(1, 0, "c1"), line(2, 5, "c1"), line(3, 10, "c2")],
        [line(4, 120, "c3")],  # watermark advancer; stays open
    ]
    return _sink_after_runs(
        spark, "streaming_session_windows", batches,
        partial(I.run_session_counts, gap="30 minutes", watermark="10 minutes"),
        ("customer_id",),
    )


# Analytic constants: session extents are fixture literals + the
# 30-min gap rule; emission requires the run-2 advancer to pass each
# end (derived in the docstring).
ORACLES["streaming_session_windows"] = """
        SELECT customer_id,
               CAST(ss AS TIMESTAMP) AS session_start,
               CAST(se AS TIMESTAMP) AS session_end,
               CAST(n AS BIGINT) AS n_events
        FROM (VALUES
            ('c1', '2025-03-01 10:00:00', '2025-03-01 10:35:00', 2),
            ('c2', '2025-03-01 10:10:00', '2025-03-01 10:40:00', 1)
        ) AS t(customer_id, ss, se, n)
        ORDER BY customer_id
    """


def streaming_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 stream-stream interval join as a driver-checkable query:
    purchases joined to the same customer's clicks in the strictly
    preceding hour, over three availableNow runs of a file-envelope
    stream (streaming/ingest.attribution_join_stream).

    The fixture pins the interval-join contract exactly:
    - batch 1: clicks at 09:10/09:30 match the 10:00 purchase (2 pairs);
      a click AT 10:00 does not (strict <); an 08:30 click is out of
      range; another customer's purchase finds nothing.
    - batch 2: a 10:20 purchase matches batch-1 clicks still in join
      state ACROSS RUNS (09:30 + the 10:00 one) — checkpointed state,
      2 more pairs; same-timestamped advancer rows on both sides (two
      distinct customers, so they cannot pair) push the watermark.
    - batch 3: a click from before the watermark horizon is dropped on
      arrival and must never produce a pair; a fresh purchase with no
      in-window clicks emits nothing.
    Expected: exactly 4 pairs with fixture-literal timestamps — an
    analytic contract, value-gated by a literal oracle.
    """
    day = dt.datetime(2025, 3, 1)

    def line(offset: int, hh: int, mm: int, etype: str, cust: str, eid: str) -> str:
        at = day + dt.timedelta(hours=hh, minutes=mm)
        return _event_line(offset, at, etype, cust, eid)

    batches = [
        [
            line(1, 9, 10, "click", "c1", "c11"),
            line(2, 9, 30, "click", "c1", "c10"),
            line(3, 8, 30, "click", "c1", "c13"),  # > 1h before → out
            line(4, 10, 0, "purchase", "c1", "p1"),  # ← c10, c11
            line(5, 10, 0, "click", "c1", "c12"),  # same ts → strict <
            line(6, 10, 0, "purchase", "c2", "p2"),  # no clicks
        ],
        [
            line(7, 10, 20, "purchase", "c1", "p3"),  # ← c10, c12 (state)
            line(8, 11, 30, "click", "cx", "cadv"),  # watermark advancers
            line(9, 11, 30, "purchase", "cy", "padv"),
        ],
        [
            line(10, 9, 40, "click", "c1", "c14"),  # LATE → dropped
            line(11, 11, 25, "purchase", "c1", "p5"),  # nothing in window
        ],
    ]
    return _sink_after_runs(
        spark, "streaming_attribution_join", batches,
        partial(I.run_attribution_join, watermark="10 minutes"),
        ("purchase_id", "click_id"),
    )


# Analytic constants: event times are fixture literals; the
# watermark/strict-< semantics decide pair membership (docstring).
ORACLES["streaming_attribution_join"] = """
        SELECT purchase_id, customer_id,
               CAST(pus AS BIGINT) AS purchase_us,
               click_id,
               CAST(cus AS BIGINT) AS click_us
        FROM (VALUES
            ('p1', 'c1', 1740823200000000, 'c10', 1740821400000000),
            ('p1', 'c1', 1740823200000000, 'c11', 1740820200000000),
            ('p3', 'c1', 1740824400000000, 'c10', 1740821400000000),
            ('p3', 'c1', 1740824400000000, 'c12', 1740823200000000)
        ) AS t(purchase_id, customer_id, pus, click_id, cus)
        ORDER BY purchase_id, click_id
    """


def streaming_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 stream-stream LEFT OUTER interval join
    (`ingest.attribution_join_stream(how="leftOuter")`): purchases
    joined to the same customer's clicks in the strictly preceding
    hour, with UNMATCHED purchases emitted NULL-joined — the
    abandoned-journey feed. The outer semantics under watermarks are
    the pinned contract:

    - b1: click c1@09:30 + purchase c1@10:00 match IMMEDIATELY
      (inner-path pair); purchase c2@10:00 has no clicks and must NOT
      emit yet — a matching click could still arrive.
    - b2: 11:30 advancer rows (distinct customers). Nothing emits —
      the watermark during b2 still derives from b1 (09:50).
    - b3: 13:30 advancers. The watermark is now 11:20 > 10:00, so the
      engine can PROVE no click can ever match p2 → (p2, NULL) emits
      at state eviction, one micro-batch after the advancing data —
      the essential outer-join latency every consumer must understand.
    - b4: a 15:30 advancer click lifts the watermark past 11:30 → the
      b2 advancer purchase (py) emits NULL-joined; the b3 purchase
      (pz, 13:30 vs watermark 13:20) stays in state and must NOT.

    Exactly 3 rows with fixture-literal timestamps — analytic
    contract, literal oracle."""
    day = dt.datetime(2025, 3, 1)

    def line(offset: int, hh: int, mm: int, etype: str, cust: str, eid: str) -> str:
        at = day + dt.timedelta(hours=hh, minutes=mm)
        return _event_line(offset, at, etype, cust, eid)

    batches = [
        [
            line(1, 9, 30, "click", "c1", "c10"),
            line(2, 10, 0, "purchase", "c1", "p1"),  # ← c10
            line(3, 10, 0, "purchase", "c2", "p2"),  # no clicks ever
        ],
        [
            line(4, 11, 30, "click", "cx", "cx1"),  # advancers
            line(5, 11, 30, "purchase", "cy", "py"),
        ],
        [
            line(6, 13, 30, "click", "cx", "cx2"),  # flush p2
            line(7, 13, 30, "purchase", "cz", "pz"),
        ],
        [
            line(8, 15, 30, "click", "cx", "cx3"),  # flush py, not pz
        ],
    ]
    return _sink_after_runs(
        spark, "streaming_outer_attribution", batches,
        partial(I.run_attribution_join, watermark="10 minutes", how="leftOuter"),
        ("purchase_id",),
    )


# Literal contract oracle — the three rows (one matched pair, two
# watermark-evicted NULL-joined purchases) are analytic constants of
# the fixture.
ORACLES["streaming_outer_attribution"] = """
        SELECT purchase_id, customer_id,
               CAST(purchase_us AS BIGINT) AS purchase_us,
               click_id, CAST(click_us AS BIGINT) AS click_us
        FROM (VALUES
            ('p1', 'c1', epoch_us(TIMESTAMP '2025-03-01 10:00:00'),
             'c10', epoch_us(TIMESTAMP '2025-03-01 09:30:00')),
            ('p2', 'c2', epoch_us(TIMESTAMP '2025-03-01 10:00:00'),
             CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)),
            ('py', 'cy', epoch_us(TIMESTAMP '2025-03-01 11:30:00'),
             CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT))
        ) AS t(purchase_id, customer_id, purchase_us, click_id, click_us)
        ORDER BY purchase_id
    """


def streaming_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 stream-to-STATIC broadcast enrichment as a driver-checkable
    query: purchase envelopes joined LEFT to a customer-segment dim
    table over two availableNow runs, with the dim OVERWRITTEN between
    runs (`streaming/ingest.run_dim_enrichment`).

    The fixture pins the stream-static contract exactly:
    - run 1 (dim v1: c1→gold, c2→silver): p1/c1→gold, p2/c2→silver,
      and p3/c9 (unknown customer) keeps NULL — the LEFT join never
      drops a purchase;
    - run 2 (dim v2: c2→gold, c3→bronze): p4/c2→GOLD (the updated
      row, not run-1's silver — each run snapshots the CURRENT dim),
      p5/c3→bronze (a key that did not exist at run 1), p6/c1→gold.
    Expected: exactly 6 fixture-literal rows (a literal contract
    oracle)."""
    at = dt.datetime(2025, 3, 1, 10, 0, 0)

    def line(offset: int, cust: str, eid: str) -> str:
        return _event_line(offset, at, "purchase", cust, eid)

    runs = [
        (
            [("c1", "gold"), ("c2", "silver")],
            [line(1, "c1", "p1"), line(2, "c2", "p2"), line(3, "c9", "p3")],
        ),
        (
            [("c1", "gold"), ("c2", "gold"), ("c3", "bronze")],
            [line(4, "c2", "p4"), line(5, "c3", "p5"), line(6, "c1", "p6")],
        ),
    ]
    with FX.scratch_dir("eng_dimjoin_q_") as tmp:
        src, sink, ckpt, dim = (
            os.path.join(tmp, d) for d in ("src", "sink", "ckpt", "dim")
        )
        for i, (segments, lines) in enumerate(runs):
            spark.createDataFrame(
                segments, "customer_id string, segment string"
            ).write.mode("overwrite").parquet(dim)
            FX.write_jsonl(src, f"b{i}.json", lines)
            FX.await_run(
                I.run_dim_enrichment(spark, src, dim, sink, ckpt),
                "streaming_dim_enrichment",
            )
        out = storage.read_parquet(spark, sink).select(
            "purchase_id", "customer_id", "segment"
        )
        return out.orderBy("purchase_id").localCheckpoint(eager=True)


ORACLES["streaming_dim_enrichment"] = """
    SELECT * FROM (VALUES
        ('p1', 'c1', 'gold'),
        ('p2', 'c2', 'silver'),
        ('p3', 'c9', CAST(NULL AS VARCHAR)),
        ('p4', 'c2', 'gold'),
        ('p5', 'c3', 'bronze'),
        ('p6', 'c1', 'gold')
    ) AS t(purchase_id, customer_id, segment)
    ORDER BY purchase_id
"""


def streaming_funnel_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 CUSTOM STATEFUL operator (``applyInPandasWithState``):
    ordered-funnel CEP matching — page_view → add_to_cart → purchase
    per customer, with an event-time abandonment timeout. Semantics a
    session_window cannot express (ordered pattern + mid-stream
    emission + timeout obituaries); see ``streaming/stateful.py``.

    Fixture (2 availableNow runs, gap=5 min, watermark=1 min):
    - c1 completes the funnel inside run 1 — its three stage events are
      DELIVERED OUT OF ORDER in the file (purchase first) plus a
      neutral product_view, proving in-batch event-time ordering and
      stage-neutral events; emits (converted, 10:00:00 → 10:02:00, 3)
      during run 1.
    - c2 reaches add_to_cart (10:00:30 → 10:01:30) then goes quiet;
      its timeout (10:06:30) fires once run 2 advances the watermark
      past it — emits (abandoned, add_to_cart, 2).
    - c3/c4 are run-2 watermark advancers (page_view 10:20 / 10:30).
      c4's funnel stays OPEN (in state, emits nothing: the watermark
      never passes its 10:35 timeout); c3's own timeout (10:25) is
      passed by c4's advance (watermark 10:29) in run 2's trailing
      no-data batch — it emits the single-stage obituary (abandoned,
      page_view, 1), covering the stage-1 abandonment path too.
    - run 2 also replays a LATE purchase for c2 (event time 10:00:50,
      below run 1's 10:01:00 watermark): the lateness bound must drop
      it — no resurrection, no spurious conversion.

    All three emitted rows are analytic constants → literal contract
    oracle."""
    base = dt.datetime(2025, 3, 1, 10, 0, 0)

    def line(offset: int, mm: int, ss: int, cust: str, etype: str) -> str:
        at = base + dt.timedelta(minutes=mm, seconds=ss)
        return _event_line(offset, at, etype, cust)

    batches = [
        [  # run 1: c1 full funnel OUT OF ORDER + neutral event;
           # c2 partial funnel
            line(1, 2, 0, "c1", "purchase"),
            line(2, 0, 0, "c1", "page_view"),
            line(3, 0, 20, "c1", "product_view"),
            line(4, 1, 0, "c1", "add_to_cart"),
            line(5, 0, 30, "c2", "page_view"),
            line(6, 1, 30, "c2", "add_to_cart"),
        ],
        [  # run 2: both advancers + LATE purchase for c2, event
           # time 10:00:50 < the 10:01:00 watermark run 1 left
           # behind (10:02:00 max − 1 min delay) — the lateness
           # bound must drop it, else it would wrongly convert c2.
           # The data batch lifts the watermark to 10:29; the
           # trailing NO-DATA batch (Spark runs one whenever a
           # watermark advance can fire timeouts — availableNow
           # included) then abandons c2 and c3 in the same run.
            line(7, 20, 0, "c3", "page_view"),
            line(8, 30, 0, "c4", "page_view"),
            line(9, 0, 50, "c2", "purchase"),
        ],
    ]
    # 1 state partition (not the usual 4): the stateful pandas op
    # spins an Arrow python-worker per state partition per run — at 4
    # customers that is pure fixture overhead (~3× wall).
    return _sink_after_runs(
        spark, "streaming_funnel_cep", batches,
        partial(ST.run_funnel_matcher, gap_s=300, watermark="1 minute"),
        ("customer_id",),
        conf={"spark.sql.shuffle.partitions": "1"},
    )


# ANALYTIC constants — the three funnel resolutions are derived on
# paper in the fixture docstring (c1 converts inside run 1; c2's and
# c3's event-time timeouts fire once later advancers push the
# watermark past them; c4 stays open and emits nothing; the late
# replay is dropped by the lateness bound).
ORACLES["streaming_funnel_cep"] = """
        SELECT customer_id, outcome, last_stage,
               CAST(sa AS TIMESTAMP) AS started_at,
               CAST(la AS TIMESTAMP) AS last_event_at,
               CAST(n AS INT) AS n_events
        FROM (VALUES
            ('c1', 'converted', 'purchase',
             '2025-03-01 10:00:00', '2025-03-01 10:02:00', 3),
            ('c2', 'abandoned', 'add_to_cart',
             '2025-03-01 10:00:30', '2025-03-01 10:01:30', 2),
            ('c3', 'abandoned', 'page_view',
             '2025-03-01 10:20:00', '2025-03-01 10:20:00', 1)
        ) AS t(customer_id, outcome, last_stage, sa, la, n)
        ORDER BY customer_id
    """


def streaming_continuous_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 continuous aggregate as a driver-checkable query: the
    revenue-by-status view maintained INCREMENTALLY per micro-batch by
    `streaming/contagg.run_ingest_with_agg` (epoch-marker exactly-once,
    refresh-from-pre-image before the idempotent upsert), over two
    availableNow runs of an order-envelope stream:

    - batch 1: 12 pending orders o01..o12, totals 10..120.
    - batch 2: o01..o04 transition to 'shipped' (same totals, later
      updated_at — exercising the RETRACT side: pending loses those 4
      orders and 100.00 of revenue) + 3 new pending o13..o15
      (130+140+150).

    Final view is an analytic constant: pending (8 survivors: 680) +
    (3 new: 420) = 11 orders / 1100.00; shipped = 4 orders / 100.00 —
    value-gated by a literal oracle. Refresh ≡ full recompute over the
    final silver is additionally asserted in tests (incl. epoch
    replay)."""
    day = dt.datetime(2025, 3, 1)

    def line(offset: int, oid: str, total: float, status: str, upd_min: int) -> str:
        created = day.strftime("%Y-%m-%dT%H:%M:%SZ")
        updated = (day + dt.timedelta(minutes=upd_min)).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        )
        payload = {
            "order_id": oid,
            "customer_id": "c1",
            "items": [],
            "total": total,
            "status": status,
            "created_at": created,
            "updated_at": updated,
        }
        return FX.envelope_line("orders", offset, oid, payload, consumed_at=created)

    batches = [
        [line(i, f"o{i:02d}", i * 10.0, "pending", 0) for i in range(1, 13)],
        [line(100 + i, f"o{i:02d}", i * 10.0, "shipped", 30) for i in range(1, 5)]
        + [line(100 + i, f"o{i:02d}", i * 10.0, "pending", 30) for i in range(13, 16)],
    ]
    with FX.scratch_dir("eng_contagg_q_") as tmp:
        src, silver, agg, ckpt = (
            os.path.join(tmp, d) for d in ("src", "silver", "agg", "ckpt")
        )
        with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
            FX.run_batches(
                src,
                batches,
                lambda: CA.run_ingest_with_agg(
                    spark, src, "orders", silver, agg, ckpt,
                    group_col="status", sum_col="total",
                ),
                "streaming_continuous_agg",
            )
        return (
            CA.read_continuous_agg(spark, agg)
            .select(
                "status",
                F.col("n_rows").alias("n_orders"),
                F.round(F.col("sum_val").cast("double"), 2).alias(
                    "total_revenue"
                ),
            )
            .orderBy("status")
            .localCheckpoint(eager=True)
        )


# Analytic constants derived in the docstring (batch arithmetic + the
# retract of the 4 status transitions).
ORACLES["streaming_continuous_agg"] = """
        SELECT status,
               CAST(n AS BIGINT) AS n_orders,
               CAST(rev AS DOUBLE) AS total_revenue
        FROM (VALUES
            ('pending', 11, 1100.00),
            ('shipped', 4, 100.00)
        ) AS t(status, n, rev)
        ORDER BY status
    """


def silver_compaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-silver small-files maintenance as a driver-checkable
    query (`ingest.compact_buckets` — the parquet analogue of a table
    OPTIMIZE): a 200-key upsert spreads each bucket's keys across the
    pinned 4 shuffle tasks (AQE coalescing disabled for the write —
    at fixture row counts AQE merges everything into one task, which
    is precisely the luxury a production-scale multi-task write does
    not have), so every bucket directory lands multiple part-files;
    compaction rewrites each fragmented bucket to ONE file and must
    preserve row content exactly. Output is the maintenance invoice:
    fragmented-bucket count, file totals before/after (after ≡ one per
    bucket), and the row-content check (rows_before = rows_after = the
    200 live keys; values re-verified by distinct-count).

    The fragmented-bucket/file counts are FROZEN-CONTRACT constants
    (deterministic: xxhash64 bucket assignment + the pinned fixture
    partitioning decide exactly which buckets fragment and into how
    many files), double-pinned by the compaction pytest; the row
    counts are analytic."""
    batch = _envelopes(
        spark,
        "customers",
        [
            (
                i,
                f"c{i:02d}",
                json.dumps(
                    {
                        "customer_id": f"c{i:02d}",
                        "email": f"c{i:02d}@x.test",
                        "name": f"C{i:02d}",
                        "created_at": "2025-03-01T00:00:00Z",
                        "updated_at": "2025-03-01T00:00:00Z",
                    }
                ),
            )
            for i in range(200)
        ],
    )

    def nfiles(silver: str) -> int:
        return sum(
            1
            for d in os.listdir(silver)
            if d.startswith("bucket=")
            for f in os.listdir(os.path.join(silver, d))
            if f.endswith(".parquet")
        )

    with FX.scratch_dir("eng_compact_q_") as tmp:
        silver = os.path.join(tmp, "silver")
        with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
            with FX.pinned_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
                I.upsert_batch(spark, batch, "customers", silver)
            rows_before = I.read_silver(spark, silver, "customers").count()
            files_before = nfiles(silver)
            report = I.compact_buckets(spark, silver)
            files_after = nfiles(silver)
            after = I.read_silver(spark, silver, "customers")
            rows_after = after.count()
            distinct_after = after.select("customer_id").distinct().count()
    return spark.createDataFrame(
        [(
            len(report),
            files_before,
            files_after,
            int(rows_before),
            int(rows_after),
            int(distinct_after),
        )],
        "n_fragmented_buckets long, files_before long, files_after long, "
        "rows_before long, rows_after long, distinct_keys long",
    )


# Rows/distinct-keys are ANALYTIC (200 live keys in, content
# preserved); the fragmentation counts are FROZEN-CONTRACT
# (deterministic given xxhash64 bucketing + the fixture's pinned
# 4-task AQE-off write: 16 buckets fragment into 60 files, compaction
# leaves exactly one per bucket), double-pinned by the compaction
# pytest.
ORACLES["silver_compaction_report"] = """
        SELECT CAST(16 AS BIGINT) AS n_fragmented_buckets,
               CAST(60 AS BIGINT) AS files_before,
               CAST(16 AS BIGINT) AS files_after,
               CAST(200 AS BIGINT) AS rows_before,
               CAST(200 AS BIGINT) AS rows_after,
               CAST(200 AS BIGINT) AS distinct_keys
    """


def cdc_bucket_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed-silver CDC loop as a driver-checkable query
    (`streaming/ingest.cdc_refresh_buckets` — SCALE.md's "run the CDC
    loop per bucket" realized end to end): snapshot, mutate, diff the
    TOUCHED BUCKETS ONLY, refresh a per-group aggregate from the change
    feed, and prove the untouched buckets were never rewritten.

    Fixture: batch A upserts 12 pending orders o01..o12 (totals
    10..120) into bucketed silver; the snapshot is copied; batch B
    transitions o01, o02 to 'shipped' and inserts a new pending o13
    (130) — three keys, three distinct xxhash64 buckets (frozen:
    {0, 7, 3}). The CDC refresh then runs against the OLD snapshot
    reading only those buckets, and the output is the full audit:

    - n_pending=11 / 880.00, n_shipped=2 / 30.00 — ANALYTIC constants
      (o03..o12 stay pending: 750, + o13: 130; the two transitions
      carry 30);
    - n_touched_buckets=3 — FROZEN contract (pure function of
      xxhash64 of the fixed keys);
    - untouched_byte_identical — every bucket directory outside the
      touched set must be BYTE-IDENTICAL between snapshots (the
      upsert never rewrote it; the property that makes per-trigger
      work O(touched) not O(table));
    - refresh_equals_recompute — the pruned-read refresh must equal a
      full recompute over the new snapshot.

    Double-pinned by tests/test_streaming.py's end-to-end CDC test."""

    def env(rows: list[tuple[int, str, float, str, int]]) -> DataFrame:
        return _envelopes(
            spark,
            "orders",
            [
                (
                    off,
                    oid,
                    json.dumps(
                        {
                            "order_id": oid,
                            "customer_id": "c1",
                            "items": [],
                            "total": total,
                            "status": status,
                            "created_at": "2025-03-01T00:00:00Z",
                            "updated_at": f"2025-03-01T00:{upd:02d}:00Z",
                        }
                    ),
                )
                for off, oid, total, status, upd in rows
            ],
        )

    with FX.scratch_dir("eng_cdc_q_") as tmp:
        silver = os.path.join(tmp, "silver")
        old_snap = os.path.join(tmp, "silver_old")
        batch_a = env(
            [(i, f"o{i:02d}", i * 10.0, "pending", 0) for i in range(1, 13)]
        )
        I.upsert_batch(spark, batch_a, "orders", silver)
        shutil.copytree(silver, old_snap)
        batch_b = env(
            [
                (100, "o01", 10.0, "shipped", 30),
                (101, "o02", 20.0, "shipped", 30),
                (102, "o13", 130.0, "pending", 30),
            ]
        )
        touched = I.upsert_batch(spark, batch_b, "orders", silver)
        touched_dirs = {f"bucket={b}" for b in touched}
        identical = True
        for d in os.listdir(old_snap):
            if not d.startswith("bucket=") or d in touched_dirs:
                continue
            old_dir = os.path.join(old_snap, d)
            new_dir = os.path.join(silver, d)
            old_files = sorted(
                f for f in os.listdir(old_dir) if f.endswith(".parquet")
            )
            new_files = (
                sorted(f for f in os.listdir(new_dir) if f.endswith(".parquet"))
                if os.path.isdir(new_dir)
                else []
            )
            if old_files != new_files:
                identical = False
                continue
            for f in old_files:
                with open(os.path.join(old_dir, f), "rb") as fa, open(
                    os.path.join(new_dir, f), "rb"
                ) as fb:
                    if fa.read() != fb.read():
                        identical = False
        agg = lambda df: df.groupBy("status").agg(  # noqa: E731
            F.count("*").alias("n_rows"),
            F.sum(money("total")).alias("sum_val"),
        )
        prev_agg = agg(I.read_bucketed(spark, old_snap, "orders"))
        refreshed = I.cdc_refresh_buckets(
            spark, old_snap, silver, "orders", touched, "status", "total",
            prev_agg,
        )
        as_map = lambda df: {  # noqa: E731
            r["status"]: (r["n_rows"], str(r["sum_val"])) for r in df.collect()
        }
        rmap = as_map(refreshed)
        matches = rmap == as_map(agg(I.read_bucketed(spark, silver, "orders")))
    return spark.createDataFrame(
        [
            (
                int(rmap["pending"][0]),
                float(rmap["pending"][1]),
                int(rmap["shipped"][0]),
                float(rmap["shipped"][1]),
                len(touched),
                bool(identical),
                bool(matches),
            )
        ],
        "n_pending long, pending_revenue double, n_shipped long, "
        "shipped_revenue double, n_touched_buckets long, "
        "untouched_byte_identical boolean, refresh_equals_recompute boolean",
    )


# Analytic constants for the aggregate columns (fixture arithmetic in
# the docstring); n_touched_buckets=3 is FROZEN (pure function of
# xxhash64 over the fixed keys o01, o02, o13 → buckets {0, 7, 3}); the
# two booleans are the tested invariants themselves — byte-identity of
# untouched buckets and refresh ≡ recompute — and must ALWAYS be true.
ORACLES["cdc_bucket_refresh"] = """
        SELECT CAST(11 AS BIGINT) AS n_pending,
               CAST(880.0 AS DOUBLE) AS pending_revenue,
               CAST(2 AS BIGINT) AS n_shipped,
               CAST(30.0 AS DOUBLE) AS shipped_revenue,
               CAST(3 AS BIGINT) AS n_touched_buckets,
               TRUE AS untouched_byte_identical,
               TRUE AS refresh_equals_recompute
    """


#: the user stream of the two sketch fixtures, three files: view-users
#: 0..99, 50..149, 100..199 (overlapping) and click-users 0..49, so the
#: stream's distinct sets are exactly views 0..199 / clicks 0..49
_USER_BATCHES = [
    [(i, "view") for i in range(0, 100)],
    [(i, "view") for i in range(50, 150)],
    [(i, "view") for i in range(100, 200)] + [(i, "click") for i in range(0, 50)],
]


@contextmanager
def _user_stream(spark: SparkSession, what: str, start: Callable) -> Iterator[str]:
    """Land ``_USER_BATCHES`` as three JSON-lines files and run
    ``start(spark, src, out, ckpt)`` over them in a scratch dir, then
    yield ``out`` (removed when the block exits). Files 0+1 share one run
    (a sketch depends only on the union multiset); file 2 is a second
    run, so the cross-run merge against the PERSISTED sketch is still
    what produces the final answer."""
    with FX.scratch_dir(f"eng_{what}_") as tmp:
        src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
        with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
            for run in ((0, 1), (2,)):
                for bi in run:
                    FX.write_jsonl(
                        src,
                        f"b{bi}.json",
                        (
                            json.dumps({"user_id": i, "event_type": t})
                            for i, t in _USER_BATCHES[bi]
                        ),
                    )
                FX.await_run(start(spark, src, out, ckpt), what)
        yield out


def streaming_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 + sketches: approximate distinct users maintained over a
    STREAM — two availableNow runs feed a foreachBatch that
    max-merges HLL registers into a persisted table (bounded state:
    256 rows per event type, forever; replay-idempotent because max
    is idempotent). Because HLL over a multiset equals HLL over its
    support, the DuckDB oracle COMPUTES the same registers from
    generate_series and must reproduce the estimate bit-for-bit. A
    real algorithmic oracle for a streaming query, not a literal: it
    proves the cross-batch register merge is lossless."""
    with _user_stream(spark, "streaming_hll_users", SS.run_hll_stream) as regs:
        return (
            SS.estimates(spark, regs)
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )


# A COMPUTED oracle — DuckDB rebuilds the stream's distinct user sets
# from generate_series (HLL over a multiset == HLL over its support)
# and runs the identical HLL: md5 registers, exact integer fold, linear
# counting.
ORACLES["streaming_hll_users"] = """
        WITH rows_ AS (
            SELECT unnest(generate_series(0, 199)) AS user_id,
                   'view' AS event_type
            UNION ALL
            SELECT unnest(generate_series(0, 49)) AS user_id,
                   'click' AS event_type
        ),
        r AS (
            SELECT event_type,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
                        AS INT) AS bkt,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 15))::BIGINT AS v
            FROM rows_
        ),
        regs AS (
            SELECT event_type, bkt,
                   MAX(CASE WHEN v = 0 THEN 61
                            ELSE 60 - CAST(FLOOR(log2(v)) AS INT) END) AS m
            FROM r GROUP BY 1, 2
        ),
        folded AS (
            SELECT event_type,
                   SUM(CAST(pow(2, 61 - m) AS DECIMAL(38,0))) AS s,
                   COUNT(*) AS present
            FROM regs GROUP BY 1
        ),
        est AS (
            SELECT event_type,
                   (256 - present)
                       + CAST(s AS DOUBLE) / CAST(2305843009213693952 AS DOUBLE)
                       AS sum_inv,
                   256 - present AS v_empty
            FROM folded
        ),
        scored AS (
            SELECT event_type,
                   CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 256)
                       * 256 * 256 / sum_inv AS e_raw,
                   v_empty
            FROM est
        )
        SELECT event_type,
               ROUND(CASE WHEN e_raw <= CAST(2.5 AS DOUBLE) * 256 AND v_empty > 0
                          THEN 256 * ln(256 / v_empty)
                          ELSE e_raw END, 2) AS hll_estimate
        FROM scored
        ORDER BY event_type
    """


def streaming_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 + sketches, the SUM-merged counterpart of
    streaming_hll_users: Count-Min counter DELTAS journaled per epoch
    over the same user stream in the same two runs (sum-merge is NOT
    replay-idempotent, so the journal + dedup-by-epoch fold carries
    the exactly-once burden — the treatment the HLL's max-merge
    doesn't need). Probes five fixed users afterwards. The stream's
    user multiset is exactly [0..99]+[50..149]+[100..199]+[0..49], so
    the DuckDB oracle recomputes the identical all-integer CMS from
    generate_series — equality proves the journaled cross-epoch sum
    is lossless."""
    with _user_stream(spark, "streaming_cms_user_counts", SS.run_cms_stream) as journal:
        counters = SS.cms_counters_from_journal(spark, journal)
        probes = spark.createDataFrame(
            [(i,) for i in (0, 25, 75, 125, 175)], "user_id long"
        )
        return (
            SK.cms_estimate(counters, probes, "user_id")
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )


# COMPUTED oracle — the stream's user multiset rebuilt from
# generate_series, the identical all-integer CMS (salted md5 columns,
# count/min folds).
ORACLES["streaming_cms_user_counts"] = """
        WITH rows_ AS (
            SELECT unnest(generate_series(0, 99)) AS user_id
            UNION ALL SELECT unnest(generate_series(50, 149))
            UNION ALL SELECT unnest(generate_series(100, 199))
            UNION ALL SELECT unnest(generate_series(0, 49))
        ),
        hashed AS (
            SELECT user_id, r,
                   ('0x' || substr(md5(CAST(r AS VARCHAR) || '|'
                                        || CAST(user_id AS VARCHAR)), 1, 4))::BIGINT
                       % 512 AS c
            FROM rows_, unnest([0, 1, 2, 3]) AS t(r)
        ),
        counters AS (
            SELECT r, c, count(*) AS cnt FROM hashed GROUP BY 1, 2
        ),
        probes AS (
            SELECT u AS user_id, r,
                   ('0x' || substr(md5(CAST(r AS VARCHAR) || '|'
                                        || CAST(u AS VARCHAR)), 1, 4))::BIGINT
                       % 512 AS c
            FROM (VALUES (0), (25), (75), (125), (175)) AS v(u),
                 unnest([0, 1, 2, 3]) AS t(r)
        )
        SELECT CAST(user_id AS BIGINT) AS user_id, MIN(cnt) AS cms_estimate
        FROM probes JOIN counters USING (r, c)
        GROUP BY 1 ORDER BY 1
    """


def _dedup_tally(
    spark: SparkSession,
    what: str,
    schema,
    batches: list[list[tuple]],
    start: Callable,
    read: Callable[[SparkSession, str], DataFrame],
    n_col: str,
) -> DataFrame:
    """Per-batch novel/dup tally of a streaming dedup: append each
    batch to a parquet source and run ``start(spark, src, work, ckpt)``
    to completion after it — the runs share one checkpoint, so the file
    source's exactly-once tracking makes each run process ONLY the new
    file (the crawl-snapshot loop) — then count ``read(spark, work)``'s
    decisions per batch: ``n_col`` rows, ``n_novel``, ``n_dup``.

    repartition(1), NOT coalesce(1): a local-data frame parallelizes
    over defaultParallelism Python partitions, and coalesce makes ONE
    task drain all of them through sequential Python-worker
    round-trips (~4.5 s for 32); the shuffle keeps the Python stage
    parallel and costs ~0.2 s."""
    with FX.scratch_dir(f"eng_{what}_") as tmp:
        src, work, ckpt = f"{tmp}/src", f"{tmp}/work", f"{tmp}/ckpt"
        with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
            for batch in batches:
                spark.createDataFrame(batch, schema).repartition(1).write.mode(
                    "append"
                ).parquet(src)
                FX.await_run(start(spark, src, work, ckpt), what)
        return (
            read(spark, work)
            .groupBy("batch_id")
            .agg(
                F.count("*").alias(n_col),
                F.sum(F.when(~F.col("is_dup"), 1).otherwise(0))
                .cast("long")
                .alias("n_novel"),
                F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
                .cast("long")
                .alias("n_dup"),
            )
            .orderBy("batch_id")
            .localCheckpoint(eager=True)
        )


def streaming_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup as a driver-checkable query (the
    streaming counterpart of the docs_neardup_* family): batch 1 lands
    10 synthetic docs with pairwise-disjoint vocab (J = 0
    analytically); batch 2 lands 5 near-copies of batch-1 docs (last
    token dropped → J = 37/38 over 3-shingles, far above the 0.5
    threshold) plus 5 novel disjoint-vocab docs, each batch one run
    (:func:`_dedup_tally`). Contract (analytic constants ⇒ literal
    VALUES oracle): batch 0 → 10 novel / 0 dup; batch 1 → 5 novel /
    5 dup."""

    def doc(i: int, prefix: str, drop_last: bool = False) -> tuple[int, str]:
        toks = [f"{prefix}{i}x{j}" for j in range(40)]
        return (i, " ".join(toks[:-1] if drop_last else toks))

    batches = [
        [doc(i, "w") for i in range(10)],
        [(1000 + i, doc(i, "w", drop_last=True)[1]) for i in range(5)]
        + [doc(100 + i, "nov") for i in range(5)],
    ]
    # 16 hashes / 8 bands (r=2): at J = 37/38 the per-band miss is
    # 1 - J² ≈ 0.052, so P(all 8 bands miss) ≈ 5e-11 — recall is
    # analytically certain at a quarter of the default signature width
    # (r=2 costs candidate precision, which exact-Jaccard verification
    # absorbs; it never costs recall)
    return _dedup_tally(
        spark, "streaming_neardup_dedup", ND.DOC_STREAM_SCHEMA, batches,
        partial(ND.run_neardup_stream, num_hashes=16, bands=8),
        ND.read_decisions, "n_docs",
    )


ORACLES["streaming_neardup_dedup"] = """
        SELECT CAST(batch_id AS BIGINT) AS batch_id,
               CAST(n AS BIGINT) AS n_docs,
               CAST(nn AS BIGINT) AS n_novel,
               CAST(nd AS BIGINT) AS n_dup
        FROM (VALUES (0, 10, 10, 0), (1, 10, 5, 5))
             AS t(batch_id, n, nn, nd)
        ORDER BY batch_id
    """


def streaming_embdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EMBEDDING near-dup dedup as a driver-checkable query
    (the vector twin of streaming_neardup_dedup): batch 1 lands 8
    one-hot basis vectors (pairwise cos = 0 analytically); batch 2
    lands 4 scaled copies of batch-1 vectors (scaling preserves
    direction ⇒ cos = 1, and sign-LSH buckets are scale-invariant, so
    recall is DETERMINISTIC — a scaled copy collides with its original
    in every table) plus 4 new one-hots (cos 0 to everything; any
    accidental bucket collision is rejected by exact-cosine verify).
    Contract (analytic constants ⇒ literal VALUES oracle): batch 0 →
    8 novel / 0 dup; batch 1 → 4 novel / 4 dup."""

    def onehot(i: int, pos: int, scale: float = 1.0) -> tuple[int, list[float]]:
        v = [0.0] * 16
        v[pos] = scale
        return (i, v)

    batches = [
        [onehot(i, i) for i in range(8)],
        [onehot(1000 + i, i, scale=2.0) for i in range(4)]
        + [onehot(100 + i, 8 + i) for i in range(4)],
    ]
    return _dedup_tally(
        spark, "streaming_embdedup", ED.EMB_STREAM_SCHEMA, batches,
        ED.run_embdedup_stream, ED.read_decisions, "n_vecs",
    )


ORACLES["streaming_embdedup"] = """
        SELECT CAST(batch_id AS BIGINT) AS batch_id,
               CAST(n AS BIGINT) AS n_vecs,
               CAST(nn AS BIGINT) AS n_novel,
               CAST(nd AS BIGINT) AS n_dup
        FROM (VALUES (0, 8, 8, 0), (1, 8, 4, 4))
             AS t(batch_id, n, nn, nd)
        ORDER BY batch_id
    """

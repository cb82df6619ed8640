"""Generator-pipeline queries (SURVEY §2.2–§2.3): deterministic
synthetic-batch generation exposed through the driver contract.

These ignore ``sf_dir`` (generation needs no input tables) and are
rows-only entries: not SQL-expressible over the testdata, but fully
deterministic per seed — shape and values repeat bit-for-bit across
runs and partitionings (tests/test_generate.py).
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark import storage
from ecommerce_realtime_pipeline_spark.operators import generate as G
from ecommerce_realtime_pipeline_spark.operators import validation as V
from ecommerce_realtime_pipeline_spark.plans import fixtures as FX
from ecommerce_realtime_pipeline_spark.schemas import ENTITY_SCHEMAS
from ecommerce_realtime_pipeline_spark.settings import Settings
from ecommerce_realtime_pipeline_spark.sources import produce as P

SEED = 42

#: per-topic publish counts of a memoized topic tree; written last, so
#: its presence marks the tree complete
_COUNTS_FILE = "_counts.json"


def _await(q, what: str = "streaming fixture", timeout_s: int = 120) -> None:
    """``awaitTermination`` with the return value CHECKED: a hung/slow
    fixture run must fail loudly, not let the query read a partial
    sink and hash-mismatch downstream with no hint of why."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"{what} did not terminate within {timeout_s}s")


@contextmanager
def _pinned_state_partitions(spark: SparkSession, n: int = 4):
    """Streaming fixture queries create fresh checkpoints every call,
    and a checkpoint freezes its state-store count from
    ``spark.sql.shuffle.partitions`` at creation — at the session
    default (32-200) that is dozens of state-store providers per
    stateful operator per run, pure overhead for a ~dozen-row fixture
    (measured 18s → 3s on the stream-stream join). Pin low for the
    fixture's own checkpoint; always restore the session conf."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


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


def _produced_topics_fixture(
    spark: SparkSession, repeats: int = 1, **produce_kw
) -> tuple[str, dict[str, int]]:
    """Session-memoized produced-topics fixture: the per-query SOURCE
    fixtures repeat across the streaming family.

    Builds the seeded topic tree ONCE per (Spark application id, spec)
    by running the REAL ``P.produce_batch`` (``repeats``× into the same
    dir for replayed-offset fixtures) under a session temp dir
    (:mod:`plans.fixtures`), records the returned per-topic counts, and
    hands every later caller the same READ-ONLY directory + counts. The
    tree is a pure function of the spec (seeded generator,
    deterministic partition/offset assignment), so reuse changes no
    query's input bytes. The produce code path itself stays gated: the
    first call per session runs it for real, and
    ``produce_envelopes_shape`` re-runs the envelope pass in-plan every
    time.

    The spec is the memo key, so every ``produce_kw`` value must be
    JSON-encodable; anything else (a ``metrics=`` accumulator, a
    ``Settings``) raises a ``TypeError`` naming the kwarg — memoizing it
    would, on a hit, silently skip the side effect the caller asked
    for."""
    for name, value in produce_kw.items():
        try:
            json.dumps(value)
        except TypeError:
            raise TypeError(
                f"memoized produce cannot take {name}={value!r}: the spec "
                "is the memo key and must be JSON-encodable; call "
                "produce_batch directly for this publish"
            ) from None
    key = json.dumps({"repeats": repeats, **produce_kw}, sort_keys=True)
    path = FX.session_path(spark, "spark_graft_topics_", key)
    counts_file = os.path.join(path, _COUNTS_FILE)

    def _ready(p: str) -> bool:
        return os.path.exists(counts_file)

    def _build(p: str) -> None:
        os.makedirs(p, exist_ok=True)
        counts: dict[str, int] = {}
        for _ in range(repeats):
            counts = P.produce_batch(spark, p, **produce_kw)
        storage.replace_file(p, _COUNTS_FILE, json.dumps(counts))

    FX.build_once(path, _ready, _build)
    with open(counts_file) as fh:
        return path, json.load(fh)


def _link_or_copy(src: str, dst: str) -> None:
    """Hardlink ``src`` to ``dst``; copy when linking fails (e.g. EXDEV:
    the session temp dir and the caller's work dir sit on different
    filesystems)."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _memo_publisher(spark: SparkSession, topics_dir: str, *counts, **kw):
    """Drop-in ``produce_batch`` replacement for fixture pipelines:
    resolve the memoized topic tree for this spec and HARDLINK it into
    the caller's work dir (the envelope files are immutable inputs;
    linking ~a dozen KB-files is sub-millisecond against the ~2 s
    publish it replaces on a warm session). Returns the recorded
    counts — byte-identical to what the real publish returned when the
    fixture was built."""
    product_count, customer_count, order_count, event_count = (
        list(counts) + [None] * (4 - len(counts))
    )[:4]
    src, published = _produced_topics_fixture(
        spark,
        product_count=kw.pop("product_count", product_count),
        customer_count=kw.pop("customer_count", customer_count),
        order_count=kw.pop("order_count", order_count),
        event_count=kw.pop("event_count", event_count),
        **kw,
    )
    shutil.copytree(
        src,
        topics_dir,
        copy_function=_link_or_copy,
        dirs_exist_ok=True,
        ignore=shutil.ignore_patterns(f"{_COUNTS_FILE}*", "*.build-lock"),
    )
    return dict(published)


def gen_batch_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 contract row: batch counts + referential-coherence orphan
    counts (all zero by construction).

    Oracle-checked against ANALYTIC constants (GEN_ORACLES): the
    requested batch shape (10/10/25/50) must come back exactly, and
    coherent generation guarantees zero orphans of any kind — those
    values are the operator's contract, not hash-derived artifacts, so
    a literal oracle is a real pin (any generator regression that drops
    rows or breaks referential coherence hash-mismatches)."""
    batch = G.generate_batch(spark, seed=SEED).drop_indexes().materialize()

    def cnt(df: DataFrame, alias: str) -> DataFrame:
        return df.agg(F.count("*").alias(alias))

    orphan_orders = batch.orders.join(
        batch.customers.select("customer_id"), "customer_id", "left_anti"
    )
    orphan_events = batch.events.join(
        batch.customers.select("customer_id"), "customer_id", "left_anti"
    )
    orphan_items = (
        batch.orders.select(F.explode("items.product_id").alias("product_id"))
        .join(batch.products.select("product_id"), "product_id", "left_anti")
    )
    return (
        cnt(batch.products, "n_products")
        .crossJoin(cnt(batch.customers, "n_customers"))
        .crossJoin(cnt(batch.orders, "n_orders"))
        .crossJoin(cnt(batch.events, "n_events"))
        .crossJoin(cnt(orphan_orders, "orphan_orders"))
        .crossJoin(cnt(orphan_events, "orphan_events"))
        .crossJoin(cnt(orphan_items, "orphan_items"))
    )


def produce_envelopes_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1–S3 contract: publish envelopes for a seeded corrupted batch,
    verified per topic — message count, null keys (must be 0: every
    entity id is non-corruptible), payloads that fail a strict re-parse
    through the entity StructType (must be 0: produce→consume is
    lossless), and orders whose published total disagrees with the
    recomputed items total (must be 0: the S2 ``compute_total`` force
    repairs even a corrupted header before publish).

    Oracle-checked against the ANALYTIC contract constants
    (GEN_ORACLES): 50 messages per topic, zero violations of each kind
    — corruption may mangle payload FIELDS but never the row count, the
    key, JSON well-formedness, or the forced total."""
    settings = Settings(
        corruption_product_rate=0.3,
        corruption_customer_rate=0.3,
        corruption_order_rate=0.3,
        corruption_event_rate=0.3,
    )
    batch = G.generate_batch(
        spark, 50, 50, 50, 50, seed=SEED, corruption_enabled=True, settings=settings
    ).drop_indexes().materialize()
    out: DataFrame | None = None
    for entity, df in (
        ("products", batch.products),
        ("customers", batch.customers),
        ("orders", batch.orders),
        ("events", batch.events),
    ):
        env = P.to_envelope(df, entity, settings)
        parsed = env.withColumn(
            "_p", F.from_json("value", ENTITY_SCHEMAS[entity])
        )
        checks = [
            F.count("*").alias("n_msgs"),
            F.count(F.when(F.col("key").isNull(), 1)).alias("n_null_keys"),
            F.count(F.when(F.col("_p").isNull(), 1)).alias("n_bad_payloads"),
        ]
        if entity == "orders":
            # totals were forced at publish: the parsed-back total must
            # equal a second recompute pass (S2 is idempotent)
            parsed = parsed.withColumn("_rt", P.computed_total(F.col("_p.items")))
            checks.append(
                F.count(F.when(F.col("_p.total") != F.col("_rt"), 1)).alias(
                    "n_total_mismatch"
                )
            )
        else:
            checks.append(F.lit(0).cast("bigint").alias("n_total_mismatch"))
        row = parsed.groupBy("topic").agg(*checks)
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out.orderBy("topic")


def streaming_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 / S3→S6 as a driver-checkable query: publish a seeded
    customer batch TWICE (replayed offsets), run the watermarked
    streaming ingest, return the silver snapshot. Exactly-once landing
    means the replay must vanish: 30 rows, bit-identical generated
    values, no envelope/audit columns (they carry wall-clock). Rows-only
    entry (generation + streaming are not DuckDB-expressible)."""
    import shutil
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming import ingest as I

    tmp = tempfile.mkdtemp(prefix="eng_stream_q_")
    try:
        # session-memoized source fixture: the double publish (the
        # full-offset replay this query gates) runs for real on the
        # first call per session; the resulting topic tree is immutable
        # and shared read-only afterwards. The INGEST below — where the
        # exactly-once/replay semantics live — runs fresh every call.
        topics, _ = _produced_topics_fixture(
            spark, repeats=2, product_count=0, customer_count=30,
            order_count=0, event_count=0, seed=21, n_partitions=2,
            entities=("customers",),
        )
        with _pinned_state_partitions(spark):
            q = I.run_ingest(
                spark, f"{topics}/customers", "customers", f"{tmp}/silver", f"{tmp}/ckpt"
            )
            _await(q)
        silver = I.read_silver(spark, f"{tmp}/silver")
        # localCheckpoint pins the result blocks so the temp dirs can go
        # away before the caller consumes the frame (bench runs this 3×)
        return (
            silver.select("customer_id", "email", "name", "created_at", "updated_at")
            .orderBy("customer_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_windowed_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 watermarked tumbling-window KPI as a driver-checkable
    query: a fixed event set (two views + one click in the 10:00
    window, later advancer rows, and a LATE row for the already-closed
    window) rides three availableNow trigger runs. Exactly-once
    append-mode emission + watermark late-drop make the result
    deterministic: the late row must NOT reopen or re-emit the 10:00
    window. The four emitted rows are analytic constants (derived
    above), so a literal contract oracle value-gates them — the
    streaming machinery itself is not DuckDB-expressible."""
    import datetime as _dt
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming import ingest as I

    base = _dt.datetime(2025, 3, 1, 10, 0, 0)

    def line(offset: int, mm: int, ss: int, etype: str) -> str:
        return _event_line(offset, base + _dt.timedelta(minutes=mm, seconds=ss), etype)

    tmp = tempfile.mkdtemp(prefix="eng_window_q_")
    try:
        src, sink, ckpt = (os.path.join(tmp, d) for d in ("src", "sink", "ckpt"))
        batches = [
            [line(1, 0, 10, "view"), line(2, 0, 40, "view"),
             line(3, 0, 50, "click"), line(4, 15, 0, "view")],
            [line(5, 0, 20, "view"),  # LATE: 10:00 window already closed
             line(6, 30, 0, "view")],
            [line(7, 45, 0, "view")],
        ]
        with _pinned_state_partitions(spark):
            for i, lines in enumerate(batches):
                FX.write_jsonl(src, f"b{i}.json", lines)
                q = I.run_windowed_counts(
                    spark, src, sink, ckpt, watermark="10 minutes"
                )
                _await(q)
        out = spark.read.parquet(sink)
        return out.orderBy("window_start", "type").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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
    analytic contract, value-gated by a literal oracle (the join
    state machinery itself is not DuckDB-expressible).
    """
    import datetime as _dt
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming import ingest as I

    day = _dt.datetime(2025, 3, 1)

    def line(offset: int, hh: int, mm: int, etype: str, cust: str, eid: str) -> str:
        at = day + _dt.timedelta(hours=hh, minutes=mm)
        return _event_line(offset, at, etype, cust, eid)

    tmp = tempfile.mkdtemp(prefix="eng_ssjoin_q_")
    try:
        src, sink, ckpt = (os.path.join(tmp, d) for d in ("src", "sink", "ckpt"))
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
        with _pinned_state_partitions(spark):
            for i, lines in enumerate(batches):
                FX.write_jsonl(src, f"b{i}.json", lines)
                q = I.run_attribution_join(
                    spark, src, sink, ckpt, watermark="10 minutes"
                )
                _await(q)
        out = spark.read.parquet(sink)
        return out.orderBy("purchase_id", "click_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def filesrc_quarantine_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch file-source contract as a driver-checkable query
    (`sources/filesrc`): a seeded 20-customer batch is round-tripped
    through the strict JSONL reader with THREE planted bad records —
    truncated JSON (corrupt capture), an unparseable timestamp string
    (corrupt capture), and a missing required field (nullability net).
    Analytic contract: 20 clean rows come back typed and bit-identical
    (distinct emails prove values, not just counts), exactly 3 rows
    quarantine, exactly 2 of them carry raw text (the missing-field row
    has no corrupt record to capture — that is WHY the nullability net
    exists)."""
    import os
    import shutil
    import tempfile

    from ecommerce_realtime_pipeline_spark.operators import generate as G
    from ecommerce_realtime_pipeline_spark.sources import filesrc as FS

    tmp = tempfile.mkdtemp(prefix="eng_filesrc_q_")
    try:
        path = os.path.join(tmp, "jsonl")
        cust = (
            G.generate_batch(spark, 0, 20, 0, 0, seed=13)
            .drop_indexes()
            .materialize()
            .customers
        )
        FS.write_jsonl(cust, path)
        bad = [
            '{"customer_id": "bad1", "email": ',  # truncated JSON
            '{"customer_id": "bad2", "email": "e", "name": "n", '
            '"created_at": "oops", "updated_at": "2025-03-01T00:00:00Z"}',
            '{"customer_id": "bad3", "email": "e", "name": "n", '
            '"updated_at": "2025-03-01T00:00:00Z"}',  # missing created_at
        ]
        with open(os.path.join(path, "zz_bad.json"), "w") as f:
            f.write("\n".join(bad) + "\n")
        typed, quarantine = FS.read_jsonl(spark, path, "customers")
        n_typed = typed.count()
        n_typed_distinct_email = typed.select("email").distinct().count()
        # one aggregate referencing a DATA column alongside raw_record:
        # a scan whose referenced columns are ONLY the corrupt-record
        # capture is rejected by Spark (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
        qrow = quarantine.agg(
            F.count("*").alias("n_q"),
            F.sum(
                F.when(F.col("raw_record").isNotNull(), 1).otherwise(0)
            ).alias("n_raw"),
            F.count("customer_id").alias("_touch"),
        ).collect()[0]
        n_q, n_q_with_raw = int(qrow["n_q"]), int(qrow["n_raw"] or 0)
        n_expected_emails = cust.select("email").distinct().count()
        return spark.createDataFrame(
            [(
                int(n_typed),
                int(n_typed_distinct_email == n_expected_emails),
                int(n_q),
                int(n_q_with_raw),
            )],
            "n_typed long, emails_roundtrip long, n_quarantined long, "
            "n_quarantined_with_raw long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def silver_compaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-silver small-files maintenance as a driver-checkable
    query (`ingest.compact_buckets` — the parquet analogue of a table
    OPTIMIZE): a 200-key upsert spreads each bucket's keys across the
    pinned 4 shuffle tasks (AQE coalescing disabled for the write —
    at fixture row counts AQE merges everything into one task, which
    is precisely the luxury a production-scale multi-task write does
    not have), so every bucket directory lands multiple part-files; compaction rewrites each fragmented bucket to ONE file
    and must preserve row content exactly. Output is the maintenance
    invoice: fragmented-bucket count, file totals before/after
    (after ≡ one per bucket), and the row-content check (rows_before =
    rows_after = the 200 live keys; values re-verified by
    distinct-count).

    The fragmented-bucket/file counts are FROZEN-CONTRACT constants
    (deterministic: xxhash64 bucket assignment + the pinned fixture
    partitioning decide exactly which buckets fragment and into how
    many files), double-pinned by the compaction pytest; the row
    counts are analytic."""
    import os
    import shutil
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming import ingest as I

    def batch(upd_min: int):
        recs = []
        for i in range(200):
            payload = (
                '{"customer_id": "c%02d", "email": "c%02d@x.test", '
                '"name": "C%02d", "created_at": "2025-03-01T00:00:00Z", '
                '"updated_at": "2025-03-01T00:%02d:00Z"}'
                % (i, i, i, upd_min)
            )
            recs.append(
                ("customers", 0, upd_min * 100 + i, f"c{i:02d}", payload,
                 "2025-03-01T00:00:00Z")
            )
        return spark.createDataFrame(
            recs,
            "topic string, topic_partition int, topic_offset long, "
            "message_key string, payload string, consumed_at string",
        )

    tmp = tempfile.mkdtemp(prefix="eng_compact_q_")
    try:
        silver = os.path.join(tmp, "silver")
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        with _pinned_state_partitions(spark):
            try:
                spark.conf.set("spark.sql.adaptive.enabled", "false")
                I.upsert_batch(spark, batch(0), "customers", silver)
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

            def nfiles() -> int:
                return sum(
                    1
                    for d in os.listdir(silver)
                    if d.startswith("bucket=")
                    for f in os.listdir(os.path.join(silver, d))
                    if f.endswith(".parquet")
                )

            rows_before = I.read_silver(spark, silver).count()
            files_before = nfiles()
            report = I.compact_buckets(spark, silver)
            files_after = nfiles()
            after = I.read_silver(spark, silver)
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
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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
    import json
    import os
    import shutil
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming.ingest import (
        cdc_refresh_buckets,
        upsert_batch,
    )

    def env(rows: list[tuple[int, str, float, str, int]]) -> DataFrame:
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

    tmp = tempfile.mkdtemp(prefix="eng_cdc_q_")
    try:
        silver = os.path.join(tmp, "silver")
        old_snap = os.path.join(tmp, "silver_old")
        batch_a = env(
            [(i, f"o{i:02d}", i * 10.0, "pending", 0) for i in range(1, 13)]
        )
        upsert_batch(spark, batch_a, "orders", silver)
        shutil.copytree(silver, old_snap)
        batch_b = env(
            [
                (100, "o01", 10.0, "shipped", 30),
                (101, "o02", 20.0, "shipped", 30),
                (102, "o13", 130.0, "pending", 30),
            ]
        )
        touched = upsert_batch(spark, batch_b, "orders", silver)
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
            F.sum(F.col("total").cast("decimal(18,2)")).alias("sum_val"),
        )
        prev_agg = agg(spark.read.parquet(old_snap))
        refreshed = cdc_refresh_buckets(
            spark, old_snap, silver, "orders", touched, "status", "total",
            prev_agg,
        )
        as_map = lambda df: {  # noqa: E731
            r["status"]: (r["n_rows"], str(r["sum_val"])) for r in df.collect()
        }
        rmap = as_map(refreshed)
        matches = rmap == as_map(agg(spark.read.parquet(silver)))
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
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_late_drop_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 observability: the watermark's LATE-DROP COUNTER, read from
    the engine's own state-operator metrics (StreamingQueryProgress
    `numRowsDroppedByWatermark`) — the ops-side accounting every
    bounded-lateness pipeline must expose, since a dropped row is
    silent in the sink by design.

    Fixture (1-minute windows, 10-minute watermark, 2 availableNow
    runs): run 1 lands two 10:00-window views + a 10:15 advancer — the
    watermark (10:05) closes the 10:00 window (one 2-count row emits).
    Run 2 lands ONE late view (10:00:20, below the 10:05 watermark —
    dropped by the state store, counter += 1) and a 10:30 advancer
    that closes the 10:15 window. Output: one row
    (n_windows_emitted=2, n_rows_emitted_total=3, n_late_dropped=1) —
    analytic constants → literal contract oracle (the counter itself is
    engine state, not DuckDB-expressible)."""
    import datetime as _dt
    import tempfile
    import threading
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from ecommerce_realtime_pipeline_spark.streaming import ingest as I

    base = _dt.datetime(2025, 3, 1, 10, 0, 0)

    def line(offset: int, mm: int, ss: int) -> str:
        return _event_line(offset, base + _dt.timedelta(minutes=mm, seconds=ss), "view")

    class _DropListener(StreamingQueryListener):
        """Per-QUERY-ID accounting: listeners are session-global, so a
        concurrent stream in the same session would otherwise pollute
        the counters of a fixture that sums them. Events are bucketed by
        ``progress.id`` unconditionally (no registration race — ids
        are only known after ``start()`` returns, which can lose to
        the first async progress event) and the fixture sums ONLY its
        own query ids at read time."""

        def __init__(self) -> None:
            self.by_id: dict[str, list[int]] = {}  # id -> [inputs, dropped]
            self._lock = threading.Lock()

        def onQueryStarted(self, event):  # noqa: N802 (Spark API)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            with self._lock:
                acc = self.by_id.setdefault(str(p.id), [0, 0])
                acc[0] += int(p.numInputRows)
                for op in p.stateOperators:
                    acc[1] += int(op.numRowsDroppedByWatermark)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def totals(self, ids: set[str]) -> tuple[int, int]:
            with self._lock:
                rows = [v for k, v in self.by_id.items() if k in ids]
            return (
                sum(r[0] for r in rows),
                sum(r[1] for r in rows),
            )

    tmp = tempfile.mkdtemp(prefix="eng_latedrop_q_")
    listener = _DropListener()
    spark.streams.addListener(listener)
    try:
        src, sink, ckpt = (os.path.join(tmp, d) for d in ("src", "sink", "ckpt"))
        batches = [
            [line(1, 0, 10), line(2, 0, 40), line(3, 15, 0)],
            [line(4, 0, 20), line(5, 30, 0)],  # late row + advancer
        ]
        fixture_ids: set[str] = set()
        with _pinned_state_partitions(spark):
            for bi, lines in enumerate(batches):
                FX.write_jsonl(src, f"b{bi}.json", lines)
                q = I.run_windowed_counts(
                    spark, src, sink, ckpt, watermark="10 minutes"
                )
                fixture_ids.add(str(q.id))
                _await(q)
        # progress events are dispatched async; wait (bounded) until the
        # listener has accounted for every input row of both runs — and
        # FAIL LOUDLY on the deadline (proceeding with a partial count
        # would flakily break the pinned oracle with no hint of why)
        deadline = time.time() + 30
        while time.time() < deadline:
            inputs, dropped = listener.totals(fixture_ids)
            if inputs >= 5:
                break
            time.sleep(0.05)
        else:
            raise TimeoutError(
                "streaming_late_drop_stats: listener saw "
                f"{listener.totals(fixture_ids)[0]}/5 input rows within 30s"
            )
        out = spark.read.parquet(sink)
        n_windows = out.select("window_start").distinct().count()
        n_rows = int(
            out.agg(F.sum("n").alias("s")).collect()[0]["s"] or 0
        )
        return spark.createDataFrame(
            [(int(n_windows), n_rows, int(dropped))],
            "n_windows_emitted long, n_rows_emitted_total long, "
            "n_late_dropped long",
        ).localCheckpoint(eager=True)
    finally:
        spark.streams.removeListener(listener)
        shutil.rmtree(tmp, ignore_errors=True)


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

    Expected rows are analytic constants → literal contract oracle
    (the session-state machinery is not DuckDB-expressible)."""
    import datetime as _dt
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming import ingest as I

    base = _dt.datetime(2025, 3, 1, 10, 0, 0)

    def line(offset: int, mm: int, cust: str) -> str:
        return _event_line(offset, base + _dt.timedelta(minutes=mm), "page_view", cust)

    tmp = tempfile.mkdtemp(prefix="eng_sessionw_q_")
    try:
        src, sink, ckpt = (os.path.join(tmp, d) for d in ("src", "sink", "ckpt"))
        batches = [
            [line(1, 0, "c1"), line(2, 5, "c1"), line(3, 10, "c2")],
            [line(4, 120, "c3")],  # watermark advancer; stays open
        ]
        with _pinned_state_partitions(spark):
            for bi, lines in enumerate(batches):
                FX.write_jsonl(src, f"b{bi}.json", lines)
                q = I.run_session_counts(
                    spark, src, sink, ckpt, gap="30 minutes",
                    watermark="10 minutes",
                )
                _await(q)
        out = spark.read.parquet(sink)
        return out.orderBy("customer_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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
    import datetime as _dt
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming import contagg as CA

    day = _dt.datetime(2025, 3, 1)

    def line(offset: int, oid: str, total: float, status: str, upd_min: int) -> str:
        created = day.strftime("%Y-%m-%dT%H:%M:%SZ")
        updated = (day + _dt.timedelta(minutes=upd_min)).strftime(
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

    tmp = tempfile.mkdtemp(prefix="eng_contagg_q_")
    try:
        src, silver, agg, ckpt = (
            os.path.join(tmp, d) for d in ("src", "silver", "agg", "ckpt")
        )
        batches = [
            [
                line(i, f"o{i:02d}", i * 10.0, "pending", 0)
                for i in range(1, 13)
            ],
            [
                line(100 + i, f"o{i:02d}", i * 10.0, "shipped", 30)
                for i in range(1, 5)
            ]
            + [
                line(100 + i, f"o{i:02d}", i * 10.0, "pending", 30)
                for i in range(13, 16)
            ],
        ]
        with _pinned_state_partitions(spark):
            for i, lines in enumerate(batches):
                FX.write_jsonl(src, f"b{i}.json", lines)
                q = CA.run_ingest_with_agg(
                    spark, src, "orders", silver, agg, ckpt,
                    group_col="status", sum_col="total",
                )
                _await(q)
        view = CA.read_continuous_agg(spark, agg)
        return (
            view.select(
                "status",
                F.col("n_rows").alias("n_orders"),
                F.round(F.col("sum_val").cast("double"), 2).alias(
                    "total_revenue"
                ),
            )
            .orderBy("status")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 as ONE driver-checkable query: the full declared pipeline —
    seeded produce → 4 exactly-once entity ingests (incl. the
    order_items cascade) → gold marts — run in a temp workspace; the
    output is the layer-by-layer row inventory. Counts are analytic
    (they equal the requested batch shape; marts row counts follow
    from the generator's domains) except order_items = 66, which is
    seed-deterministic generator output — FROZEN-CONTRACT (golden),
    double-pinned by the pipeline pytest."""
    import shutil
    import tempfile

    from ecommerce_realtime_pipeline_spark.pipeline import run_pipeline

    tmp = tempfile.mkdtemp(prefix="eng_pipe_q_")
    try:
        with _pinned_state_partitions(spark):
            # publish step rides the session topic-tree memo (the
            # seeded produce output is a pure function of the spec;
            # first call per session runs the real produce_batch) —
            # the ingest/validate/marts phases, where the pipeline
            # semantics live, run fresh every call
            s = run_pipeline(spark, tmp, publisher=_memo_publisher)
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
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def monitoring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18/R19 monitoring as a driver-checkable query: run a tiny
    seeded ingest with the StatsListener attached and return the
    DETERMINISTIC monitoring aggregates — total records processed /
    failed from ``processing_stats`` (count-invariant: batch slicing
    varies with file triggers, totals don't) and the
    ``consumer_offsets`` ledger summary (partition count + committed
    offsets, fixed by the seeded partitioner). The aggregates are
    analytic fixture constants (30-row batch over 2 partitions → max
    offsets 14+14 = 28 committed, 0 failures, 1 group), value-gated by
    a literal contract oracle; wall-clock columns are intentionally
    excluded."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    from ecommerce_realtime_pipeline_spark.streaming import ingest as I

    tmp = tempfile.mkdtemp(prefix="eng_mon_q_")
    listener = I.StatsListener("customers_silver")
    spark.streams.addListener(listener)
    try:
        # same memo discipline as streaming_ingest_roundtrip (single
        # publish spec); the monitored INGEST runs fresh every call
        topics, _ = _produced_topics_fixture(
            spark, product_count=0, customer_count=30, order_count=0,
            event_count=0, seed=21, n_partitions=2,
            entities=("customers",),
        )
        with _pinned_state_partitions(spark):
            q = I.run_ingest(
                spark,
                f"{topics}/customers",
                "customers",
                f"{tmp}/silver",
                f"{tmp}/ckpt",
                offsets_path=f"{tmp}/offsets",
            )
            _await(q)
        # progress events are dispatched async; wait until the listener
        # has seen all 30 input rows (bounded). Poll the listener's
        # in-memory rows (driver-side, free) at fine granularity and
        # only build the stats frame once satisfied — the old 0.5 s
        # sleep + per-poll Spark agg added ~1 s of pure wait.
        deadline = time.time() + 30
        while time.time() < deadline:
            # rows are (table, n_input, n_failed, ts, duration_ms) tuples
            if sum(r[1] for r in list(listener.rows)) >= 30:
                break
            time.sleep(0.05)
        stats = listener.to_df(spark)
        srow = stats.agg(
            F.sum("records_processed").alias("records_processed_total"),
            F.sum("records_failed").alias("records_failed_total"),
        ).collect()[0]
        orow = (
            spark.read.parquet(f"{tmp}/offsets")
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
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup as a driver-checkable query (the
    streaming counterpart of the docs_neardup_* family): batch 1 lands
    10 synthetic docs with pairwise-disjoint vocab (J = 0
    analytically); batch 2 lands 5 near-copies of batch-1 docs (last
    token dropped → J = 37/38 over 3-shingles, far above the 0.5
    threshold) plus 5 novel disjoint-vocab docs. Two availableNow runs
    share one checkpoint, so the file source's exactly-once tracking
    makes run 2 process ONLY the new file — the crawl-snapshot loop.
    Contract (analytic constants ⇒ literal VALUES oracle): batch 0 →
    10 novel / 0 dup; batch 1 → 5 novel / 5 dup."""
    import shutil
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming import neardup as ND

    def _doc(i: int, prefix: str, drop_last: bool = False) -> tuple[int, str]:
        toks = [f"{prefix}{i}x{j}" for j in range(40)]
        return (i, " ".join(toks[:-1] if drop_last else toks))

    tmp = tempfile.mkdtemp(prefix="eng_neardup_q_")
    try:
        src, work, ckpt = f"{tmp}/src", f"{tmp}/work", f"{tmp}/ckpt"
        # 16 hashes / 8 bands (r=2): at J = 37/38 the per-band miss is
        # 1 - J² ≈ 0.052, so P(all 8 bands miss) ≈ 5e-11 — recall is
        # analytically certain at a quarter of the default signature
        # width (r=2 costs candidate precision, which exact-Jaccard
        # verification absorbs; it never costs recall)
        lsh = {"num_hashes": 16, "bands": 8}
        batch1 = [_doc(i, "w") for i in range(10)]
        batch2 = [(1000 + i, _doc(i, "w", drop_last=True)[1]) for i in range(5)] + [
            _doc(100 + i, "nov") for i in range(5)
        ]
        # foreachBatch joins/aggs run under the session shuffle conf —
        # pin low for the ~dozen-row fixture like the other fixtures do.
        # repartition(1), NOT coalesce(1): a local-data frame parallelizes
        # over defaultParallelism Python partitions, and coalesce makes
        # ONE task drain all of them through sequential Python-worker
        # round-trips (~4.5 s for 32); the shuffle keeps the Python
        # stage parallel and costs ~0.2 s.
        with _pinned_state_partitions(spark):
            for batch in (batch1, batch2):
                spark.createDataFrame(batch, ND.DOC_STREAM_SCHEMA).repartition(
                    1
                ).write.mode("append").parquet(src)
                _await(ND.run_neardup_stream(spark, src, work, ckpt, **lsh))
        return (
            ND.read_decisions(spark, work)
            .groupBy("batch_id")
            .agg(
                F.count("*").alias("n_docs"),
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
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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
    import shutil
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming import embdedup as ED

    dim = 16

    def _onehot(i: int, pos: int, scale: float = 1.0) -> tuple[int, list[float]]:
        v = [0.0] * dim
        v[pos] = scale
        return (i, v)

    tmp = tempfile.mkdtemp(prefix="eng_embdedup_q_")
    try:
        src, work, ckpt = f"{tmp}/src", f"{tmp}/work", f"{tmp}/ckpt"
        batch1 = [_onehot(i, i) for i in range(8)]
        batch2 = [_onehot(1000 + i, i, scale=2.0) for i in range(4)] + [
            _onehot(100 + i, 8 + i) for i in range(4)
        ]
        with _pinned_state_partitions(spark):
            for batch in (batch1, batch2):
                spark.createDataFrame(batch, ED.EMB_STREAM_SCHEMA).repartition(
                    1
                ).write.mode("append").parquet(src)
                _await(ED.run_embdedup_stream(spark, src, work, ckpt))
        return (
            ED.read_decisions(spark, work)
            .groupBy("batch_id")
            .agg(
                F.count("*").alias("n_vecs"),
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
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 + sketches: approximate distinct users maintained over a
    STREAM — two availableNow runs feed a foreachBatch that
    max-merges HLL registers into a persisted table (bounded state:
    256 rows per event type, forever; replay-idempotent because max
    is idempotent). Fixture batches carry view-users 0..99, 50..149,
    100..199 (overlapping!) and click-users 0..49, so the stream's
    TRUE distinct sets are exactly views 0..199 / clicks 0..49 — and
    because HLL over a multiset equals HLL over its support, the
    DuckDB oracle COMPUTES the same registers from generate_series
    and must reproduce the estimate bit-for-bit. A real algorithmic
    oracle for a streaming query, not a literal: it proves the
    cross-batch register merge is lossless."""
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming import sketchstream as SS

    tmp = tempfile.mkdtemp(prefix="eng_hllstream_")
    try:
        src, regs, ckpt = (os.path.join(tmp, d) for d in ("src", "regs", "ckpt"))
        batches = [
            [(i, "view") for i in range(0, 100)],
            [(i, "view") for i in range(50, 150)],
            [(i, "view") for i in range(100, 200)]
            + [(i, "click") for i in range(0, 50)],
        ]
        # batches 0+1 share one run (the estimate depends only on
        # the union multiset); the 2→3 boundary stays a separate run so
        # the cross-run register merge against the PERSISTED table is
        # still what produces the final answer.
        runs = [(0, 1), (2,)]
        with _pinned_state_partitions(spark):
            for run in runs:
                for bi in run:
                    FX.write_jsonl(
                        src,
                        f"b{bi}.json",
                        (
                            json.dumps({"user_id": i, "event_type": t})
                            for i, t in batches[bi]
                        ),
                    )
                q = SS.run_hll_stream(spark, src, regs, ckpt)
                _await(q)
        return (
            SS.estimates(spark, regs)
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 + sketches, the SUM-merged counterpart of
    streaming_hll_users: Count-Min counter DELTAS journaled per epoch
    over the same 3-batch user stream in the same two runs (sum-merge is NOT
    replay-idempotent, so the journal + dedup-by-epoch fold carries
    the exactly-once burden — the treatment the HLL's max-merge
    doesn't need). Probes five fixed users afterwards. The stream's
    user multiset is exactly [0..99]+[50..149]+[100..199]+[0..49], so
    the DuckDB oracle recomputes the identical all-integer CMS from
    generate_series — equality proves the journaled cross-epoch sum
    is lossless."""
    import tempfile

    from ecommerce_realtime_pipeline_spark.operators import sketch as SK
    from ecommerce_realtime_pipeline_spark.streaming import sketchstream as SS

    tmp = tempfile.mkdtemp(prefix="eng_cmsstream_")
    try:
        src, journal, ckpt = (
            os.path.join(tmp, d) for d in ("src", "journal", "ckpt")
        )
        batches = [
            [(i, "view") for i in range(0, 100)],
            [(i, "view") for i in range(50, 150)],
            [(i, "view") for i in range(100, 200)]
            + [(i, "click") for i in range(0, 50)],
        ]
        # same run grouping as streaming_hll_users
        # (counter sums depend only on the union multiset; one cross-run
        # boundary keeps the journaled cross-epoch fold exercised).
        runs = [(0, 1), (2,)]
        with _pinned_state_partitions(spark):
            for run in runs:
                for bi in run:
                    FX.write_jsonl(
                        src,
                        f"b{bi}.json",
                        (
                            json.dumps({"user_id": i, "event_type": t})
                            for i, t in batches[bi]
                        ),
                    )
                q = SS.run_cms_stream(spark, src, journal, ckpt)
                _await(q)
        counters = SS.cms_counters_from_journal(spark, journal)
        probes = spark.createDataFrame(
            [(i,) for i in (0, 25, 75, 125, 175)], "user_id long"
        )
        return (
            SK.cms_estimate(counters, probes, "user_id")
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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
    oracle (the state machinery itself is not DuckDB-expressible)."""
    import datetime as _dt
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming import stateful as ST

    base = _dt.datetime(2025, 3, 1, 10, 0, 0)

    def line(offset: int, mm: int, ss: int, cust: str, etype: str) -> str:
        at = base + _dt.timedelta(minutes=mm, seconds=ss)
        return _event_line(offset, at, etype, cust)

    tmp = tempfile.mkdtemp(prefix="eng_funnel_cep_")
    try:
        src, sink, ckpt = (os.path.join(tmp, d) for d in ("src", "sink", "ckpt"))
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
        # spins an Arrow python-worker per state partition per run —
        # at 4 customers that is pure fixture overhead (~3× wall).
        with _pinned_state_partitions(spark, 1):
            for bi, lines in enumerate(batches):
                FX.write_jsonl(src, f"b{bi}.json", lines)
                q = ST.run_funnel_matcher(
                    spark, src, sink, ckpt, gap_s=300, watermark="1 minute"
                )
                _await(q)
        out = spark.read.parquet(sink)
        return out.orderBy("customer_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def gen_corrupt_validate_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end DQ pipeline: generate → corrupt (forced rates) →
    validate every entity → per-rule quarantine counts (R18). The
    corruption engine exists precisely to exercise validation; this is
    that loop as one deterministic query."""
    settings = Settings(
        corruption_product_rate=0.5,
        corruption_customer_rate=0.5,
        corruption_order_rate=0.5,
        corruption_event_rate=0.5,
    )
    batch = G.generate_batch(
        spark, 100, 100, 100, 100, seed=SEED, corruption_enabled=True, settings=settings
    ).drop_indexes().materialize()
    parents = {"customers": batch.customers}
    out: DataFrame | None = None
    for entity, df in [
        ("products", batch.products),
        ("customers", batch.customers),
        ("orders", batch.orders),
        ("events", batch.events),
    ]:
        _, _, metrics = V.validate_entity(entity, df, parents)
        out = metrics if out is None else out.unionByName(metrics)
    assert out is not None
    return out.orderBy("table_name", "rule")


def gen_corrupt_rates_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SETTINGS surface of the corruption engine, end to end: the
    corruption rates flow env → ``Settings()`` → ``corrupt_batch``
    (the reference's pydantic-settings path, ``settings.py:63-67`` →
    ``corruptions.py:105-122``) at the FORCED non-default value 1.0 —
    the reference's own forced-path regime (``test_corruptions.py:
    84-119``) — then the batch runs validate → quarantine.

    At rate 1.0 every row of every entity takes exactly one corruption
    whose SIGNATURE is paper-derivable (NULLed field, negative value,
    'not-an-email', empty items/description), and for customers/
    orders/events every corruption type violates a constraint
    (generated prices are U(2,500) and quantities ≥ 1, so totals are
    strictly positive and the negated values are strictly negative) —
    hence n_quarantined == n_rows analytically. Products are the
    documented exception: 'empty_description' violates no DDL rule
    and 'negative_stock' is a no-op on a U{0..500} stock of 0, so
    their quarantine count is seed-dependent and intentionally NOT
    emitted (the signature count still is — every corruption leaves
    its mark).

    The env overrides are scoped (set → Settings() → restored) so the
    query is deterministic under any ambient environment while still
    exercising the real env-resolution path."""
    sizes = {"products": 120, "customers": 80, "orders": 100, "events": 150}
    env_keys = {
        "CORRUPTION_PROBABILITY_PRODUCT": "1.0",
        "CORRUPTION_PROBABILITY_CUSTOMER": "1.0",
        "CORRUPTION_PROBABILITY_ORDER": "1.0",
        "CORRUPTION_PROBABILITY_EVENT": "1.0",
    }
    import os as _os

    saved = {k: _os.environ.get(k) for k in env_keys}
    try:
        _os.environ.update(env_keys)
        settings = Settings()  # rates resolve from the env, not kwargs
    finally:
        for k, v in saved.items():
            if v is None:
                _os.environ.pop(k, None)
            else:
                _os.environ[k] = v
    assert settings.corruption_product_rate == 1.0  # the surface proof
    batch = (
        G.generate_batch(
            spark,
            sizes["products"],
            sizes["customers"],
            sizes["orders"],
            sizes["events"],
            seed=SEED,
            corruption_enabled=True,
            settings=settings,
        )
        .drop_indexes()
        .materialize()
    )
    signatures = {
        "products": (
            F.col("name").isNull()
            | (F.col("price") <= 0)
            | F.col("category").isNull()
            | (F.col("stock_quantity") <= 0)
            | (F.col("description") == "")
        ),
        "customers": (
            F.col("email").isNull()
            | (F.col("email") == "not-an-email")
            | F.col("name").isNull()
        ),
        "orders": (
            F.col("customer_id").isNull()
            | (F.size("items") == 0)
            | F.col("status").isNull()
            | (F.col("total") <= 0)
        ),
        "events": (
            F.col("customer_id").isNull() | F.col("event_type").isNull()
        ),
    }
    parents = {"customers": batch.customers}
    out: DataFrame | None = None
    for entity, df in [
        ("products", batch.products),
        ("customers", batch.customers),
        ("orders", batch.orders),
        ("events", batch.events),
    ]:
        rows = df.agg(
            F.count("*").alias("_rows"),
            F.sum(signatures[entity].cast("long")).alias("_sig"),
        ).select(
            F.lit(entity).alias("table_name"),
            F.explode(
                F.array(
                    F.struct(F.lit("rows").alias("metric"), F.col("_rows").alias("n")),
                    F.struct(
                        F.lit("corruption_signature").alias("metric"),
                        F.col("_sig").alias("n"),
                    ),
                )
            ).alias("_m"),
        ).select("table_name", "_m.metric", "_m.n")
        out = rows if out is None else out.unionByName(rows)
        if entity != "products":
            _, quarantine, _ = V.validate_entity(entity, df, parents)
            q = quarantine.agg(F.count("*").alias("n")).select(
                F.lit(entity).alias("table_name"),
                F.lit("quarantined").alias("metric"),
                F.col("n"),
            )
            out = out.unionByName(q)
    assert out is not None
    return out.orderBy("table_name", "metric")


# ---------------------------------------------------------------------------
# Contract oracles: these two queries return ANALYTIC constants — the
# requested batch shape, zero orphans (coherent generation), 50
# messages/topic with zero violations (lossless, key-safe, total-forced
# publish). The values are the operators' declared contract, derivable
# on paper without running either engine, so literal oracles give the
# driver a real value-hash gate (any row-drop, orphan, key-null, parse
# break, or total mismatch fails the hash). Generation internals stay
# hash-seeded and are additionally pinned bit-for-bit by
# tests/test_generate.py.
# ---------------------------------------------------------------------------

GEN_ORACLES: dict[str, str] = {
    # streaming_hll_users: a COMPUTED oracle — DuckDB rebuilds the
    # stream's distinct user sets from generate_series (HLL over a
    # multiset == HLL over its support) and runs the identical HLL:
    # md5 registers, exact integer fold, linear counting. Equality
    # proves the streaming cross-batch register merge is lossless.
    "streaming_hll_users": """
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
    """,
    # gen_corrupt_validate_metrics: FROZEN-CONTRACT oracle (golden
    # values): the per-rule quarantine counts are a deterministic
    # function of the fixed seed (f(seed, row-id) randomness), already
    # pinned bit-exactly by tests/test_corruptions.py — freezing them
    # here upgrades the driver's check from rows-only to value-hash.
    # Not paper-derivable like the analytic oracles above; any
    # intentional change to the corruption engine re-freezes this.
    "gen_corrupt_validate_metrics": """
        SELECT table_name, rule, CAST(n AS BIGINT) AS n_violations
        FROM (VALUES
            ('customers', 'customer_email_format', 37),
            ('customers', 'customer_email_not_null', 20),
            ('customers', 'customer_email_unique', 18),
            ('customers', 'customer_name_not_null', 15),
            ('events', 'event_customer_id_not_null', 29),
            ('events', 'event_type_not_null', 23),
            ('orders', 'order_customer_id_not_null', 10),
            ('orders', 'order_items_not_empty', 19),
            ('orders', 'order_status_not_null', 13),
            ('orders', 'order_total_non_negative', 11),
            ('products', 'product_category_not_null', 12),
            ('products', 'product_name_not_null', 11),
            ('products', 'product_price_non_negative', 9),
            ('products', 'product_stock_non_negative', 11)
        ) AS t(table_name, rule, n)
        ORDER BY table_name, rule
    """,
    # streaming_ingest_roundtrip: FROZEN-CONTRACT oracle (golden
    # values): the 30-row silver snapshot after the replayed ingest is
    # seed-deterministic (generator + fixture are fixed), pinned by
    # tests/test_streaming.py; frozen here for a driver value-hash.
    # cdc_bucket_refresh: analytic constants for the aggregate columns
    # (fixture arithmetic in the docstring); n_touched_buckets=3 is
    # FROZEN (pure function of xxhash64 over the fixed keys o01, o02,
    # o13 → buckets {0, 7, 3}); the two booleans are the tested
    # invariants themselves — byte-identity of untouched buckets and
    # refresh ≡ recompute — and must ALWAYS be true.
    "cdc_bucket_refresh": """
        SELECT CAST(11 AS BIGINT) AS n_pending,
               CAST(880.0 AS DOUBLE) AS pending_revenue,
               CAST(2 AS BIGINT) AS n_shipped,
               CAST(30.0 AS DOUBLE) AS shipped_revenue,
               CAST(3 AS BIGINT) AS n_touched_buckets,
               TRUE AS untouched_byte_identical,
               TRUE AS refresh_equals_recompute
    """,
    # streaming_outer_attribution: literal contract oracle — the three
    # rows (one matched pair, two watermark-evicted NULL-joined
    # purchases) are analytic constants of the fixture; the outer
    # eviction timing itself is engine state, not DuckDB-expressible.
    "streaming_outer_attribution": """
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
    """,
    "streaming_ingest_roundtrip": """
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
    """,
    # streaming_cms_user_counts: COMPUTED oracle — the stream's user
    # multiset rebuilt from generate_series, the identical all-integer
    # CMS (salted md5 columns, count/min folds). Equality proves the
    # journaled per-epoch delta sum is lossless.
    "streaming_cms_user_counts": """
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
    """,
    "gen_batch_shape": """
        SELECT CAST(10 AS BIGINT) AS n_products,
               CAST(10 AS BIGINT) AS n_customers,
               CAST(25 AS BIGINT) AS n_orders,
               CAST(50 AS BIGINT) AS n_events,
               CAST(0 AS BIGINT) AS orphan_orders,
               CAST(0 AS BIGINT) AS orphan_events,
               CAST(0 AS BIGINT) AS orphan_items
    """,
    # Both streaming fixtures return ANALYTIC constants too: the
    # windowed-KPI rows and the interval-join pair set are derived on
    # paper in their docstrings (event times are fixture literals; the
    # watermark/strict-< semantics decide membership), and the
    # monitoring aggregates follow from the fixture arithmetic (one
    # 30-row batch over 2 partitions → max offsets 14+14 = 28
    # committed, 0 failures, 1 group). The streaming MACHINERY can't
    # run in DuckDB, but its contracted output can be value-gated.
    "streaming_windowed_kpi": """
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
    """,
    "streaming_attribution_join": """
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
    """,
    # streaming_continuous_agg: analytic constants derived in the
    # docstring (batch arithmetic + the retract of the 4 status
    # transitions); the maintenance machinery itself is not
    # DuckDB-expressible but its contracted output is value-gated.
    # filesrc_quarantine_shape: ANALYTIC constants — 20 clean rows
    # survive with values intact, the 3 planted bad records quarantine,
    # and exactly the 2 parse failures carry raw text (derivation in
    # the query docstring).
    "filesrc_quarantine_shape": """
        SELECT CAST(20 AS BIGINT) AS n_typed,
               CAST(1 AS BIGINT) AS emails_roundtrip,
               CAST(3 AS BIGINT) AS n_quarantined,
               CAST(2 AS BIGINT) AS n_quarantined_with_raw
    """,
    # silver_compaction_report: rows/distinct-keys are ANALYTIC (200
    # live keys in, content preserved); the fragmentation counts are
    # FROZEN-CONTRACT (deterministic given xxhash64 bucketing + the
    # fixture's pinned 4-task AQE-off write: 16 buckets fragment into
    # 60 files, compaction leaves exactly one per bucket), double-
    # pinned by the compaction pytest.
    "silver_compaction_report": """
        SELECT CAST(16 AS BIGINT) AS n_fragmented_buckets,
               CAST(60 AS BIGINT) AS files_before,
               CAST(16 AS BIGINT) AS files_after,
               CAST(200 AS BIGINT) AS rows_before,
               CAST(200 AS BIGINT) AS rows_after,
               CAST(200 AS BIGINT) AS distinct_keys
    """,
    # streaming_late_drop_stats: analytic constants — two closed
    # windows carrying 2+1 view rows; exactly the one below-watermark
    # row is dropped by the state store (docstring derivation).
    "streaming_late_drop_stats": """
        SELECT CAST(2 AS BIGINT) AS n_windows_emitted,
               CAST(3 AS BIGINT) AS n_rows_emitted_total,
               CAST(1 AS BIGINT) AS n_late_dropped
    """,
    # streaming_session_windows: analytic constants — session extents
    # are fixture literals + the 30-min gap rule; emission requires the
    # run-2 advancer to pass each end (derived in the docstring).
    "streaming_session_windows": """
        SELECT customer_id,
               CAST(ss AS TIMESTAMP) AS session_start,
               CAST(se AS TIMESTAMP) AS session_end,
               CAST(n AS BIGINT) AS n_events
        FROM (VALUES
            ('c1', '2025-03-01 10:00:00', '2025-03-01 10:35:00', 2),
            ('c2', '2025-03-01 10:10:00', '2025-03-01 10:40:00', 1)
        ) AS t(customer_id, ss, se, n)
        ORDER BY customer_id
    """,
    "streaming_continuous_agg": """
        SELECT status,
               CAST(n AS BIGINT) AS n_orders,
               CAST(rev AS DOUBLE) AS total_revenue
        FROM (VALUES
            ('pending', 11, 1100.00),
            ('shipped', 4, 100.00)
        ) AS t(status, n, rev)
        ORDER BY status
    """,
    # pipeline_end_to_end: batch-shape counts are analytic; the
    # order_items 66 is FROZEN-CONTRACT (seed-deterministic generator
    # output, double-pinned by the pipeline pytest).
    "pipeline_end_to_end": """
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
    """,
    "monitoring_stats": """
        SELECT 'customers_silver' AS table_name,
               CAST(30 AS BIGINT) AS records_processed_total,
               CAST(0 AS BIGINT) AS records_failed_total,
               CAST(2 AS BIGINT) AS n_partitions,
               CAST(28 AS BIGINT) AS offsets_committed_sum,
               CAST(1 AS BIGINT) AS n_consumer_groups
    """,
    "streaming_embdedup": """
        SELECT CAST(batch_id AS BIGINT) AS batch_id,
               CAST(n AS BIGINT) AS n_vecs,
               CAST(nn AS BIGINT) AS n_novel,
               CAST(nd AS BIGINT) AS n_dup
        FROM (VALUES (0, 8, 8, 0), (1, 8, 4, 4))
             AS t(batch_id, n, nn, nd)
        ORDER BY batch_id
    """,
    "streaming_neardup_dedup": """
        SELECT CAST(batch_id AS BIGINT) AS batch_id,
               CAST(n AS BIGINT) AS n_docs,
               CAST(nn AS BIGINT) AS n_novel,
               CAST(nd AS BIGINT) AS n_dup
        FROM (VALUES (0, 10, 10, 0), (1, 10, 5, 5))
             AS t(batch_id, n, nn, nd)
        ORDER BY batch_id
    """,
    # streaming_funnel_cep: ANALYTIC constants — the three funnel
    # resolutions are derived on paper in the fixture docstring (c1
    # converts inside run 1; c2's and c3's event-time timeouts fire
    # once later advancers push the watermark past them; c4 stays open
    # and emits nothing; the late replay is dropped by the lateness
    # bound).
    "streaming_funnel_cep": """
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
    """,
    "produce_envelopes_shape": """
        SELECT topic,
               CAST(n AS BIGINT) AS n_msgs,
               CAST(0 AS BIGINT) AS n_null_keys,
               CAST(0 AS BIGINT) AS n_bad_payloads,
               CAST(0 AS BIGINT) AS n_total_mismatch
        FROM (VALUES ('customers', 50), ('events', 50),
                     ('orders', 50), ('products', 50)) AS t(topic, n)
        ORDER BY topic
    """,
}


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
    contract, literal oracle (the outer-eviction machinery is not
    DuckDB-expressible)."""
    import datetime as _dt
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming import ingest as I

    day = _dt.datetime(2025, 3, 1)

    def line(offset: int, hh: int, mm: int, etype: str, cust: str, eid: str) -> str:
        at = day + _dt.timedelta(hours=hh, minutes=mm)
        return _event_line(offset, at, etype, cust, eid)

    tmp = tempfile.mkdtemp(prefix="eng_ssouter_q_")
    try:
        src, sink, ckpt = (os.path.join(tmp, d) for d in ("src", "sink", "ckpt"))
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
        with _pinned_state_partitions(spark):
            for i, lines in enumerate(batches):
                FX.write_jsonl(src, f"b{i}.json", lines)
                q = I.run_attribution_join(
                    spark, src, sink, ckpt,
                    watermark="10 minutes", how="leftOuter",
                )
                _await(q)
        out = spark.read.parquet(sink)
        return out.orderBy("purchase_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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
    oracle; the per-run dim snapshot semantics are not
    DuckDB-expressible)."""
    import datetime as _dt
    import tempfile

    from ecommerce_realtime_pipeline_spark.streaming import ingest as I

    at = _dt.datetime(2025, 3, 1, 10, 0, 0)

    def line(offset: int, cust: str, eid: str) -> str:
        return _event_line(offset, at, "purchase", cust, eid)

    tmp = tempfile.mkdtemp(prefix="eng_dimjoin_q_")
    try:
        src, sink, ckpt, dim = (
            os.path.join(tmp, d) for d in ("src", "sink", "ckpt", "dim")
        )
        spark.createDataFrame(
            [("c1", "gold"), ("c2", "silver")], "customer_id string, segment string"
        ).write.mode("overwrite").parquet(dim)
        FX.write_jsonl(
            src,
            "b0.json",
            [line(1, "c1", "p1"), line(2, "c2", "p2"), line(3, "c9", "p3")],
        )
        _await(I.run_dim_enrichment(spark, src, dim, sink, ckpt))
        spark.createDataFrame(
            [("c1", "gold"), ("c2", "gold"), ("c3", "bronze")],
            "customer_id string, segment string",
        ).write.mode("overwrite").parquet(dim)
        FX.write_jsonl(
            src,
            "b1.json",
            [line(4, "c2", "p4"), line(5, "c3", "p5"), line(6, "c1", "p6")],
        )
        _await(I.run_dim_enrichment(spark, src, dim, sink, ckpt))
        out = spark.read.parquet(sink).select(
            "purchase_id", "customer_id", "segment"
        )
        return out.orderBy("purchase_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


GEN_ORACLES["streaming_dim_enrichment"] = """
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

# gen_corrupt_rates_sweep: ANALYTIC oracle — at forced rate 1.0 every
# generated row carries exactly one corruption signature, and every
# customer/order/event corruption violates a constraint (prices
# U(2,500) > 0, quantities >= 1 => totals > 0, so negations are
# strictly negative; NULLed fields hit NOT NULL rules; 'not-an-email'
# fails the format rule; empty items fail order_items_not_empty).
# Products are excluded from the quarantine row on paper grounds:
# empty_description violates no rule and negative_stock no-ops on a
# stock of 0. The constants below are the requested batch shape —
# derivable without running either engine.
GEN_ORACLES["gen_corrupt_rates_sweep"] = """
    SELECT table_name, metric, CAST(n AS BIGINT) AS n
    FROM (VALUES
        ('customers', 'corruption_signature', 80),
        ('customers', 'quarantined', 80),
        ('customers', 'rows', 80),
        ('events', 'corruption_signature', 150),
        ('events', 'quarantined', 150),
        ('events', 'rows', 150),
        ('orders', 'corruption_signature', 100),
        ('orders', 'quarantined', 100),
        ('orders', 'rows', 100),
        ('products', 'corruption_signature', 120),
        ('products', 'rows', 120)
    ) AS t(table_name, metric, n)
    ORDER BY table_name, metric
"""
